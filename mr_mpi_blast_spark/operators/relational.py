"""The MapReduce-MPI engine surface (SURVEY §2.8) as DataFrame ops.

The reference engine (mrmpi/mapreduce.cpp) exposes a general KV/KMV
dataflow operator set. Each has a one-line Spark equivalent; this module
exists so a user of the reference can find every engine op by name, and
so tests can pin the mapping. Nothing here fights Catalyst: these are
thin facades, not re-implementations — Spark already ships the shuffle
(aggregate/E4), spill (out-of-core pages), and sort (sort_keys/O1) the
reference hand-rolls.

Reference locations: aggregate mapreduce.cpp:406-570,
collate 712-741, clone 630-660, collapse 682-710, gather 889-1045,
scrunch 2346-2374, add 374-404, sort_keys 2381-2433, map 1047-1934,
scan 2207-2344. Ops whose Spark form is the bare call carry no
facade: convert (857-887) is ``groupBy``, reduce (2054-2150) is
``groupBy(...).applyInPandas``, compress (743-855) is ``groupBy.agg``
(Catalyst's partial aggregate is the local combiner), broadcast
(572-637) is ``F.broadcast``, and the row-balanced aggregate is
``repartitionByRange``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def aggregate_by(df: DataFrame, *keys: str, num_partitions: int | None = None) -> DataFrame:
    """E4 ``aggregate(hash)`` — hash-shuffle rows so equal keys co-locate.

    The reference's irregular all-to-all with a Jenkins hash
    (hash.cpp:129); in Spark a plain hash repartition. Skew handling is
    AQE's job (spark.sql.adaptive.skewJoin), replacing the reference's
    two-phase histogram + explicit key->rank map (mrblast.cpp:556-575).
    """
    cols = [F.col(k) for k in keys]
    return df.repartition(num_partitions, *cols) if num_partitions else df.repartition(*cols)


def sort_keys(df: DataFrame, *order: Column) -> DataFrame:
    """O1 ``sort_keys`` — per-partition (per-rank) sort, no exchange
    (mapreduce.cpp:2381-2433; out-of-core merge handled by Tungsten)."""
    return df.sortWithinPartitions(*order)


def collate(df: DataFrame, *keys: str):
    """E6 ``collate`` = aggregate + convert (mapreduce.cpp:712-741).
    Spark's groupBy already implies the exchange, so this is convert."""
    return df.groupBy(*keys)


def collapse(df: DataFrame, aggs: Sequence[Column]) -> DataFrame:
    """E10 ``collapse`` — everything under one key (mapreduce.cpp:682-710):
    a global aggregate."""
    return df.agg(*aggs)


def gather(df: DataFrame, num_partitions: int) -> DataFrame:
    """E11 ``gather(p)`` — concentrate onto p tasks without a full
    shuffle (mapreduce.cpp:889-1045) = coalesce."""
    return df.coalesce(num_partitions)


def scrunch(df: DataFrame, num_partitions: int, aggs: Sequence[Column]) -> DataFrame:
    """E13 ``scrunch(p,key)`` = gather + collapse (mapreduce.cpp:2346-2374)."""
    return df.coalesce(num_partitions).agg(*aggs)


def add_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """E14 ``add`` — append another MR object's KVs = UNION ALL
    (mapreduce.cpp:374-404)."""
    return a.unionByName(b)


def clone_identity(df: DataFrame, *keys: str):
    """E9 ``clone`` — KV -> KMV with one value per key
    (mapreduce.cpp:630-660); an identity grouping."""
    return df.groupBy(*keys)


def scan_foreach(df: DataFrame, fn: Callable) -> None:
    """E15 ``scan`` — read-only iteration, no new KV
    (mapreduce.cpp:2207-2344)."""
    df.foreach(fn)


def snapshot(df: DataFrame) -> DataFrame:
    """E17 ``copy`` — reusable snapshot (mapreduce.cpp:297-352) = cache."""
    return df.cache()


def kv_stats(df: DataFrame, name: str, *metrics: Column) -> DataFrame:
    """E16 ``kv_stats``/``cummulative_stats`` (mapreduce.cpp:3238-3371)
    as an ``observe`` — metrics ride the job instead of extra passes."""
    return df.observe(name, *metrics)
