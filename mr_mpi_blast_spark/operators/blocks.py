"""Query-block builder (S5) and work-item generation (J1).

Reference: mrblast.cpp:144-161 walks the query index accumulating base
pairs and cuts a block each time the running sum reaches BLOCKSIZE; the
work-item list is then the cross product blocks x DB partitions
(mrblast.cpp:167-183, doc/USERGUIDE:15-18) — that cross product IS the
parallelization strategy.

Spark expression: block_id = floor(exclusive-cumsum(length) / blocksize).
A naive ``Window.orderBy(qid)`` running sum is a single-task global sort
— fine at test scale, fatal at 100 TB. We compute the prefix sum
hierarchically instead:

  1. bucket queries by a deterministic qid range split (~n_buckets),
  2. aggregate per-bucket totals (parallel, one narrow shuffle),
  3. collect the tiny bucket-total vector, prefix-scan it on the driver
     (this is the reference's MPI_Allreduce moment, mrblast.cpp:556),
  4. broadcast-join the bucket offsets back and window only *within*
     each bucket.

Every stage is parallel; driver traffic is O(n_buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _equal_count_packing(hist: dict[int, tuple[int, int]], target: int,
                         n_buckets: int,
                         ) -> tuple[list[tuple[int, int]],
                                    list[tuple[int, int]]]:
    """Greedy equal-ROW-COUNT packing of contiguous fine cells into
    coarse buckets, plus each coarse bucket's exclusive VALUE prefix.

    hist: fine_cell -> (value_sum, row_count). Returns
    (fine->coarse map, [(coarse, exclusive_value_offset)]). Pure,
    deterministic — unit-tested directly with clustered histograms."""
    fine_map, coarse_offs = [], []
    coarse, acc_val, acc_rows = 0, 0, 0
    for b in sorted(hist):
        v, c = hist[b]
        if acc_rows >= target and coarse < n_buckets - 1:
            coarse += 1
            acc_rows = 0
        if len(coarse_offs) <= coarse:
            # first cell of this coarse bucket: its exclusive prefix
            coarse_offs.append((coarse, acc_val))
        fine_map.append((b, coarse))
        acc_val += v
        acc_rows += c
    return fine_map, coarse_offs


# Content-addressed histogram/pack cache: the fine histogram and its
# equal-count packing are pure functions of (input rows, value column,
# lead order column, n_buckets) — per call they cost one min/max job +
# one small aggregate job + a driver pack, constant in data size but
# paid by EVERY invocation. Callers that can name their input's
# content (e.g. entry queries keyed on the source parquet's
# mtime/size) pass ``cache_key`` and later invocations skip both jobs.
# A wrong key would corrupt results (the offsets must match the actual
# rows), so the contract is strict: the key must change whenever the
# input rows OR the value derivation change — derive it from source
# identity the way entry_queries._src_key does.
_HIST_CACHE: dict = {}


def ordered_prefix_sum(df: DataFrame, value: Column | str,
                       order_cols: list[str], out_col: str,
                       n_buckets: int = 1024,
                       cache_key: str | None = None) -> DataFrame:
    """Exclusive prefix sum of ``value`` in ``order_cols`` order without
    a global single-task sort:

      1. bucket rows by a deterministic range split of the leading
         (numeric) order column,
      2. aggregate per-bucket totals (parallel, one narrow shuffle),
      3. collect the tiny bucket-total vector, prefix-scan it on the
         driver (the reference's MPI_Allreduce moment, mrblast.cpp:556),
      4. broadcast-join the bucket offsets back and window only
         *within* each bucket.

    Every stage is parallel; driver traffic is O(n_buckets x fine
    factor). The order defined by ``order_cols`` must be total (unique
    keys) for the result to be deterministic.

    Skew hardening: bucket boundaries are HISTOGRAM-EQUALIZED, not
    fixed-width. Rows first land in ~64x n_buckets fine arithmetic
    cells; the driver walks the (tiny) fine histogram in key order and
    greedily packs contiguous cells into coarse buckets of ~equal ROW
    COUNT. A clustered id domain (99% of ids in 1% of the key range)
    therefore still spreads across ~n_buckets windows — a fixed-width
    split would funnel it into one. Residual bound: ids clustered
    inside a single fine cell (span < range/65536) still share a
    window; the fine factor caps that hotspot at ~1/65536 of the key
    range, and duplicates-free integer keys in a cell of width w can
    hold at most w rows.
    """
    spark = df.sparkSession
    value = F.col(value) if isinstance(value, str) else value
    lead = order_cols[0]
    # the key deliberately excludes the lead column NAME: the caller's
    # key must already pin the ordering VALUES (see contract above), so
    # two queries ordering the same values under different column names
    # (query_blocks' qid vs doc_packing's doc_id) share one pack
    ck = (cache_key, n_buckets) if cache_key is not None else None
    if ck is not None and ck in _HIST_CACHE:
        lo, width, fine_map, coarse_offs = _HIST_CACHE[ck]
    else:
        lo, hi = df.agg(F.min(lead), F.max(lead)).first()
        if lo is None:
            return df.withColumn(out_col, F.lit(None).cast("long"))
        n_fine = n_buckets * 64
        width = max(1, (int(hi) - int(lo)) // n_fine + 1)
        q0 = df.withColumn(
            "_fine", F.floor((F.col(lead) - F.lit(int(lo))) / F.lit(width)))
        hist = {int(r[0]): (int(r[1]), int(r[2]))
                for r in q0.groupBy("_fine").agg(F.sum(value),
                                                 F.count(F.lit(1))).collect()}
        total_rows = sum(c for _, c in hist.values())
        target = max(1, total_rows // n_buckets)
        # equal-count packing of contiguous fine cells + exclusive value
        # prefix per coarse bucket (the reference's Allreduce moment)
        fine_map, coarse_offs = _equal_count_packing(hist, target, n_buckets)
        if ck is not None:
            _HIST_CACHE[ck] = (lo, width, fine_map, coarse_offs)
    fine = F.floor((F.col(lead) - F.lit(int(lo))) / F.lit(width))
    q = df.withColumn("_fine", fine)
    # the local-relation DataFrame is itself cached per session: its
    # Arrow serialization + analysis cost is per-call driver overhead
    # (plan-sized, but paid thrice per bench rep set). Keyed by
    # applicationId, not id(spark) — a recycled object address could
    # alias a DataFrame bound to a stopped session
    dfk = ((ck, spark.sparkContext.applicationId)
           if ck is not None else None)
    off_df = _HIST_CACHE.get(("off_df", dfk)) if dfk is not None else None
    if off_df is None:
        # join fine->coarse with coarse->offset HERE, in plain Python
        # (both plan-sized): one local relation broadcast per query,
        # instead of a two-sided shuffle join of two local relations
        # re-executing inside every run (measured: 3 exchanges and 4
        # extra jobs per warm call at sf0.1)
        off_of = dict(coarse_offs)
        off_df = spark.createDataFrame(
            [(f, c, off_of[c]) for f, c in fine_map],
            ["_fine", "_coarse", "_offset"])
        if dfk is not None:
            # evict off_df entries pinned to stopped sessions: their
            # DataFrames hold dead JVM plan state and can never be hit
            # again (the appId is part of the key), so a long-lived
            # process cycling sessions would otherwise leak them
            app = spark.sparkContext.applicationId
            for k in [k for k in _HIST_CACHE
                      if isinstance(k, tuple) and k[0] == "off_df"
                      and k[1] is not None and k[1][1] != app]:
                del _HIST_CACHE[k]
            _HIST_CACHE[("off_df", dfk)] = off_df

    w = (Window.partitionBy("_coarse").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    run = F.col("_offset") + F.coalesce(F.sum(value).over(w), F.lit(0))
    return (q.join(F.broadcast(off_df), "_fine")
             .withColumn(out_col, run.cast("long"))
             .drop("_fine", "_coarse", "_offset"))


def serial_number(df: DataFrame, order_cols: list[str], out_col: str,
                  start: int = 1, n_buckets: int = 1024,
                  cache_key: str | None = None) -> DataFrame:
    """Scalable ``row_number() OVER (ORDER BY order_cols)``: an
    exclusive prefix count via ordered_prefix_sum plus ``start`` —
    the hierarchical form of the reference's serial uid assignment
    (seqindexer.py:166-197) that never funnels through one task."""
    out = ordered_prefix_sum(df, F.lit(1), order_cols, out_col,
                             n_buckets=n_buckets, cache_key=cache_key)
    return out.withColumn(out_col, (F.col(out_col) + F.lit(start)).cast("long"))


def assign_blocks(queries: DataFrame, blocksize: int,
                  id_col: str = "qid", length_col: str = "length",
                  n_buckets: int = 1024,
                  cache_key: str | None = None) -> DataFrame:
    """Add ``block_id``: contiguous qid ranges covering >= blocksize bp.

    Mirrors mrblast.cpp:144-161 (greedy cut when accumulated bp reaches
    BLOCKSIZE) as floor(exclusive_cumsum(length) / blocksize) — identical
    boundaries for the same qid ordering.
    """
    out = ordered_prefix_sum(queries, length_col, [id_col], "_prev_bp",
                             n_buckets=n_buckets, cache_key=cache_key)
    return (out.withColumn("block_id",
                           F.floor(F.col("_prev_bp") / F.lit(blocksize))
                            .cast("long"))
               .drop("_prev_bp"))


def block_bounds(queries_with_blocks: DataFrame,
                 id_col: str = "qid") -> DataFrame:
    """One row per block: (block_id, qid_start, qid_end, n_queries, total_bp).

    qid_start mirrors structWorkItem_t.qIdStart (mrblast.hpp:190-195).
    """
    return (queries_with_blocks
            .groupBy("block_id")
            .agg(F.min(id_col).alias("qid_start"),
                 F.max(id_col).alias("qid_end"),
                 F.count(F.lit(1)).alias("n_queries"),
                 F.sum("length").alias("total_bp")))
