"""Tabular sinks (SURVEY §2.9 W2-W6).

The reference converts per-rank binary hit files offline into CSV
(tools/converter/load_csv.py), SQLite (load_sql.py) and HDF5
(load_hd5.py), optionally merge-joining the query defline sidecar on
qId (load_csv.py:104-142) and printing floats as ``%.3g``
(load_csv.py:144-147).

Spark-first translation:

- the defline merge-join becomes a hash join
  (``plans.pipeline.attach_deflines``, the optimizer picks broadcast or
  sort-merge);
- CSV/parquet writes are distributed, one file per task ≙ one file per
  rank;
- single-file database sinks (SQLite/DuckDB) are inherently
  driver-bound — fine for final top-k result sets, wrong for raw hits
  at scale; at 100 TB the columnar parquet sink (``write_parquet``,
  partitioned by a key) is the real output and a warehouse load reads
  those files. DuckDB ingests the parquet directly (zero row transfer
  through the driver); SQLite receives Arrow-batched inserts.
"""

from __future__ import annotations

import json
import os
import sqlite3
from dataclasses import asdict

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.plans.pipeline import attach_deflines

_FLOAT_COLS = ("ident", "evalue", "bitscore", "perc_ident", "perc_cover")


def _g3():
    # C printf %.3g (load_csv.py:144-147); Python's %-format matches C.
    # Built lazily: pandas_udf registration needs an active session.
    @pandas_udf("string")
    def g3(col: pd.Series) -> pd.Series:
        return col.map(
            lambda v: None if v is None or pd.isna(v) else "%.3g" % v)
    return g3


def write_csv(hits: DataFrame, path: str, *, deflines: DataFrame | None = None,
              g3: bool = True, include_qdef: bool = True,
              include_qid: bool = True, classifier: bool = False,
              header: bool = True, mode: str = "overwrite") -> None:
    """W2: CSV sink with the converter's formatting contract —
    optional qid column (-n), optional defline column (-d), ``%.3g``
    float rendering (load_csv.py:124-152)."""
    df = attach_deflines(hits, deflines) if deflines is not None else hits
    cols = ["qid"] if include_qid else []
    if include_qdef:
        cols.append("qdef")
    cols += ["sid", "ident", "align_len", "mismatches", "gaps",
             "qstart", "qend", "sstart", "send", "evalue", "bitscore"]
    if classifier:
        cols += ["perc_ident", "perc_cover"]
    df = df.select(*cols)
    if g3:
        fmt = _g3()
        for c in _FLOAT_COLS:
            if c in cols:
                df = df.withColumn(c, fmt(F.col(c)))
    df.write.mode(mode).option("header", header).csv(path)


def write_parquet(df: DataFrame, path: str, *,
                  partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """W1+W4: the native columnar sink. Per-task files stand in for the
    reference's per-rank files (mrblast.cpp:615-621); partitioning by
    e.g. db_part or a qid bucket gives partition-pruned downstream
    scans."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _sqlite_ddl(table: str, classifier: bool) -> str:
    # Mirrors tools/converter/load_sql.py:98-114.
    extra = ",\n  percIdent DOUBLE, percCover DOUBLE" if classifier else ""
    return f"""CREATE TABLE IF NOT EXISTS {table} (
  qId BIGINT, qIdDef VARCHAR(40), sId VARCHAR(40), dIdent DOUBLE,
  alignLen INT, nMismatches INT, nGaps INT,
  qStart INT, qEnd INT, sStart INT, sEnd INT,
  eValue DOUBLE, bitScore DOUBLE{extra})"""


def write_sqlite(hits: DataFrame, db_path: str, *, table: str = "hits",
                 classifier: bool = False, batch_rows: int = 50_000) -> int:
    """W3: SQLite sink (load_sql.py DDL). Single-file DB = single
    writer; rows stream through the driver in Arrow batches. Returns
    inserted row count.

    Scale boundary (by design): SQLite is a single-writer file
    format, so this sink funnels rows through the driver — faithful
    to the reference's single-process converter and bounded in MEMORY
    (one batch held at a time) but not in TIME; it is a compat/export
    sink for result-sized tables (filtered hits, summaries), not a
    data-path sink. At scale, write parquet (write_hits_parquet —
    distributed, the engine's native sink) or write_duckdb (parquet
    stage + single bulk CTAS, no per-row driver traffic)."""
    cols = ["qid", "qdef", "sid", "ident", "align_len", "mismatches",
            "gaps", "qstart", "qend", "sstart", "send", "evalue", "bitscore"]
    if classifier:
        cols += ["perc_ident", "perc_cover"]
    proj = hits.select(*cols)
    placeholders = ",".join("?" * len(cols))
    n = 0
    con = sqlite3.connect(db_path)
    try:
        con.execute(_sqlite_ddl(table, classifier))
        buf: list[tuple] = []
        for row in proj.toLocalIterator(prefetchPartitions=True):
            buf.append(tuple(row))
            if len(buf) >= batch_rows:
                con.executemany(f"INSERT INTO {table} VALUES ({placeholders})", buf)
                n += len(buf)
                buf = []
        if buf:
            con.executemany(f"INSERT INTO {table} VALUES ({placeholders})", buf)
            n += len(buf)
        con.commit()
    finally:
        con.close()
    return n


def write_duckdb(df: DataFrame, db_path: str, *, table: str = "hits",
                 tmp_dir: str | None = None) -> int:
    """W3 (modern analog): stage as parquet (distributed write), then a
    single DuckDB ``CREATE TABLE ... AS SELECT`` over the files — no
    rows pass through the Spark driver. Returns row count."""
    import duckdb

    stage = tmp_dir or (db_path + ".stage.parquet")
    df.write.mode("overwrite").parquet(stage)
    con = duckdb.connect(db_path)
    try:
        con.execute(f"CREATE OR REPLACE TABLE {table} AS "
                    f"SELECT * FROM read_parquet('{stage}/*.parquet')")
        return con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    finally:
        con.close()


def write_search_strategy(cfg: BlastConfig, out_dir: str,
                          prefix: str = "output") -> str:
    """W6: dump the resolved kernel options once per run
    (mrblast.cpp:738-744 writes ``{prefix}-search_strategy.txt``)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{prefix}-search_strategy.txt")
    with open(path, "w") as f:
        json.dump(asdict(cfg), f, indent=2, sort_keys=True)
        f.write("\n")
    return path


# /blhits/blhitstab column layout, load_hd5.py:62-75 (classifier
# variant appends percIdent/percCover, load_hd5_classifier.py).
_HD5_FIELDS = [("qId", "u8", 8), ("qIdDef", "S", 40), ("sId", "S", 40),
               ("dIdent", "f8", 8), ("alignLen", "u4", 4),
               ("nMismatches", "u4", 4), ("nGaps", "u4", 4),
               ("qStart", "u4", 4), ("qEnd", "u4", 4),
               ("sStart", "u4", 4), ("sEnd", "u4", 4),
               ("eValue", "f8", 8), ("bitScore", "f8", 8)]
_HD5_CLASSIFIER = _HD5_FIELDS + [("percIdent", "f8", 8),
                                 ("percCover", "f8", 8)]

_HD5_SRC = {"qId": "qid", "qIdDef": "qdef", "sId": "sid", "dIdent": "ident",
            "alignLen": "align_len", "nMismatches": "mismatches",
            "nGaps": "gaps", "qStart": "qstart", "qEnd": "qend",
            "sStart": "sstart", "sEnd": "send", "eValue": "evalue",
            "bitScore": "bitscore", "percIdent": "perc_ident",
            "percCover": "perc_cover"}


def write_hdf5(hits: DataFrame, path: str, *, table: str = "blhitstab",
               classifier: bool = False, batch_rows: int = 65536) -> int:
    """W4: HDF5 sink — one .hd5 file with the converter's PyTables
    layout ``/blhits/blhitstab`` (load_hd5.py:62-92), written by the
    built-in spec-level writer (sinks/hdf5_minimal.py).

    Like the reference converter this is a single-file export: rows
    stream to the driver in batches (toLocalIterator), so driver
    memory holds one batch, not the table. The count() for the
    contiguous dataspace re-executes the plan — hits must be
    deterministic (every pipeline output here is).

    Scale boundary (by design): HDF5 here is a single-writer export
    format — the same driver-funnel shape as write_sqlite, bounded in
    memory but serial in throughput. Use it for result-sized exports
    consumed by reference-era tooling; parquet is the scale sink."""
    import numpy as np

    fields = _HD5_CLASSIFIER if classifier else _HD5_FIELDS
    cols = [_HD5_SRC[f[0]] for f in fields]
    proj = hits.select(*[
        F.coalesce(F.col(c), F.lit("")).alias(c) if c in ("qdef", "sid")
        else F.coalesce(F.col(c), F.lit(0.0)).alias(c)
        if c in ("ident", "evalue", "bitscore", "perc_ident", "perc_cover")
        else F.col(c) for c in cols])

    n_rows = proj.count()
    np_dtype = np.dtype([(f[0], f"S{f[2]}" if f[1] == "S" else f"<{f[1]}")
                         for f in fields])

    def batches():
        buf = []
        for row in proj.toLocalIterator(prefetchPartitions=True):
            buf.append(tuple(row))
            if len(buf) >= batch_rows:
                yield np.array(buf, dtype=np_dtype).tobytes()
                buf.clear()
        if buf:
            yield np.array(buf, dtype=np_dtype).tobytes()

    from mr_mpi_blast_spark.sinks.hdf5_minimal import write_compound_hdf5
    return write_compound_hdf5(path, "blhits", table, fields,
                               batches(), n_rows)
