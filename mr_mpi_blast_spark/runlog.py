"""Per-rank timing logs (W7) — the reference's TIMING=1 facility.

Reference: mrblast.cpp:454-483 opens ``{prefix}-{rank}-{logfname}``
per MPI rank and appends one comma-separated line per lifecycle event
("mr-mpi-blast starts", "db_loading starts", "blast call starts/ends",
mrblast.cpp:752-935), each carrying MPI_Wtime plus rusage wall/user/sys
microseconds; the blast-call lines add dbFileName, map-call number,
processor name and the query-block start id.

Spark analog: the rank is a Python worker process (host:pid). Each
worker appends the same line shape to ``{log_dir}/{prefix}-{host}-{pid}.log``
on its local disk — per-rank files on worker-local storage, exactly the
reference's model. ``timed_kernel`` wraps any pandas kernel with the
blast-call start/end pair; ``read_run_logs`` loads a log directory back
as a DataFrame so run summaries (A6/W7) are queryable. On a cluster,
point log_dir at shared storage or harvest worker-local files the way
the reference collects rank logs.
"""

from __future__ import annotations

import glob
import os
import resource
import socket
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# mrblast.cpp:906-914 field order for blast-call events:
# event,wtime,wall_us,user_us,sys_us,db,call_no,proc,block
_LOG_COLS = ["rank", "event", "wtime", "wall_us", "user_us", "sys_us",
             "db_part", "call_no", "proc", "block_id"]


def _rusage_us() -> tuple[int, int, int]:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    wall = int(time.time() * 1_000_000)
    user = int(ru.ru_utime * 1_000_000)
    sys_ = int(ru.ru_stime * 1_000_000)
    return wall, user, sys_


def log_event(log_dir: str, event: str, detail: str = "",
              prefix: str = "output") -> None:
    """Append one reference-shaped log line to this worker's rank log.
    Worker-local append — never a shuffle, never driver traffic."""
    host, pid = socket.gethostname(), os.getpid()
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"{prefix}-{host}-{pid}.log")
    wall, user, sys_ = _rusage_us()
    wtime = time.monotonic()   # MPI_Wtime analog: monotonic process clock
    with open(path, "a") as f:
        f.write(f"Rank:{host}:{pid} {event},{wtime},{wall},{user},{sys_}"
                + (f",{detail}" if detail else "") + "\n")


def timed_kernel(kernel, log_dir: str, prefix: str = "output"):
    """Wrap a pandas block-kernel with the reference's per-work-item
    'blast call starts/ends' pair (mrblast.cpp:900-935). The wrapped
    kernel logs the (db_part, block_id, rows-in) on start and the
    elapsed seconds + hits-out on end, then returns the kernel output
    unchanged."""
    host = socket.gethostname()
    calls = {"n": 0}

    def wrapped(pdf):
        part = str(pdf["db_part"].iat[0]) if "db_part" in pdf else "?"
        block = (str(pdf["block_id"].iat[0])
                 if "block_id" in pdf else "?")
        calls["n"] += 1
        log_event(log_dir, "blast call starts",
                  f"{part},{calls['n']},{host},{block},n_queries={len(pdf)}",
                  prefix=prefix)
        t0 = time.monotonic()
        out = kernel(pdf)
        log_event(log_dir, "blast call ends",
                  f"{time.monotonic() - t0},{part},{calls['n']},{host},"
                  f"{block},n_hits={len(out)}",
                  prefix=prefix)
        return out
    return wrapped


def read_run_logs(spark, log_dir: str) -> DataFrame:
    """Load a rank-log directory as (rank, event, wtime, wall_us,
    user_us, sys_us, detail) — the queryable form of the reference's
    per-rank timing files (its docs post-process them with scripts;
    here the same analysis is one DataFrame away). The rank files are
    listed here and passed by name: a glob path makes Spark's
    metadata-dir probe log a FileNotFoundException stack trace."""
    lines = spark.read.text(sorted(glob.glob(os.path.join(log_dir, "*.log"))))
    rank = F.regexp_extract("value", r"^Rank:([^ ]+) ", 1)
    rest = F.regexp_replace("value", r"^Rank:[^ ]+ ", "")
    parts = F.split(rest, ",")
    return lines.select(
        rank.alias("rank"),
        parts.getItem(0).alias("event"),
        parts.getItem(1).cast("double").alias("wtime"),
        parts.getItem(2).cast("long").alias("wall_us"),
        parts.getItem(3).cast("long").alias("user_us"),
        parts.getItem(4).cast("long").alias("sys_us"),
        F.array_join(F.slice(parts, 6, 64), ",").alias("detail"))


def run_summary(logs: DataFrame) -> DataFrame:
    """Per-rank totals over the blast-call pairs — the numbers the
    reference's 'Total wall-clock/process time' epilogue prints
    (mrblast.cpp:657-676), grouped by rank."""
    ends = logs.filter(F.col("event") == "blast call ends")
    elapsed = F.split(F.col("detail"), ",").getItem(0).cast("double")
    return (ends.withColumn("elapsed_s", elapsed)
                .groupBy("rank")
                .agg(F.count(F.lit(1)).alias("n_calls"),
                     F.round(F.sum("elapsed_s"), 6).alias("busy_s"),
                     F.max("user_us").alias("peak_user_us"),
                     F.max("sys_us").alias("peak_sys_us")))
