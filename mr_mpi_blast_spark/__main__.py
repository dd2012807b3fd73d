"""`python -m mr_mpi_blast_spark` — the reference's command line,
Spark-first.

The reference is launched as `mpirun -np N mrblast -task megablast
-evalue 1e-4 ...` with an `mrblast.ini` naming the query FASTA, the
formatted DB volume list and output prefix (doc/USERGUIDE:275-390;
mrblast.cpp:290-325 for the ini keys, :326-400 for the BLAST option
pass-through). This entry point accepts the SAME ini file unmodified
and the same `-option value` BLAST pass-through, replacing only what
MPI owned: parallelism comes from the Spark session (local[N] here, a
cluster master URL in production), DB "formatting" is the staged
content-keyed volume write, and the converters' output formats are the
sink modules.

Usage:
  python -m mr_mpi_blast_spark --ini mrblast.ini [--query q.fa]
      [--db db.fa] [--volumes 4] [--out-dir out]
      [--formats parquet,csv,bin,sqlite,hdf5]
      [--split LEN,OVERLAP]            # splitter.py analog
      [-task blastn -evalue 1e-4 -word_size 16 ...]   # BLAST+ opts

Query ids are serial uids in FASTA order (seqindexer.py analog); with
--split, windows get uid*100+chunk ids like the tutorial flow. The
.idx/.def sidecars the reference's seqindexer emits are written next
to the outputs.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import (BlastConfig, apply_blast_cli_opts,
                                       load_mrblast_ini)

_FORMATS = ("parquet", "csv", "bin", "sqlite", "hdf5")


def _parse_args(argv: list[str]):
    ap = argparse.ArgumentParser(
        prog="python -m mr_mpi_blast_spark",
        description="mr-mpi-blast, Spark-first: FASTA queries x "
                    "FASTA database -> ranked hits in the reference "
                    "converters' formats")
    ap.add_argument("--ini", help="reference mrblast.ini (unmodified)")
    ap.add_argument("--query", help="query FASTA (overrides ini "
                                    "QUERYFILENAME)")
    ap.add_argument("--db", help="database FASTA (the makeblastdb "
                                 "input; staged into --volumes parts)")
    ap.add_argument("--volumes", type=int, default=4,
                    help="database volume count (default 4)")
    ap.add_argument("--out-dir", default="mrblast_out")
    ap.add_argument("--formats", default="parquet,csv",
                    help=f"comma list of {','.join(_FORMATS)}")
    ap.add_argument("--split", default=None, metavar="LEN,OVERLAP",
                    help="shred queries into overlapping windows "
                         "(reference splitter.py), e.g. 1000,500")
    ap.add_argument("--stream-watch", metavar="DIR",
                    help="treat DIR as a stream of query PARQUET "
                         "files (qid, defline, defline_part, seq, "
                         "length) and drain it through the kernel "
                         "with exactly-once per-batch commits "
                         "(streaming/kernel_stream) instead of a "
                         "batch FASTA run; --query is not used")
    ap.add_argument("--kernel", choices=("builtin", "ncbi"),
                    default="builtin",
                    help="alignment kernel: builtin (hermetic "
                         "seed-and-extend) or ncbi (BLAST+ subprocess "
                         "per task — the reference's actual engine; "
                         "requires blastn/blastp + makeblastdb on "
                         "PATH)")
    # everything the parser does not know is BLAST+ pass-through
    # (apply_blast_cli_opts consumes the options it recognizes and
    # records the rest for the NCBI plugin's command line)
    return ap.parse_known_args(argv)


def _db_cache_key(db_fa: str, volumes: int) -> str:
    """Content key of a database FASTA split into ``volumes`` parts:
    path, mtime and size (stage_volumes' freshness rule)."""
    st = os.stat(db_fa)
    return (f"cli_db_v1:{os.path.abspath(db_fa)}:{st.st_mtime_ns}:"
            f"{st.st_size}:vols={volumes}")


def main(argv: list[str] | None = None) -> int:
    args, blast_opts = _parse_args(sys.argv[1:] if argv is None else argv)

    run = None
    prefix = "output"
    cfg = BlastConfig()
    if args.ini:
        run = load_mrblast_ini(args.ini, base=cfg)
        cfg, prefix = run.cfg, run.out_prefix
    cfg = apply_blast_cli_opts(cfg, blast_opts)

    query_fa = args.query or (run.query_file if run else None)
    if not args.stream_watch and (not query_fa
                                  or not os.path.exists(query_fa)):
        print("error: no query FASTA (--query or ini QUERYFILENAME)",
              file=sys.stderr)
        return 2
    db_fa = args.db or query_fa     # all-vs-all when no DB is given
    formats = [f for f in args.formats.split(",") if f]
    unknown = set(formats) - set(_FORMATS)
    if unknown:
        print(f"error: unknown formats {sorted(unknown)}", file=sys.stderr)
        return 2

    from mr_mpi_blast_spark.plans.pipeline import (attach_deflines,
                                                   run_search)
    from mr_mpi_blast_spark.session import get_spark
    from mr_mpi_blast_spark.sinks import (write_csv, write_legacy_bin,
                                          write_parquet, write_sqlite)
    from mr_mpi_blast_spark.sinks.writers import (write_hdf5,
                                                  write_search_strategy)
    from mr_mpi_blast_spark.sources.fasta import read_fasta
    from mr_mpi_blast_spark.sources.indexer import write_sidecars
    from mr_mpi_blast_spark.sources.splitter import split_sequences

    os.makedirs(args.out_dir, exist_ok=True)
    spark = get_spark("mrblast")

    if args.stream_watch:
        if not args.db or not os.path.exists(args.db):
            print("error: --stream-watch requires --db", file=sys.stderr)
            return 2
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType)

        from mr_mpi_blast_spark.streaming.kernel_stream import (
            read_stream_hits, search_query_stream)
        subjects = read_fasta(spark, args.db).select(
            F.col("defline_part").alias("sid"), "defline",
            F.concat(F.lit("vol"),
                     F.pmod(F.crc32("defline"), F.lit(args.volumes))
                     .cast("string")).alias("db_part"),
            "seq", F.length("seq").cast("int").alias("length"))
        qschema = StructType([
            StructField("qid", LongType()),
            StructField("defline", StringType()),
            StructField("defline_part", StringType()),
            StructField("seq", StringType()),
            StructField("length", IntegerType())])
        stream = (spark.readStream.schema(qschema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(args.stream_watch))
        out = os.path.join(args.out_dir, "stream_hits")
        ckpt = os.path.join(args.out_dir, "stream_ckpt")
        # content-derived cache_key: without it every micro-batch would
        # re-stage the full subject DB and rebuild subject indexes,
        # defeating the stage-once amortization the stream exists for
        search_query_stream(stream, subjects, cfg, out, ckpt,
                            cache_key=_db_cache_key(args.db, args.volumes))
        n = read_stream_hits(spark, out).count()
        print(f"{n} raw hits across committed batches -> {out}")
        return 0

    raw_q = read_fasta(spark, query_fa)
    if args.split:
        qlen, overlap = (int(x) for x in args.split.split(","))
        win = split_sequences(raw_q, query_len=qlen, overlap=overlap)
        queries = win.select(
            (F.col("qid") * 100 + F.col("chunk_idx")).alias("qid"),
            F.col("header").alias("defline"),
            F.col("header").alias("defline_part"),
            F.col("chunk").alias("seq"),
            F.col("chunk_len").cast("int").alias("length"))
    else:
        queries = raw_q.select(
            "qid", "defline", "defline_part", "seq",
            F.length("seq").cast("int").alias("length"))

    subjects = read_fasta(spark, db_fa).select(
        F.col("defline_part").alias("sid"), "defline",
        F.concat(F.lit("vol"),
                 F.pmod(F.crc32("defline"), F.lit(args.volumes))
                 .cast("string")).alias("db_part"),
        "seq", F.length("seq").cast("int").alias("length"))

    log_dir = None
    if run and run.timing:
        log_dir = os.path.join(args.out_dir, "ranklogs")
    if args.kernel == "ncbi":
        from mr_mpi_blast_spark.kernel.ncbi import run_search_ncbi
        hits = run_search_ncbi(queries, subjects, cfg).cache()
    else:
        # keyed like the stream path: the database is staged (and its
        # volumes formatted) once per content, not into a fresh dir
        # per run that nothing removes
        hits = run_search(queries, subjects, cfg, log_dir=log_dir,
                          cache_key=_db_cache_key(db_fa, args.volumes)
                          ).cache()
    n = hits.count()

    deflines = queries.select("qid", "defline")
    out = os.path.join(args.out_dir, prefix)
    write_sidecars(queries, out + ".idx", out + ".def")
    if "parquet" in formats:
        write_parquet(hits, out + ".parquet")
    if "csv" in formats:
        write_csv(hits, out + ".csv", deflines=deflines)
    if "sqlite" in formats:
        write_sqlite(hits, out + ".sqlite")
    if "bin" in formats:
        write_legacy_bin(attach_deflines(hits, deflines), out + ".bin",
                         classifier=cfg.is_classifier)
    if "hdf5" in formats:
        write_hdf5(hits, out + ".hd5", classifier=cfg.is_classifier)
    if run is None or run.opt_dump:
        write_search_strategy(cfg, args.out_dir, prefix=prefix)
    if log_dir:
        from mr_mpi_blast_spark.runlog import read_run_logs, run_summary
        run_summary(read_run_logs(spark, log_dir)) \
            .write.mode("overwrite").parquet(out + ".ranksummary.parquet")

    print(f"{n} hits -> {args.out_dir} ({', '.join(formats)})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
