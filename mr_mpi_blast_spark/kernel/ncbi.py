"""NCBI BLAST subprocess kernel (the reference's real engine, gated).

The reference links the NCBI C++ toolkit and calls CLocalBlast in-process
(mrblast.cpp:700-1176). The Spark analog shells out to the blastn/blastp
binaries with ``-outfmt '6 std qlen'`` per query block — pluggable behind
the same applyInPandas seam as the builtin kernel (SURVEY §7.1).

Gating: this container has no BLAST+ install, so ``available()`` is
False and ``run_search_ncbi`` raises with guidance; the outfmt-6 parser
and the canonical-schema mapping are pure functions, unit-tested without
the binary.

Faithful semantics:
- ``-dbsize`` is always passed with the WHOLE database's residue count
  (S8, mrblast.cpp:404-433) so per-partition e-values are comparable;
- the per-worker makeblastdb result is cached by partition cache_key
  (S7 DB-handle reuse, mrblast.cpp:838-845);
- evalue threshold (F1) and word size pass through as CLI options
  exactly like the reference forwards its BLAST options
  (doc/USERGUIDE:46-66).
"""

from __future__ import annotations

import hashlib
import io
import os
import shutil
import subprocess
import tempfile

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from mr_mpi_blast_spark.config import BlastConfig

# -outfmt '6 std qlen': the 12 standard columns plus query length
OUTFMT6_COLS = ["qid", "sid", "pident", "length", "mismatch", "gapopen",
                "qstart", "qend", "sstart", "send", "evalue", "bitscore",
                "qlen"]

NCBI_HITS = StructType([
    StructField("qid", LongType(), False),
    StructField("sid", StringType(), False),
    StructField("pident", DoubleType(), False),
    StructField("length", IntegerType(), False),
    StructField("mismatch", IntegerType(), False),
    StructField("gapopen", IntegerType(), False),
    StructField("qstart", IntegerType(), False),
    StructField("qend", IntegerType(), False),
    StructField("sstart", IntegerType(), False),
    StructField("send", IntegerType(), False),
    StructField("evalue", DoubleType(), False),
    StructField("bitscore", DoubleType(), False),
    StructField("qlen", IntegerType(), False),
])

_DB_CACHE: dict = {}


def available(task: str = "blastn") -> bool:
    return (shutil.which(task) is not None
            and shutil.which("makeblastdb") is not None)


def parse_outfmt6(text: str) -> pd.DataFrame:
    """Parse ``-outfmt '6 std qlen'`` tab-separated output. Pure."""
    if not text.strip():
        return pd.DataFrame(columns=OUTFMT6_COLS)
    pdf = pd.read_csv(io.StringIO(text), sep="\t", header=None,
                      names=OUTFMT6_COLS)
    ints = ["qid", "length", "mismatch", "gapopen",
            "qstart", "qend", "sstart", "send", "qlen"]
    pdf[ints] = pdf[ints].astype("int64")
    pdf[["pident", "evalue", "bitscore"]] = \
        pdf[["pident", "evalue", "bitscore"]].astype("float64")
    return pdf


def to_canonical(hits: DataFrame, classifier: bool = False) -> DataFrame:
    """NCBI_HITS -> the engine's canonical HITS schema (SURVEY §1.3).
    BLAST reports 1-based inclusive coordinates and strand-swapped
    sstart/send already (the reference's P3/P4 happen inside NCBI);
    gaps here = gapopen (outfmt 6 std carries gap openings; pass
    ``gaps`` in a custom outfmt for per-base gap counts)."""
    base = hits.select(
        F.col("qid").cast("long"),
        F.lit(None).cast("string").alias("qdef"),
        F.col("sid"),
        F.col("pident").alias("ident"),
        F.col("length").alias("align_len"),
        F.col("mismatch").alias("mismatches"),
        F.col("gapopen").alias("gaps"),
        "qstart", "qend", "sstart", "send", "evalue", "bitscore",
        F.when(F.lit(classifier),
               F.round(F.col("pident") * F.col("length") / F.col("qlen"), 6))
         .alias("perc_ident"),
        F.when(F.lit(classifier),
               F.round((F.col("qend") - F.col("qstart")) * 100.0 / F.col("qlen"), 6))
         .alias("perc_cover"))
    return base


def _ensure_db(cache_key: str, loader, task: str) -> str:
    """makeblastdb once per worker per partition (S7 analog). ``loader``
    is a zero-arg callable yielding [(sid, seq)...] — only invoked on a
    cache miss, so staged-volume reads happen once per worker."""
    path = _DB_CACHE.get(cache_key)
    if path and os.path.exists(path + ".ndb") or path and os.path.exists(path + ".pdb"):
        return path
    dbtype = "nucl" if task == "blastn" else "prot"
    d = tempfile.mkdtemp(prefix="ncbi_db_")
    fasta = os.path.join(d, "db.fa")
    with open(fasta, "w") as f:
        for sid, seq in loader():
            f.write(f">{sid}\n{seq}\n")
    db = os.path.join(d, "db")
    subprocess.run(["makeblastdb", "-in", fasta, "-dbtype", dbtype,
                    "-out", db], check=True, capture_output=True)
    _DB_CACHE.clear()
    _DB_CACHE[cache_key] = db
    return db


def make_ncbi_block_kernel(db_dir: str, cfg: BlastConfig, gen: str,
                           dbsize: int):
    """Kernel factory for the (block x db_part) work-item groups — same
    seam as kernel.builtin.make_lazy_block_kernel, NCBI subprocess
    inside: the group's staged volume is read executor-side and fed to
    makeblastdb once per worker (no subject rows through the driver)."""
    task = cfg.task

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from mr_mpi_blast_spark.kernel.builtin import read_staged_part
        part = str(pdf["db_part"].iat[0])
        db = _ensure_db(f"{db_dir}:{part}:{gen}",
                        lambda: read_staged_part(db_dir, part), task)
        with tempfile.NamedTemporaryFile("w", suffix=".fa", delete=False) as f:
            for qid, seq in zip(pdf["qid"], pdf["seq"]):
                f.write(f">{qid}\n{seq}\n")
            qpath = f.name
        try:
            cmd = [task, "-db", db, "-query", qpath,
                   "-outfmt", "6 std qlen",
                   "-evalue", str(cfg.evalue),
                   "-dbsize", str(dbsize)]
            if task == "blastn":
                cmd += ["-word_size", str(cfg.word_size),
                        "-reward", str(cfg.reward),
                        "-penalty", str(cfg.penalty)]
                if cfg.dust is not None:
                    cmd += ["-dust", cfg.dust]
            else:
                cmd += ["-matrix", cfg.matrix]
                if cfg.seg is not None:
                    cmd += ["-seg", cfg.seg]
            # F3 masking / seeding options forwarded verbatim
            # (doc/USERGUIDE:47-50); None = let BLAST+ use its default
            if cfg.soft_masking is not None:
                cmd += ["-soft_masking",
                        "true" if cfg.soft_masking else "false"]
            if cfg.lcase_masking:
                cmd += ["-lcase_masking"]
            if cfg.window_size is not None:
                cmd += ["-window_size", str(cfg.window_size)]
            if cfg.max_target_seqs > 0:
                cmd += ["-max_target_seqs", str(cfg.max_target_seqs)]
            # the reference forwards "most NCBI options" untouched
            # (doc/USERGUIDE:53-60) — extra_opts is that pass-through
            cmd += list(cfg.extra_opts)
            res = subprocess.run(cmd, check=True, capture_output=True, text=True)
            return parse_outfmt6(res.stdout)
        finally:
            os.unlink(qpath)
    return kernel


def run_search_ncbi(queries: DataFrame, subjects: DataFrame,
                    cfg: BlastConfig | None = None) -> DataFrame:
    """End-to-end search with the NCBI kernel: same plan shape as
    plans.pipeline.run_search (blocks x partitions, broadcast subjects,
    windowed top-k), final statistics computed by BLAST itself."""
    cfg = cfg or BlastConfig()
    if not available(cfg.task):
        raise NotImplementedError(
            f"NCBI BLAST+ ({cfg.task}/makeblastdb) not on PATH; install "
            "BLAST+ or use the builtin kernel (plans.pipeline.run_search)")

    from mr_mpi_blast_spark.operators.blocks import assign_blocks
    from mr_mpi_blast_spark.operators.topk import top_hits
    from mr_mpi_blast_spark.plans.pipeline import staged_parts, stage_volumes

    blocked = assign_blocks(queries, cfg.block_size).select(
        "block_id", "qid", "seq")
    db_dir, residues, _n_seqs = stage_volumes(subjects)
    dbsize = cfg.dbsize if cfg.dbsize is not None else residues
    work = blocked.crossJoin(F.broadcast(staged_parts(queries.sparkSession, db_dir)))
    # the makeblastdb cache keys on the staging identity (a fresh dir
    # per call, so a later run's same-named db_part never hits a stale
    # result) and the database type, as run_kernel_raw's gen does
    gen = hashlib.md5(f"{db_dir}|{cfg.task}".encode()).hexdigest()[:12]
    kernel = make_ncbi_block_kernel(db_dir, cfg, gen=gen, dbsize=dbsize)
    raw = work.groupBy("block_id", "db_part").applyInPandas(
        kernel, schema=NCBI_HITS)
    hits = to_canonical(raw, classifier=cfg.is_classifier)
    hits = hits.filter(F.col("evalue") <= cfg.evalue)
    return top_hits(hits, cfg.num_hit_cutoff)
