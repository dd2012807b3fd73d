"""FASTA reader/writer, splitter, indexer (SURVEY §2.1 S1-S3).

Mirrors the reference's tool smoke tests (tools/seqindexer/examples/
test.sh, tools/splitter/examples/test.sh) plus the reassembly property
from SURVEY §5(c)."""

import textwrap

import pytest
from pyspark.sql import functions as F

from mr_mpi_blast_spark.sources.fasta import read_fasta, write_fasta
from mr_mpi_blast_spark.sources.indexer import defline_table, index_table
from mr_mpi_blast_spark.sources.splitter import split_sequences

FASTA = textwrap.dedent("""\
    >gi|111| first sequence here
    ACGTACGTAC
    GTACGT
    >seq_two description words
    GGGGCCCCAAAA

    >seq_three
    acgtn
    """)


@pytest.fixture(scope="module")
def fasta_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("fa") / "q.fa"
    p.write_text(FASTA)
    return str(p)


def test_read_fasta_records(spark, fasta_file):
    rows = read_fasta(spark, fasta_file).orderBy("qid").collect()
    assert [r.qid for r in rows] == [1, 2, 3]
    assert rows[0].defline == "gi|111| first sequence here"
    assert rows[0].defline_part == "gi|111|"
    assert rows[0].seq == "ACGTACGTACGTACGT"      # multi-line joined
    assert rows[0].length == 16
    assert rows[2].seq == "ACGTN"                 # uppercased
    assert rows[1].length == 12


def test_read_fasta_qid_start(spark, fasta_file):
    rows = read_fasta(spark, fasta_file, qid_start=100).orderBy("qid").collect()
    assert [r.qid for r in rows] == [100, 101, 102]


def test_fasta_roundtrip(spark, fasta_file, tmp_path):
    df = read_fasta(spark, fasta_file)
    out = str(tmp_path / "out_fa")
    write_fasta(df, out)
    back = read_fasta(spark, out + "/part-*")
    a = {(r.defline, r.seq) for r in df.collect()}
    b = {(r.defline, r.seq) for r in back.collect()}
    assert a == b


def _mk_queries(spark, seqs):
    return spark.createDataFrame(
        [(i + 1, f"q{i+1}", f"q{i+1}", s, len(s)) for i, s in enumerate(seqs)],
        "qid long, defline string, defline_part string, seq string, length int")


def test_splitter_cases_match_reference_loop(spark):
    """Compare against a direct transcription of the reference loop
    semantics (splitter.py:151-182) on assorted lengths."""
    seqs = ["A" * 2500, "C" * 1000, "G" * 999, "T" * 1001, "A" * 400,
            "ACGT" * 700]
    L, OVL = 1000, 500
    got = {(r.qid, r.chunk_start, r.chunk_end, r["case"])
           for r in split_sequences(_mk_queries(spark, seqs), L, OVL).collect()}

    expected = set()
    for qi, s in enumerate(seqs, start=1):
        start, n = 0, len(s)
        while True:
            end = start + L
            if start == 0 and end < n:
                expected.add((qi, start, end, 0))
            elif start == 0:
                expected.add((qi, start, n, 1)); break
            elif end < n:
                expected.add((qi, start, end, 2))
            else:
                expected.add((qi, start, n, 3)); break
            start = end - OVL
    assert got == expected


def test_splitter_reassembly_property(spark):
    """Windows overlap by OVL and cover the source (SURVEY §5c)."""
    seqs = ["ACGTTGCA" * 321]
    df = split_sequences(_mk_queries(spark, seqs), 100, 40).orderBy("chunk_idx")
    chunks = df.collect()
    src = seqs[0]
    rebuilt = chunks[0].chunk
    for c in chunks[1:]:
        rebuilt += c.chunk[40:]
    assert rebuilt == src
    for c in chunks:
        assert c.chunk == src[c.chunk_start:c.chunk_end]


def test_splitter_headers(spark):
    df = split_sequences(_mk_queries(spark, ["A" * 1200]), 1000, 500,
                         serial_cid=True)
    rows = {r.chunk_start: r for r in df.collect()}
    assert rows[0].header == "q1_1_0_0_1000_0_1000"
    assert rows[500].header == "q1_2_3_500_1200_500_1200"


def test_indexer_sidecars(spark, fasta_file):
    q = read_fasta(spark, fasta_file)
    defs = {r.qid: r.defline for r in defline_table(q).collect()}
    assert defs == {1: "gi|111|", 2: "seq_two", 3: "seq_three"}
    idx = {r.qid: (r.offset, r.length) for r in index_table(q).collect()}
    # offsets over the normalized rendering: '>'+defline+'\n'+seq+'\n'
    assert idx[1] == (0, 16)
    assert idx[2] == (len(">gi|111| first sequence here\nACGTACGTACGTACGT\n"), 12)
    assert idx[3][1] == 5


@pytest.mark.slow  # driver-recorded twin: serial_index oracle row
def test_serial_number_matches_global_row_number(spark):
    """The hierarchical serial_number must equal
    row_number() OVER (ORDER BY ...) exactly — forced through many
    buckets (n_buckets > distinct lead values collapses to ~1 row per
    bucket) and with a sparse, shuffled, multi-column key."""
    from pyspark.sql import Window

    from mr_mpi_blast_spark.operators.blocks import (ordered_prefix_sum,
                                                     serial_number)

    rows = [(i * 37 % 1009, i % 3, i) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "sub", "payload"]).repartition(8)
    got = {(r.k, r.sub): r.uid
           for r in serial_number(df, ["k", "sub"], "uid",
                                  n_buckets=7).collect()}
    w = Window.orderBy("k", "sub")
    want = {(r.k, r.sub): r.uid
            for r in df.select("k", "sub",
                               F.row_number().over(w).cast("long")
                               .alias("uid")).collect()}
    assert got == want

    # exclusive prefix sum over a value column, same bucketed path
    got_ps = {r.k: r.ps
              for r in ordered_prefix_sum(df, "payload", ["k", "sub"],
                                          "ps", n_buckets=7).collect()}
    w2 = w.rowsBetween(Window.unboundedPreceding, -1)
    want_ps = {r.k: r.ps for r in df.select(
        "k", F.coalesce(F.sum("payload").over(w2), F.lit(0))
        .cast("long").alias("ps")).collect()}
    assert got_ps == want_ps


def test_cli_main_end_to_end(spark, tmp_path):
    """`python -m mr_mpi_blast_spark` surface: FASTA in, every sink
    out, via the same session. Covers arg parsing, splitter wiring,
    BLAST-opt pass-through, and the sidecar writers."""
    import random

    from mr_mpi_blast_spark.__main__ import main

    fa = tmp_path / "q.fa"
    rng = random.Random(5)
    with open(fa, "w") as f:
        for i in range(8):
            seq = "".join(rng.choice("ACGT") for _ in range(600))
            f.write(f">rec_{i} cli test\n{seq}\n")
    out = tmp_path / "out"
    rc = main(["--query", str(fa), "--out-dir", str(out),
               "--formats", "parquet,csv,bin",
               "--split", "300,150",
               "-task", "blastn", "-word_size", "16", "-evalue", "1e-3"])
    assert rc == 0
    assert (out / "output.idx").exists() and (out / "output.def").exists()
    assert (out / "output.csv").exists() and (out / "output.bin").exists()
    got = spark.read.parquet(str(out / "output.parquet"))
    assert got.count() > 0
    assert rc == 0 and main(["--formats", "bogus",
                             "--query", str(fa)]) == 2


def test_cli_stages_database_once(spark, tmp_path, monkeypatch):
    """Two CLI batch searches on one database leave ONE staged volume
    dir under the scratch root: the run is keyed by the database's
    content (path, mtime, size, volume count), so the second run
    reuses the first run's volumes instead of staging into a fresh
    dir nothing removes."""
    import random

    from mr_mpi_blast_spark.__main__ import main

    scratch = tmp_path / "scratch"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(scratch))
    fa = tmp_path / "db.fa"
    rng = random.Random(7)
    with open(fa, "w") as f:
        for i in range(4):
            seq = "".join(rng.choice("ACGT") for _ in range(300))
            f.write(f">rec_{i} cli stage test\n{seq}\n")
    for run in ("first", "second"):
        assert main(["--query", str(fa), "--out-dir", str(tmp_path / run),
                     "--formats", "parquet", "--volumes", "2",
                     "-task", "blastn", "-word_size", "16"]) == 0
    assert not list(scratch.glob("blast_db_*"))
    staged = list((scratch / "spark_graft_volumes").iterdir())
    assert len(staged) == 1, staged


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    """JSONL source contract: values round-trip exactly under the
    explicit schema, a torn line lands in the quarantine column in
    PERMISSIVE mode (clean fields null, corrupt col carries the raw
    line) instead of failing the scan, and FAILFAST raises on it."""
    import pytest
    from mr_mpi_blast_spark.sources.jsonl import (CORRUPT_COL, read_jsonl,
                                                  write_jsonl)

    rows = [(1, 'quote " backslash \\ unicode é', "en", 7),
            (2, "plain text", "de", 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out)
    back = read_jsonl(spark, out + "/*.json",
                      "doc_id long, text string, lang string, n_chars long")
    got = {r.doc_id: (r.text, r.lang, r.n_chars)
           for r in back.filter(F.col(CORRUPT_COL).isNull()).collect()}
    assert got == {1: rows[0][1:], 2: rows[1][1:]}

    torn = str(tmp_path / "torn.json")
    with open(torn, "w") as f:
        f.write('{"doc_id": 3, "text": "ok", "lang": "en", "n_chars": 2}\n')
        f.write('{"doc_id": 4, "text": "TORN')          # truncated line
    q = read_jsonl(spark, torn, "doc_id long, text string, lang string, "
                                "n_chars long").collect()
    clean = [r for r in q if r[CORRUPT_COL] is None]
    bad = [r for r in q if r[CORRUPT_COL] is not None]
    assert len(clean) == 1 and clean[0].doc_id == 3
    assert len(bad) == 1 and bad[0].doc_id is None and "TORN" in bad[0][CORRUPT_COL]

    with pytest.raises(Exception):
        read_jsonl(spark, torn, "doc_id long, text string, lang string, "
                   "n_chars long", mode="FAILFAST").collect()
