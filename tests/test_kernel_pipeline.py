"""Alignment kernel + end-to-end pipeline (K1, P1-P9, F1/F2, O2/O3).

Golden-style checks in the spirit of the reference's example suites
(examples/test/generic-test/README:29-158): construct subjects that
contain exact / mutated / reverse-complement copies of query substrings
and assert the hit table facts (coords 1-based inclusive, strand swap,
identity, e-value normalization against WHOLE dbsize)."""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, align_query,
                                               karlin_altschul_evalue, revcomp)
from mr_mpi_blast_spark.plans.pipeline import attach_deflines, run_search

# deterministic pseudo-random ACGT string (no stdlib random in tests);
# LCG low bits are periodic, so sample the high bits
def _seq(n, salt=0):
    out = []
    x = 123456789 + salt
    for _ in range(n):
        x = (1103515245 * x + 12345) % (2 ** 31)
        out.append("ACGT"[(x >> 16) % 4])
    return "".join(out)


Q1 = _seq(300, salt=1)
Q2 = _seq(250, salt=2)
BG = _seq(800, salt=9)


def _diff(c):
    return {"A": "C", "C": "G", "G": "T", "T": "A"}[c]


def _barrier(ref):
    """12 guaranteed mismatches vs ref: kills X-drop extension (score
    -24 < xdrop 20) so planted-copy boundaries are exact."""
    return "".join(_diff(c) for c in ref)


def _queries(spark):
    rows = [(1, "query_one", "query_one", Q1, len(Q1)),
            (2, "query_two", "query_two", Q2, len(Q2))]
    return spark.createDataFrame(
        rows, "qid long, defline string, defline_part string, seq string, length int")


def _subjects(spark):
    # s_exact: contains Q1[50:200] verbatim at position 100, fenced by
    # mismatch barriers so the maximal HSP is exactly the planted copy
    s_exact = (BG[:88] + _barrier(Q1[38:50]) + Q1[50:200]
               + _barrier(Q1[200:212]) + BG[100:288])
    # s_rc: contains revcomp of Q2[20:170]) at position 40, same fencing
    # (in revcomp(Q2) coords the copy spans rc[80:230])
    rc = revcomp(Q2)
    s_rc = (BG[300:328] + _barrier(rc[68:80]) + rc[80:230]
            + _barrier(rc[230:242]) + BG[340:460])
    # s_noise: unrelated
    s_noise = _seq(600, salt=7)
    rows = [("s_exact", "s_exact exact copy", "db.00", s_exact, len(s_exact)),
            ("s_rc", "s_rc revcomp copy", "db.00", s_rc, len(s_rc)),
            ("12345", "gi|12345| numeric id", "db.01", s_noise, len(s_noise))]
    return spark.createDataFrame(
        rows, "sid string, defline string, db_part string, seq string, length int")


@pytest.fixture(scope="module")
def hits(spark):
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    return run_search(_queries(spark), _subjects(spark), cfg).cache()


def test_exact_hit_coords_and_identity(hits):
    h = hits.filter((F.col("qid") == 1) & (F.col("sid") == "s_exact")) \
            .orderBy(F.col("bitscore").desc()).first()
    assert h is not None
    # 1-based inclusive coords (P3): Q1[50:200] sits at q 51..200, s 101..250
    assert (h.qstart, h.qend) == (51, 200)
    assert (h.sstart, h.send) == (101, 250)
    assert h.ident == 100.0
    assert h.align_len == 150
    assert h.mismatches == 0 and h.gaps == 0
    assert h.qstart < h.qend and h.sstart < h.send     # plus strand


def test_revcomp_hit_strand_swap(hits):
    h = hits.filter((F.col("qid") == 2) & (F.col("sid") == "s_rc")) \
            .orderBy(F.col("bitscore").desc()).first()
    assert h is not None
    # P4: strands differ -> subject coords swapped (sstart > send)
    assert h.sstart > h.send
    # query coords always forward
    assert (h.qstart, h.qend) == (21, 170)
    assert h.ident == 100.0
    assert (h.sstart, h.send) == (190, 41)


def test_evalue_uses_whole_dbsize(spark):
    """S8: same hit, same e-value, regardless of how the DB is
    partitioned (the silent-wrongness trap, SURVEY §7.3)."""
    cfg = BlastConfig(evalue=1e-6, word_size=11)
    one_part = _subjects(spark).withColumn("db_part", F.lit("db.all"))
    h_multi = run_search(_queries(spark), _subjects(spark), cfg) \
        .filter((F.col("qid") == 1) & (F.col("sid") == "s_exact")) \
        .orderBy(F.col("bitscore").desc()).first()
    h_one = run_search(_queries(spark), one_part, cfg) \
        .filter((F.col("qid") == 1) & (F.col("sid") == "s_exact")) \
        .orderBy(F.col("bitscore").desc()).first()
    # abs=0: the default abs tolerance (1e-12) dwarfs e-values this
    # small and would make the comparison vacuous
    assert h_multi.evalue == pytest.approx(h_one.evalue, rel=1e-12, abs=0)
    # and the e-value formula itself: m' * n' * 2^-bitscore with the
    # K-A length adjustment over the WHOLE database (dbsize, n_seqs)
    dbsize = sum(r.length for r in _subjects(spark).collect())
    n_seqs = _subjects(spark).count()
    expect = karlin_altschul_evalue(150, 300, dbsize, n_seqs=n_seqs)
    assert h_multi.evalue == pytest.approx(expect, rel=1e-9, abs=0)
    # sanity: the adjustment actually moved the number
    assert expect != karlin_altschul_evalue(150, 300, dbsize,
                                            length_adjust=False)


def test_kernel_mutation_identity():
    """Mutated copy -> identity < 100, mismatches counted (P6/P7)."""
    q = _seq(200, salt=3)
    mutated = list(q)
    for pos in (60, 90, 120):
        mutated[pos] = {"A": "C", "C": "G", "G": "T", "T": "A"}[mutated[pos]]
    subj = _seq(100, salt=4) + "".join(mutated) + _seq(100, salt=5)
    idx = SubjectIndex([("m", subj)], word_size=11, max_kmer_hits=64)
    cfg = BlastConfig(word_size=11, xdrop=50)
    out = align_query(7, q, idx, cfg)
    best = max(out, key=lambda t: t[2])
    qid, sid, score, alen, ident, gaps, qs, qe, ss, se, qstr, sstr, qlen = best
    assert alen > 150
    assert alen - ident == 3            # the three point mutations
    assert gaps == 0


def test_topk_cutoff_and_order(spark):
    cfg = BlastConfig(evalue=10.0, num_hit_cutoff=1, word_size=11)
    out = run_search(_queries(spark), _subjects(spark), cfg)
    per_q = out.groupBy("qid").count().collect()
    assert all(r["count"] == 1 for r in per_q)     # O3: k=1
    # O2: the kept hit is the best-evalue one
    h1 = out.filter(F.col("qid") == 1).first()
    assert h1.sid == "s_exact"


def test_defline_join(spark, hits):
    deflines = spark.createDataFrame(
        [(1, "query_one"), (2, "query_two")], "qid long, defline string")
    joined = attach_deflines(hits, deflines)
    assert joined.filter(F.col("qdef").isNull()).count() == 0
    assert set(r.qdef for r in joined.select("qdef").distinct().collect()) \
        == {"query_one", "query_two"}


@pytest.mark.slow
def test_max_target_seqs_cap(spark):
    """F2: -max_target_seqs bounds distinct subjects per query."""
    # subject set where q1 matches two subjects
    q = _seq(300, salt=11)
    rows = [("sA", "sA", "db.00", q[:150] + _seq(200, salt=12), 350),
            ("sB", "sB", "db.00", _seq(50, salt=13) + q[100:250], 200)]
    subjects = spark.createDataFrame(
        rows, "sid string, defline string, db_part string, seq string, length int")
    queries = spark.createDataFrame(
        [(1, "q", "q", q, len(q))],
        "qid long, defline string, defline_part string, seq string, length int")
    all_hits = run_search(queries, subjects, BlastConfig(evalue=10.0))
    assert all_hits.select("sid").distinct().count() == 2
    capped = run_search(queries, subjects,
                        BlastConfig(evalue=10.0, max_target_seqs=1))
    assert capped.select("sid").distinct().count() == 1


@pytest.mark.parametrize("task", ["blastn", "blastp"])
def test_disk_index_cache_roundtrip(tmp_path, monkeypatch, task):
    """makeblastdb analog: a content-keyed built index persists to
    scratch disk and a fresh in-memory cache loads it WITHOUT invoking
    the subject loader — every array the aligner reads (for blastp the
    BLOSUM rows too) comes back equal; a corrupt pickle rebuilds
    silently."""
    from mr_mpi_blast_spark.kernel import builtin as B

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    protein = task == "blastp"
    if protein:
        subjects = [("s1", "MKTAYIAKQRQISFVKSHFSRQ"),
                    ("s2", "GGMKTAYIAKQRQISFVKSHWW")]
        q, k = "MKTAYIAKQRQISFVK", 3
    else:
        subjects = [("s1", "ACGTACGTACGTACGTAC"),
                    ("s2", "TTTTACGTACGTACGTAAAA")]
        q, k = "ACGTACGTACGTACGT", 8
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return list(subjects)

    def lazy(key):
        return B.get_subject_index_lazy(key, loader, k, 64, protein=protein,
                                        disk_cache=True)

    B._DB_CACHE.clear()
    idx1 = lazy("ck:v0:content")
    assert calls["n"] == 1
    import os as _os
    cache_dir = tmp_path / f"spark_graft_idx_cache_{_os.getuid()}"
    pkls = list(cache_dir.glob("*.pkl"))
    assert len(pkls) == 1

    # fresh process simulation: empty in-memory cache -> disk hit,
    # loader NOT invoked, identical arrays and search results
    B._DB_CACHE.clear()
    idx2 = lazy("ck:v0:content")
    assert calls["n"] == 1 and idx2 is not idx1
    for name in ("ords", "offs", "sids", "_ukeys", "_bstart", "_bend",
                 "_sis", "_poss"):
        assert np.array_equal(getattr(idx2, name), getattr(idx1, name)), name
    assert (idx2.rows is None) == (not protein)
    if protein:
        assert np.array_equal(idx2.rows, idx1.rows)
    cfg = B.BlastConfig(task=task, word_size=k)   # must match the index's k
    h1 = B.align_query(1, q, idx1, cfg)
    h2 = B.align_query(1, q, idx2, cfg)
    assert [tuple(r) for r in h1] == [tuple(r) for r in h2]
    assert h1  # the query does hit

    # corrupt pickle -> silent rebuild (cache is never a failure mode)
    pkls[0].write_bytes(b"not a pickle")
    B._DB_CACHE.clear()
    idx3 = lazy("ck:v0:content")
    assert calls["n"] == 2
    assert [tuple(r) for r in B.align_query(1, q, idx3, cfg)] == \
        [tuple(r) for r in h1]

    # nonce-keyed callers never touch disk
    B._DB_CACHE.clear()
    B.get_subject_index_lazy("ck:v0:nonce", loader, k, 64, protein=protein,
                             disk_cache=False)
    assert sorted(cache_dir.glob("*.pkl")) == pkls
    B._DB_CACHE.clear()


def test_raw_cache_keys_distinct_per_config_and_subset():
    """The persisted-raw store must key on the FULL config, the
    query-subset modulus and the input variant: the flagship, the
    gapped variant, a different qmod and the dna variant may never
    share a store path (a collision would serve one config's hits as
    another's)."""
    from mr_mpi_blast_spark.entry_queries import (_blast_cfg,
                                                  _blast_gapped_cfg,
                                                  _blast_nucl_cfg,
                                                  _blast_raw_path)
    sf = "/root/testdata/sf0.001"
    paths = {
        "flagship": _blast_raw_path(sf),
        "explicit-default": _blast_raw_path(sf, _blast_cfg(), 25),
        "gapped": _blast_raw_path(sf, _blast_gapped_cfg(), 100),
        "gapped-q25": _blast_raw_path(sf, _blast_gapped_cfg(), 25),
        "flagship-q100": _blast_raw_path(sf, _blast_cfg(), 100),
        "nucl": _blast_raw_path(sf, _blast_nucl_cfg(), 100),
        "nucl-dna": _blast_raw_path(sf, _blast_nucl_cfg(), 100, "dna"),
    }
    assert paths["flagship"] == paths["explicit-default"]
    distinct = {k: v for k, v in paths.items() if k != "explicit-default"}
    assert len(set(distinct.values())) == len(distinct)


def test_gapped_nucl_tail_exercises_strand_swap_and_gaps(spark):
    """The gapped-blastn tail must actually produce the evidence it
    exists for: rows from the GAPPED nucleotide kernel (nonzero gaps)
    and MINUS-strand hits flowing through the P4 coordinate swap
    (sstart > send after the swap)."""
    import __spark_entry__ as e
    sf = "/root/testdata/sf0.001"
    p = e.queries()["blast_gapped_nucl_tail"](spark, sf).toPandas()
    assert len(p) > 0
    assert (p["gaps"] > 0).any(), "gapped DP produced no gapped rows"
    minus = p[p["sstart"] > p["send"]]
    plus = p[p["sstart"] <= p["send"]]
    assert len(minus) > 0, "no minus-strand hits — P4 swap unexercised"
    assert len(plus) > 0
    # revcomp'd queries (odd doc_id/qmod) are where minus hits live
    assert set((minus["qid"] // 100) % 2) == {1}


def test_kernel_queries_run_the_shipped_tail(spark, monkeypatch):
    """Every kernel catalog query is the shipped relational tail: each
    calls plans.pipeline.search_from_raw once, with its own config,
    and its oracle is _blast_oracle_sql of that same config over its
    raw link — no second tail, no second oracle."""
    import dataclasses

    import __spark_entry__ as e
    import mr_mpi_blast_spark.entry_queries as eq
    import mr_mpi_blast_spark.plans.pipeline as pl

    flagship = eq._blast_cfg()
    want = {
        "blast_pipeline": (flagship, eq._BLAST_RAW_PATH),
        "blast_gapped_tail": (dataclasses.replace(flagship, gapped=True),
                              eq._BLAST_RAW_GAPPED_PATH),
        "blast_gapped_nucl_tail": (eq._blast_nucl_cfg(),
                                   eq._BLAST_RAW_NUCL_PATH),
        "blast_capped_tail": (dataclasses.replace(flagship,
                                                  max_target_seqs=3),
                              eq._BLAST_RAW_PATH),
    }
    oracles = e.oracle_sql()
    assert sorted(n for n, sql in oracles.items()
                  if "spark_graft_blast_raw" in sql) == sorted(want)

    calls = []
    shipped = pl.search_from_raw

    def recorder(raw, dbsize, n_seqs, cfg=None):
        calls.append(cfg)
        return shipped(raw, dbsize, n_seqs, cfg)

    monkeypatch.setattr(pl, "search_from_raw", recorder)
    for name, (cfg, link) in want.items():
        calls.clear()
        e.queries()[name](spark, "/root/testdata/sf0.001")
        assert calls == [cfg], name
        assert oracles[name] == eq._blast_oracle_sql(link, cfg), name


def test_apply_max_target_seqs_matches_reference(spark):
    """Property check of the single shared F2 implementation: for a
    randomized hit table, the kept rows equal the brute-force
    reference (rank subjects per query by best (evalue asc, bitscore
    desc), sid tiebreak; keep every HSP of the top cap subjects)."""
    import random

    from mr_mpi_blast_spark.plans.pipeline import apply_max_target_seqs
    rng = random.Random(13)
    rows = []
    for qid in range(6):
        for s in range(rng.randint(0, 7)):
            sid = f"s{rng.randint(0, 9)}"
            for _ in range(rng.randint(1, 3)):
                ev = rng.choice([1e-30, 1e-20, 1e-10, 1e-5, 1e-3])
                rows.append((qid, sid, ev, round(rng.uniform(20, 300), 1),
                             rng.randint(1, 500)))
    df = spark.createDataFrame(
        rows, "qid long, sid string, evalue double, bitscore double, qstart int")
    cap = 2
    got = {(r.qid, r.sid, r.evalue, r.bitscore, r.qstart)
           for r in apply_max_target_seqs(df, cap).collect()}

    # reference: pure-python replay
    from collections import defaultdict
    by_q = defaultdict(dict)
    for (qid, sid, ev, bs, qs) in rows:
        best = by_q[qid].get(sid)
        key = (ev, -bs, qs)
        if best is None or key < best:
            by_q[qid][sid] = key
    keep = set()
    for qid, subs in by_q.items():
        ranked = sorted(subs, key=lambda s: (subs[s][0], subs[s][1], s))
        keep.update((qid, s) for s in ranked[:cap])
    want = {(qid, sid, ev, bs, qs) for (qid, sid, ev, bs, qs) in rows
            if (qid, sid) in keep}
    assert got == want


def test_flagship_golden_hash(spark):
    """e2e value pin for the flagship's UNROUNDED production frame
    (the registered blast_pipeline query projects this into the
    rounded oracle basis; the raw floats live here). The golden hash
    covers every alignment-bearing column in deterministic order,
    produced by KERNEL_SPEC k6 at sf0.001 — a kernel change that
    alters ANY hit coordinate, score, e-value, gap count, or identity
    fails here. Bump the hash together with KERNEL_SPEC, never
    alone."""
    import hashlib

    from mr_mpi_blast_spark.entry_queries import _blast_pipeline_full
    from mr_mpi_blast_spark.kernel.builtin import KERNEL_SPEC

    assert KERNEL_SPEC == "k6", "kernel changed: re-golden this test"
    df = _blast_pipeline_full(spark, "/root/testdata/sf0.001")
    rows = sorted((r.qid, r.sid, r.qstart, r.qend, r.sstart, r.send,
                   round(r.bitscore, 6), "%.6g" % r.evalue, r.gaps,
                   round(r.ident, 6)) for r in df.collect())
    assert len(rows) == 177
    got = hashlib.md5(repr(rows).encode()).hexdigest()
    assert got == "43d94bb1ecea459b670aaa8632eaafd0"


def test_flagship_tail_plan_single_exchange(spark):
    """Pin the flagship's scale shape: the warm relational tail
    (persisted raw -> projections -> F1 -> F2-off -> top-k) must plan
    as ONE qid exchange with a map-side WindowGroupLimit below it (the
    partial top-k that neutralized the 6.9x hot-qid straggler in the
    r7 skew probe), and the oracle-basis rounding projection must ride
    the final Project — not add an exchange. Two WindowGroupLimits
    (partial + final), exactly one Exchange."""
    from mr_mpi_blast_spark.entry_queries import QUERIES

    df = QUERIES["blast_pipeline"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") == 2, plan
    assert plan.count("Exchange") == 1, (
        "flagship tail should shuffle exactly once (on qid)")
    # the map-side limit must sit below the exchange: partial prune
    # before any rows ship
    assert plan.index("WindowGroupLimit",
                      plan.index("Exchange")) > plan.index("Exchange")
    assert plan.index("WindowGroupLimit") < plan.index("Exchange")


def _pairs(hits):
    return {(r.qid, r.sid) for r in hits.select("qid", "sid").collect()}


def test_seed_prune_skips_disjoint_volume(spark, tmp_path, monkeypatch):
    """A volume whose alphabet shares no k-mer with the queries is
    dropped by the seed-overlap probe, and the search, which runs
    every work item, finds the planted hit and nothing in it."""
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    # a random query (low-complexity words would never seed — the
    # {A,T}-alternation alphabet trick fails on the dust filter); the
    # hit volume plants an exact copy; the homopolymer volume shares
    # no 11-mer with it (a random 300-mer contains no 11-run — fixed
    # by the deterministic _seq, and the kept-set assert would fail
    # loudly if it ever did)
    q = _seq(300, salt=21)
    rows = [(1, "q1", "q1", q, len(q))]
    queries = spark.createDataFrame(
        rows, "qid long, defline string, defline_part string, "
              "seq string, length int")
    s_hit = _seq(40, salt=22) + q[40:260] + _seq(40, salt=23)
    s_gc = "G" * 300 + "C" * 300
    subs = spark.createDataFrame(
        [("s_hit", "s_hit planted", "vol.at", s_hit, len(s_hit)),
         ("s_gc", "s_gc disjoint", "vol.gc", s_gc, len(s_gc))],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    assert not any(q[i:i + 11] in s_gc for i in range(len(q) - 10))
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    db_dir, _, _ = stage_volumes(subs)
    blocked = queries.selectExpr("0L AS block_id", "qid", "seq")
    blooms = volume_seed_blooms(spark, db_dir, cfg.word_size)
    kept = {(r.db_part, r.block_id)
            for r in prune_work_items(blocked, blooms,
                                      cfg.word_size).collect()}
    assert ("vol.at", 0) in kept
    assert all(p != "vol.gc" for p, _ in kept), kept  # volume skipped

    assert _pairs(run_search(queries, subs, cfg)) == {(1, "s_hit")}


def test_seed_prune_parity_with_two_live_pairs(spark):
    """Two live (block, volume) pairs that differ in both block and
    volume: q1 alone in block 0 homologous only to vol.a, q2 alone in
    block 1 homologous only to vol.b. The probe keeps exactly those
    two pairs, and the search finds exactly their two hits — so a
    probe that loses one live pair (not all of them) fails here."""
    from mr_mpi_blast_spark.operators.blocks import assign_blocks
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    q1, q2 = _seq(300, salt=61), _seq(300, salt=62)
    queries = spark.createDataFrame(
        [(1, "q1", "q1", q1, len(q1)), (2, "q2", "q2", q2, len(q2))],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    s_a = _seq(40, salt=63) + q1[30:250] + _seq(40, salt=64)
    s_b = _seq(40, salt=65) + q2[50:270] + _seq(40, salt=66)
    subs = spark.createDataFrame(
        [("s_a", "s_a", "vol.a", s_a, len(s_a)),
         ("s_b", "s_b", "vol.b", s_b, len(s_b))],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    cfg = BlastConfig(evalue=1e-3, block_size=200, word_size=11)

    blocked = assign_blocks(queries, cfg.block_size)
    assert {(r.qid, r.block_id) for r in blocked.collect()} == {(1, 0),
                                                               (2, 1)}
    db_dir, _, _ = stage_volumes(subs)
    kept = {(r.db_part, r.block_id) for r in prune_work_items(
        blocked.select("block_id", "seq"),
        volume_seed_blooms(spark, db_dir, cfg.word_size),
        cfg.word_size).collect()}
    assert kept == {("vol.a", 0), ("vol.b", 1)}

    assert _pairs(run_search(queries, subs, cfg)) == {(1, "s_a"),
                                                      (2, "s_b")}


def test_seed_prune_keeps_minus_strand_only_block(spark, tmp_path,
                                                  monkeypatch):
    """blastn seeds the query on BOTH strands: a (block, volume) pair
    whose ONLY homology is a reverse-complement copy gives a
    minus-strand hit, and the both-strand probe keeps the pair (a
    forward-only probe drops it). The query sits alone in its block,
    so no forward-hit sibling can keep the pair."""
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    q = _seq(300, salt=31)
    queries = spark.createDataFrame(
        [(1, "q1", "q1", q, len(q))],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    rc = revcomp(q)
    s_rc_only = _seq(40, salt=32) + rc[40:260] + _seq(40, salt=33)
    subs = spark.createDataFrame(
        [("s_rc", "s_rc minus-strand copy", "vol.rc", s_rc_only,
          len(s_rc_only))],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)
    got = run_search(queries, subs, cfg).collect()
    assert {(r.qid, r.sid) for r in got} == {(1, "s_rc")}
    assert all(r.sstart > r.send for r in got)      # minus strand

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    db_dir, _, _ = stage_volumes(subs)
    blooms = volume_seed_blooms(spark, db_dir, cfg.word_size)
    blocked = queries.selectExpr("0L AS block_id", "qid", "seq")

    def kept(both_strands):
        return {(r.db_part, r.block_id) for r in prune_work_items(
            blocked, blooms, cfg.word_size,
            both_strands=both_strands).collect()}
    assert kept(True) == {("vol.rc", 0)}
    assert kept(False) == set()


def test_seed_prune_probe_plan_broadcasts_only_the_filter(spark, tmp_path,
                                                          monkeypatch):
    """The probe's plan shape: the volume position table rides a
    BroadcastExchange (bounded at bits rows/volume by construction);
    the query k-mer stream is never shuffled for the membership test
    (the groupBy that follows is kmer-keyed and map-side-combinable).
    The search over the same volumes finds the planted hit only."""
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    q = _seq(200, salt=41)
    subs = spark.createDataFrame(
        [("s1", "s1", "v.a", q[20:180], 160),
         ("s2", "s2", "v.b", _seq(200, salt=42), 200)],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    db_dir, _, _ = stage_volumes(subs)
    blooms = volume_seed_blooms(spark, db_dir, 11)
    blocked = spark.createDataFrame([(0, 1, q)],
                                    "block_id long, qid long, seq string")
    keep = prune_work_items(blocked, blooms, 11)
    plan = keep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "pos" in ln]
    assert join_lines and all("Broadcast" in ln for ln in join_lines), \
        join_lines

    queries = spark.createDataFrame(
        [(1, "q1", "q1", q, len(q))],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)
    assert _pairs(run_search(queries, subs, cfg)) == {(1, "s1")}


def test_stage_meta_without_volume_list_restages(spark, tmp_path,
                                                  monkeypatch):
    """stage_volumes records the volume names in _stage_meta.json; a
    meta written before that counts as not staged, so the dir is
    restaged once and then carries the list staged_parts reads."""
    import json

    import mr_mpi_blast_spark.plans.pipeline as pl

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    db_dir, res, n = pl.stage_volumes(_subjects(spark), cache_key="old")
    assert pl.staged_volumes(db_dir) == ["db.00", "db.01"]
    meta_p = os.path.join(db_dir, "_stage_meta.json")
    with open(meta_p, "w") as fh:
        json.dump({"residues": res, "n_seqs": n, "key": "old"}, fh)
    with pytest.raises(FileNotFoundError):
        pl.staged_volumes(db_dir)
    assert pl.stage_volumes(_subjects(spark), cache_key="old") \
        == (db_dir, res, n)
    with open(meta_p) as fh:
        assert json.load(fh)["volumes"] == ["db.00", "db.01"]
    assert sorted(r.db_part for r in pl.staged_parts(spark, db_dir)
                  .collect()) == ["db.00", "db.01"]


def bloom_positions_py(keys, bits):
    """Pure-Python oracle of operators.profile._bloom_positions_spark:
    a (len(keys), BLOOM_K) array whose column i is pmod(first 32 bits
    of md5('bloom{i}:' || key), bits), over the keys' UTF-8 bytes."""
    import hashlib

    from mr_mpi_blast_spark.operators.profile import BLOOM_K
    keys = [k.encode() for k in keys]
    out = np.empty((len(keys), BLOOM_K), dtype=np.int64)
    for i in range(BLOOM_K):
        salt = f"bloom{i}:".encode()
        heads = b"".join(hashlib.md5(salt + k).digest()[:4] for k in keys)
        out[:, i] = np.frombuffer(heads, dtype=">u4") % bits
    return out


def test_bloom_positions_py_matches_spark(spark):
    """The Python oracle hashes the same UTF-8 bytes as the Spark form:
    lowercase, non-ASCII and empty keys included, at two widths."""
    from mr_mpi_blast_spark.operators.profile import (BLOOM_K,
                                                      _bloom_positions_spark)
    keys = ["ACGTACGTACG", "acgtNNNNacg", "MKV", "XBZ", "ÉSSé", "", "ß"]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    for bits in (8192, 1 << 20):
        got = bloom_positions_py(keys, bits)
        assert got.shape == (len(keys), BLOOM_K)
        cols = [F.expr(p).alias(f"p{i}") for i, p in
                enumerate(_bloom_positions_spark("key", bits))]
        want = {r.key: [r[f"p{i}"] for i in range(BLOOM_K)]
                for r in df.select("key", *cols).collect()}
        assert got.tolist() == [want[k] for k in keys]
        assert np.all((got >= 0) & (got < bits))


# seed-Bloom fixture volumes: soft-masked lowercase, sequences shorter
# than the word (one volume holds nothing else, so its filter is
# empty), non-ASCII residues (upper('ß') is 'SS', as in Spark) and
# protein volumes at their own word size
_BLOOM_VOLUMES = {
    11: [("n1", "nt.a", _seq(120, salt=51) + "acgtacgtacgtac"
          + _seq(40, salt=52).lower()),
         ("n2", "nt.a", "ACGTA"),
         ("n3", "nt.b",
          _seq(60, salt=53) + "ÉßéACGTACGTAAC" + _seq(30, salt=54)),
         ("n4", "nt.b", _seq(90, salt=53)),
         ("n5", "nt.c", "ACGTACGTAC")],
    3: [("p1", "aa.x", "MKVLAAGGVLSRTmkvlaaGGXBZW"),
        ("p2", "aa.x", "MK"),
        ("p3", "aa.y", "WWWWCCCHHHHmkwcPPPPQQQQ"),
        ("p4", "aa.z", "W")],
}


@pytest.fixture(params=sorted(_BLOOM_VOLUMES), ids=lambda k: f"k{k}")
def bloom_volumes(spark, tmp_path, request, monkeypatch):
    from mr_mpi_blast_spark.plans.pipeline import stage_volumes
    k = request.param
    subs = spark.createDataFrame(
        [(sid, sid, part, seq, len(seq))
         for sid, part, seq in _BLOOM_VOLUMES[k]],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "vols"))
    db_dir, _, _ = stage_volumes(subs)
    return k, db_dir


def test_volume_seed_blooms_match_python_oracle(spark, bloom_volumes):
    """volume_seed_blooms holds exactly the Bloom positions of each
    volume's distinct uppercased k-mers, as the pure-Python oracle
    hashes them; the volume whose sequences are all shorter than the
    word has none, and the build writes nothing."""
    from mr_mpi_blast_spark.plans.pipeline import (SEED_PRUNE_BITS,
                                                   volume_seed_blooms)
    k, db_dir = bloom_volumes
    want = set()
    for _, part, seq in _BLOOM_VOLUMES[k]:
        words = sorted({seq[i:i + k].upper()
                        for i in range(len(seq) - k + 1)})
        want |= {(part, int(p)) for row in
                 bloom_positions_py(words, SEED_PRUNE_BITS) for p in row}
    scratch = os.path.dirname(db_dir)
    before = sorted(os.listdir(scratch))
    got = volume_seed_blooms(spark, db_dir, k).collect()
    assert len(got) == len(want) > 0
    assert {(r.db_part, r.pos) for r in got} == want
    assert len({p for p, _ in want}) == 2      # one volume is empty
    assert sorted(os.listdir(scratch)) == before


def test_cold_kernel_build_submits_one_format_job(spark):
    """Eager Spark jobs of a cold content-keyed run_kernel_raw, before
    the kernel action: the block histogram (4), the staging write (2)
    and ONE format job that builds every volume's index pickle. The
    warm rerun finds everything present and submits only the block
    jobs."""
    import uuid

    from mr_mpi_blast_spark.plans.pipeline import run_kernel_raw

    sc = spark.sparkContext
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    key = f"eager-jobs:{uuid.uuid4().hex}"
    counts = []
    for run in ("cold", "warm"):
        group = f"{run}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            run_kernel_raw(_queries(spark), _subjects(spark), cfg,
                           cache_key=key)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [7, 4], counts


def test_cold_search_jobs_and_no_bloom_sidecars(spark, tmp_path,
                                                monkeypatch):
    """A cold content-keyed run_search(...).count() submits 13 Spark
    jobs: the 7 eager ones of
    test_cold_kernel_build_submits_one_format_job, then 6 for the
    count. Every work item goes to the kernel, so no probe job runs. No
    seed-Bloom sidecar appears under the scratch root after a search,
    with a cache key or without."""
    import glob
    import uuid

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    sc = spark.sparkContext
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    group = f"cold-search-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        n = run_search(_queries(spark), _subjects(spark), cfg,
                       cache_key=f"cold-search:{uuid.uuid4().hex}").count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n > 0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert run_search(_queries(spark), _subjects(spark), cfg).count() == n
    assert not glob.glob(str(tmp_path / "**" / "*seedbloom*"),
                         recursive=True)
    assert jobs == 13, jobs
