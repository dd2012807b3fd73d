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
    """The persisted-raw cache must key on the FULL config and the
    query-subset modulus: the flagship, the gapped variant, and a
    different qmod may never share a cache dir (a collision would
    serve one config's hits as another's)."""
    from mr_mpi_blast_spark.entry_queries import (_blast_cfg,
                                                  _blast_gapped_cfg,
                                                  _blast_raw_cache_dir,
                                                  _blast_raw_key)
    sf = "/root/testdata/sf0.001"
    keys = {
        "flagship": _blast_raw_key(sf),
        "explicit-default": _blast_raw_key(sf, _blast_cfg(), 25),
        "gapped": _blast_raw_key(sf, _blast_gapped_cfg(), 100),
        "gapped-q25": _blast_raw_key(sf, _blast_gapped_cfg(), 25),
        "flagship-q100": _blast_raw_key(sf, _blast_cfg(), 100),
    }
    assert keys["flagship"] == keys["explicit-default"]
    distinct = {k: v for k, v in keys.items() if k != "explicit-default"}
    assert len(set(distinct.values())) == len(distinct)
    dirs = {_blast_raw_cache_dir(v) for v in distinct.values()}
    assert len(dirs) == len(distinct)


def test_gapped_nucl_tail_exercises_strand_swap_and_gaps(spark):
    """The gapped-blastn tail must actually produce the evidence it
    exists for: rows from the GAPPED nucleotide kernel (nonzero gaps)
    and MINUS-strand hits flowing through the P4 coordinate swap
    (sstart > send after the swap). Also: the dna variant may never
    share a raw-hits cache key with the text variant."""
    import __spark_entry__ as e
    from mr_mpi_blast_spark.entry_queries import (_blast_nucl_cfg,
                                                  _blast_raw_key)
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
    assert _blast_raw_key(sf, _blast_nucl_cfg(), 100, "dna") \
        != _blast_raw_key(sf, _blast_nucl_cfg(), 100)


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


def test_seed_prune_value_identical_on_fixtures(spark, hits):
    """r11 runtime filter: seed_prune must never change the hit table
    (one-sided pruning — a pair with any exact shared word always
    survives). Same fixtures, same cfg, pruned vs unpruned."""
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    pruned = run_search(_queries(spark), _subjects(spark), cfg,
                        seed_prune=True)
    cols = ["qid", "sid", "qstart", "qend", "sstart", "send",
            "bitscore", "evalue"]
    got = sorted(tuple(r) for r in pruned.select(*cols).collect())
    want = sorted(tuple(r) for r in hits.select(*cols).collect())
    assert got == want and len(got) > 0


def test_seed_prune_skips_disjoint_volume(spark, tmp_path):
    """A volume whose alphabet shares no k-mer with the queries is
    skipped entirely (measured skipped-volume count), and the hit
    table still equals the unpruned run — the fixture the verdict
    asked for."""
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

    db_dir, _, _ = stage_volumes(subs, str(tmp_path / "vols"))
    blocked = queries.selectExpr("0L AS block_id", "qid", "seq")
    blooms = volume_seed_blooms(spark, db_dir, cfg.word_size)
    kept = {(r.db_part, r.block_id)
            for r in prune_work_items(blocked, blooms,
                                      cfg.word_size).collect()}
    assert ("vol.at", 0) in kept
    assert all(p != "vol.gc" for p, _ in kept), kept  # volume skipped

    base = run_search(queries, subs, cfg)
    pruned = run_search(queries, subs, cfg, seed_prune=True)
    cols = ["qid", "sid", "qstart", "qend", "bitscore"]
    assert sorted(map(tuple, pruned.select(*cols).collect())) \
        == sorted(map(tuple, base.select(*cols).collect()))
    assert pruned.count() > 0


def test_seed_prune_keeps_minus_strand_only_block(spark):
    """r11 review regression: blastn seeds the query on BOTH strands,
    so a (block, volume) pair whose ONLY homology is a reverse-
    complement copy must survive pruning. The query sits alone in its
    block (no forward-hit sibling to mask a forward-only probe — the
    hole the original parity test left)."""
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
    base = run_search(queries, subs, cfg)
    pruned = run_search(queries, subs, cfg, seed_prune=True)
    cols = ["qid", "sid", "qstart", "qend", "sstart", "send",
            "bitscore"]
    want = sorted(map(tuple, base.select(*cols).collect()))
    assert len(want) > 0, "fixture must produce a minus-strand hit"
    assert sorted(map(tuple, pruned.select(*cols).collect())) == want


def test_seed_prune_probe_plan_broadcasts_only_the_filter(spark, tmp_path):
    """The prune probe's plan shape: the volume position table rides a
    BroadcastExchange (bounded at bits rows/volume by construction);
    the query k-mer stream is never shuffled for the membership test
    (the groupBy that follows is kmer-keyed and map-side-combinable)."""
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    q = _seq(200, salt=41)
    subs = spark.createDataFrame(
        [("s1", "s1", "v.a", q[20:180], 160),
         ("s2", "s2", "v.b", _seq(200, salt=42), 200)],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    db_dir, _, _ = stage_volumes(subs, str(tmp_path / "v"))
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


def test_seed_prune_saturation_gate_skips_probe(spark, monkeypatch):
    """When every volume's filter fill exceeds the gate, the probe is
    skipped entirely (saturated filters cannot prune — probing is
    pure cost) and the result is the plain full-work-item run."""
    import mr_mpi_blast_spark.plans.pipeline as pl

    monkeypatch.setattr(pl, "SEED_PRUNE_MAX_FILL", 0.0)

    def boom(*a, **k):
        raise AssertionError("probe ran despite the saturation gate")

    monkeypatch.setattr(pl, "prune_work_items", boom)
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    out = pl.run_search(_queries(spark), _subjects(spark), cfg,
                        seed_prune=True)
    assert out.count() > 0


def test_seed_prune_noop_under_neighborhood_seeding(spark, tmp_path):
    """blastp -threshold seeds on NON-exact word matches, so exact
    k-mer pruning is unsound there — the filter must not even be
    built: no seed-Bloom sidecar is written (documented conservative
    no-op). Neither with seed_prune=False. The same search with exact
    seeding writes one, so the sidecar path checked here is live."""
    import glob

    import mr_mpi_blast_spark.plans.pipeline as pl

    prot_q = spark.createDataFrame(
        [(1, "p1", "p1", "MKVLAAGGVLSRT" * 5, 65)],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    prot_s = spark.createDataFrame(
        [("sp1", "sp1", "db.00", "MKVLAAGGVLSRT" * 5 + "AAAA", 69)],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    base = dict(task="blastp", word_size=3, evalue=10.0, block_size=400)
    out = pl.run_search(prot_q, prot_s, BlastConfig(threshold=11, **base),
                        scratch_dir=str(tmp_path / "nb"), seed_prune=True)
    assert out.count() > 0  # ran the FULL work-item set, filter unused
    pl.run_kernel_raw(prot_q, prot_s, BlastConfig(**base),
                      scratch_dir=str(tmp_path / "off"), seed_prune=False)
    pl.run_kernel_raw(prot_q, prot_s, BlastConfig(**base),
                      scratch_dir=str(tmp_path / "exact"), seed_prune=True)
    assert not glob.glob(str(tmp_path / "nb_seedbloom*"))
    assert not glob.glob(str(tmp_path / "off_seedbloom*"))
    assert glob.glob(str(tmp_path / "exact_seedbloom*/*.parquet"))


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


def _spark_sql_blooms(spark, db_dir, k, bits):
    """The reference seed-Bloom build: every volume's distinct
    uppercased k-mers exploded and hashed by the Spark-SQL md5
    positions — the production build before the per-volume format
    task replaced it."""
    import mr_mpi_blast_spark.plans.pipeline as pl
    from mr_mpi_blast_spark.operators.profile import _bloom_positions_spark
    pos = F.array(*[F.expr(p) for p in _bloom_positions_spark("kmer", bits)])
    rows = (spark.read.parquet(db_dir)
            .select("db_part", pl._kmer_explode("seq", k).alias("kmer"))
            .select("db_part", F.explode(pos).alias("pos")).distinct()
            .collect())
    return {(r.db_part, r.pos) for r in rows}


def test_bloom_positions_py_matches_spark(spark):
    """The Python twin hashes the same UTF-8 bytes as the Spark form:
    lowercase, non-ASCII and empty keys included, at two widths."""
    import numpy as np

    from mr_mpi_blast_spark.operators.profile import (
        BLOOM_K, _bloom_positions_spark, bloom_positions_py)
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
def bloom_volumes(spark, tmp_path, request):
    from mr_mpi_blast_spark.plans.pipeline import stage_volumes
    k = request.param
    subs = spark.createDataFrame(
        [(sid, sid, part, seq, len(seq))
         for sid, part, seq in _BLOOM_VOLUMES[k]],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    db_dir, _, _ = stage_volumes(subs, str(tmp_path / "vols"))
    return k, db_dir


def test_seed_bloom_sidecars_match_spark_sql(spark, bloom_volumes):
    """volume_seed_blooms (the format job's Bloom-only run) writes one
    sidecar per volume, an empty volume's included, holding exactly
    the positions the Spark-SQL explode build computes."""
    from mr_mpi_blast_spark.plans.pipeline import (SEED_PRUNE_BITS,
                                                   _bloom_dir,
                                                   volume_seed_blooms)
    k, db_dir = bloom_volumes
    want = _spark_sql_blooms(spark, db_dir, k, SEED_PRUNE_BITS)
    got = volume_seed_blooms(spark, db_dir, k).collect()
    assert len(got) == len(want) > 0
    assert len(os.listdir(_bloom_dir(db_dir, k, SEED_PRUNE_BITS))) == 3
    assert {(r.db_part, r.pos) for r in got} == want


@pytest.mark.parametrize("route", ["index", "folded_index", "masked_index",
                                   "no_index"])
def test_format_task_bloom_routes_match_spark_sql(spark, bloom_volumes,
                                                  tmp_path, monkeypatch,
                                                  route):
    """Every word-list route of the per-volume format task gives the
    Spark-SQL positions: read off a freshly built unmasked index, as
    stored or case-folded (SubjectIndex.seed_words, no second sort),
    or from a pass of its
    own when the index is masked (its windows miss masked words) or
    not built at all. Each task also reports its set-position count,
    the saturation gate's input."""
    import mr_mpi_blast_spark.plans.pipeline as pl
    from mr_mpi_blast_spark.kernel import builtin as B

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    k, db_dir = bloom_volumes
    cfg = BlastConfig(task="blastp" if k == 3 else "blastn", word_size=k,
                      lcase_masking=route == "folded_index",
                      soft_masking=route == "masked_index")
    assert pl._index_kw(cfg)["fold_case"] == (route in ("folded_index",
                                                        "masked_index"))
    index = None if route == "no_index" else (route, pl._index_kw(cfg))
    bloom_dir = str(tmp_path / f"bloom_{route}")
    seen = {}
    for part in pl.staged_volumes(db_dir):
        B._DB_CACHE.clear()
        got = pl._format_volume(db_dir, part, index,
                                (bloom_dir, k, pl.SEED_PRUNE_BITS))
        assert got[0] == part
        seen[part] = got[1]
    if index is not None:     # the same task published the pickles
        assert len(list((tmp_path / "scratch").glob("*/*.pkl"))) == len(seen)
    rows = pl._read_blooms(spark, bloom_dir).collect()
    want = _spark_sql_blooms(spark, db_dir, k, pl.SEED_PRUNE_BITS)
    assert {(r.db_part, r.pos) for r in rows} == want
    assert seen == {p: sum(1 for q, _ in want if q == p) for p in seen}
    # a present sidecar is a no-op that still reports its count
    assert pl._format_volume(db_dir, part, None,
                             (bloom_dir, k, pl.SEED_PRUNE_BITS)) \
        == (part, seen[part])


def test_cold_kernel_build_submits_one_format_job(spark):
    """Eager Spark jobs of a cold content-keyed run_kernel_raw, before
    the kernel action: the block histogram (4), the staging write (2)
    and ONE format job that builds every volume's index pickle and
    seed-Bloom sidecar and returns the Bloom fills. The warm rerun
    finds everything present and submits only the block jobs."""
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
