"""Hypothesis property tests over the pure (Spark-free) kernel and
codec layers — the invariants that must hold for EVERY input, not just
the corpus fixtures: seeding-index equivalence, hash-scheme
consistency, strand involution, and Karlin-Altschul monotonicity."""

import pytest
import math

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, _window_hashes,
                                               _HASH_P, align_query,
                                               karlin_altschul_bitscore,
                                               karlin_altschul_evalue,
                                               revcomp)

from kernel_oracle import _align_query_sequential, word_index

_DNA = st.text(alphabet="ACGT", min_size=0, max_size=80)
_PROSE = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0, max_size=60)


@given(_DNA)
def test_revcomp_involution(s):
    assert revcomp(revcomp(s)) == s
    assert len(revcomp(s)) == len(s)


@given(st.lists(st.integers(0, 0x10FFFF), min_size=0, max_size=40),
       st.integers(1, 8))
def test_window_hashes_match_direct_horner(codes, k):
    arr = np.array(codes, dtype=np.uint32)
    got = _window_hashes(arr, k)
    n = max(len(codes) - k + 1, 0)
    assert len(got) == n
    for i in range(n):
        h = np.uint64(0)
        for c in codes[i:i + k]:
            h = h * _HASH_P + np.uint64(c)
        assert got[i] == h


def _reference_index(subjects, k, cap):
    """The straightforward per-window dict build (the former
    _build_dict, unmasked form) kept here as the property oracle."""
    ref = {}
    for si, (_, seq) in enumerate(subjects):
        for pos in range(len(seq) - k + 1):
            ref.setdefault(seq[pos:pos + k], []).append((si, pos))
    return {w: v for w, v in ref.items() if len(v) <= cap}


@given(st.lists(_PROSE, min_size=1, max_size=6), st.integers(2, 6),
       st.integers(1, 200))
@settings(max_examples=40, deadline=None)
def test_hashed_index_equals_dict_index(seqs, k, cap):
    """The vectorized hashed index and the per-position dict build must
    expose identical (word -> [(si, pos)]) mappings for ANY subjects,
    any word size, any kmer cap — including unicode text, empty and
    shorter-than-k sequences."""
    subjects = [(f"s{i}", s) for i, s in enumerate(seqs)]
    fast = SubjectIndex(subjects, k, cap)
    assert word_index(fast) == _reference_index(subjects, k, cap)


@given(_DNA, st.lists(_DNA, min_size=1, max_size=4))
@settings(max_examples=30, deadline=None)
def test_align_results_identical_across_index_forms(q, seqs):
    cfg = BlastConfig(task="blastn", word_size=4, min_score=4)
    subjects = [(f"s{i}", s) for i, s in enumerate(seqs)]
    idx = SubjectIndex(subjects, 4, 128)
    # the production path on the hashed index vs the sequential oracle
    # walking the per-window reference dict instead of the hash buckets
    assert align_query(1, q, idx, cfg) == _align_query_sequential(
        1, q, idx, cfg, str_index=_reference_index(subjects, 4, 128))


@given(st.integers(1, 500), st.integers(2, 499))
def test_bitscore_and_evalue_monotone_in_score(s1, delta):
    """Higher raw score -> higher bitscore and lower (or equal)
    e-value, for any score pair."""
    s2 = s1 + delta
    assert karlin_altschul_bitscore(s2) > karlin_altschul_bitscore(s1)
    e1 = karlin_altschul_evalue(s1, qlen=100, dbsize=10_000)
    e2 = karlin_altschul_evalue(s2, qlen=100, dbsize=10_000)
    assert e2 <= e1
    assert math.isfinite(e1) and e1 >= 0


@given(st.text(alphabet="ARNDCQEGHILKMFPSTWYV", min_size=0, max_size=24),
       st.text(alphabet="ARNDCQEGHILKMFPSTWYV", min_size=0, max_size=24))
@settings(max_examples=40, deadline=None)
def test_gotoh_invariants_and_symmetry(a, b):
    """Affine SW invariants for any inputs: bounded counts, and the
    optimal SCORE is symmetric under operand swap (BLOSUM62 is a
    symmetric matrix; tie-broken paths may differ, the score cannot)."""
    from kernel_oracle import gotoh_local
    s1 = gotoh_local(a, b, True, 1, -2, 11, 1)
    s2 = gotoh_local(b, a, True, 1, -2, 11, 1)
    score, a0, a1, b0, b1, ident, gaps, aln = s1
    assert score >= 0 and s2[0] == score
    assert 0 <= ident <= aln and 0 <= gaps <= aln
    if score > 0:
        assert a0 <= a1 < len(a) and b0 <= b1 < len(b)
        # path identity: every column is a match/mismatch or a gap in
        # exactly one operand, so span_a + span_b - aln = match columns
        # = aln - gaps, and identities fit inside the match columns
        match_cols = (a1 - a0 + 1) + (b1 - b0 + 1) - aln
        assert match_cols == aln - gaps
        assert ident <= match_cols


def test_prefix_sum_clustered_ids_spread(spark):
    """Skew hardening (histogram-equalized buckets): 99% of ids packed
    into 1% of the key range still spread across many windows — a
    fixed-width split funnels them into ~1 — and the exclusive prefix
    is exactly the id-ordered cumulative sum either way."""
    from mr_mpi_blast_spark.operators.blocks import (_equal_count_packing,
                                                     ordered_prefix_sum)
    # hot region: 990 ids in [0, 9_900] (1% of range); 10 outliers out
    # to 1_000_000 define the full key range
    ids = list(range(0, 9900, 10)) + [10**6 - i * 10**4 for i in range(10)]
    df = spark.createDataFrame([(i, 2) for i in ids], ["qid", "length"])
    out = ordered_prefix_sum(df, "length", ["qid"], "prev",
                             n_buckets=32).collect()
    got = {r["qid"]: r["prev"] for r in out}
    expect, acc = {}, 0
    for i in sorted(ids):
        expect[i] = acc
        acc += 2
    assert got == expect

    # spread: replay the operator's own geometry + packing and count
    # distinct coarse buckets the HOT region occupies
    lo, hi = min(ids), max(ids)
    n_fine = 32 * 64
    width = max(1, (hi - lo) // n_fine + 1)
    hist = {}
    for i in ids:
        b = (i - lo) // width
        v, c = hist.get(b, (0, 0))
        hist[b] = (v + 2, c + 1)
    target = max(1, len(ids) // 32)
    fine_map, _ = _equal_count_packing(hist, target, 32)
    coarse_of = dict(fine_map)
    hot_buckets = {coarse_of[(i - lo) // width] for i in ids if i <= 9900}
    assert len(hot_buckets) >= 16, hot_buckets


def test_equal_count_packing_pathological():
    """Direct unit test of the packing on adversarial histograms:
    a single mega-cell cannot be split further (residual bound), but
    everything around it still packs to ~equal row counts."""
    from mr_mpi_blast_spark.operators.blocks import _equal_count_packing
    hist = {0: (1000, 1000), 1: (10, 10), 2: (10, 10), 3: (10, 10)}
    fine_map, offs = _equal_count_packing(hist, target=100, n_buckets=8)
    coarse_of = dict(fine_map)
    # the mega-cell fills bucket 0 alone; later cells each start fresh
    assert coarse_of[0] == 0 and coarse_of[1] == 1
    # offsets are exclusive value prefixes at bucket starts
    assert offs[0] == (0, 0) and offs[1] == (1, 1000)
    # monotone coarse ids in key order, never exceeding n_buckets
    assert [coarse_of[k] for k in sorted(coarse_of)] == sorted(
        coarse_of[k] for k in sorted(coarse_of))
    assert max(coarse_of.values()) < 8


@given(st.lists(st.text(alphabet="ACGTacgt", min_size=0, max_size=60),
                min_size=1, max_size=5),
       st.lists(st.text(alphabet="ACGTacgt", min_size=0, max_size=50),
                min_size=1, max_size=4),
       st.integers(4, 9), st.booleans())
@settings(max_examples=40, deadline=None)
def test_blastn_batched_equals_sequential(subject_seqs, query_seqs, k,
                                          gapped):
    """The batched blastn path must emit byte-identical rows, in
    identical order, to the sequential per-seed oracle for ANY DNA
    corpus — both strands, mixed case, arbitrary word size, gapped or
    not."""
    subjects = [(f"s{i}", s) for i, s in enumerate(subject_seqs)]
    cfg = BlastConfig(task="blastn", word_size=k, min_score=k,
                      gapped=gapped,
                      ka_gapped=(1.3, 0.5, 1.0) if gapped else None)
    idx = SubjectIndex(subjects, k, 4096, protein=False)
    for qid, q in enumerate(query_seqs):
        got = [tuple(int(v) if not isinstance(v, str) else v for v in r)
               for r in align_query(qid, q, idx, cfg)]
        ref = [tuple(r) for r in _align_query_sequential(qid, q, idx, cfg)]
        assert got == ref


@given(st.text(alphabet=st.characters(min_codepoint=32,
                                      exclude_categories=("Cs",)),
               min_size=0, max_size=60),
       st.integers(2, 8))
@settings(max_examples=60, deadline=None)
@example("\u00dfABab\u0149\ufb00\u03c2\u03c3\u0131\u0130", 3)
@example("\u1e9e\u00df\ufb03\ufb06\U0001d41a\U00010428", 2)
def test_vectorized_mask_predicates_match_scalar(s, k):
    """_islower_np / _low_complexity_windows_np (the masked index
    build's vectorized predicates) must agree with the per-char
    scalar predicates for ANY text — the full Unicode range (minus
    surrogates, unencodable in utf-32), including multi-char-uppercase
    codepoints (eszett, ŉ, ligatures) and astral-plane chars that take
    the exact fallback path. No excluded codepoint class."""
    from kernel_oracle import word_low_complexity
    from mr_mpi_blast_spark.kernel.builtin import (
        _islower_np, _low_complexity_windows_np)
    codes = np.frombuffer(s.encode("utf-32-le"),
                          dtype="<u4").astype(np.int64)
    low = _islower_np(codes)
    assert [bool(x) for x in low] == [c.islower() for c in s]
    for protein in (False, True):
        got = _low_complexity_windows_np(codes, k, protein)
        want = [word_low_complexity(s[i:i + k], protein)
                for i in range(max(len(s) - k + 1, 0))]
        # both forms now fold per codepoint (fold_case_str semantics:
        # a char whose str.upper() is multi-char, e.g. eszett, stays
        # itself), so they must agree on EVERY window — no exclusions
        for i, (g, w) in enumerate(zip(got, want)):
            assert bool(g) == w, (s, k, i, protein)


@given(st.lists(st.text(alphabet="ARNDCQEGHILKMFPSTWYVarndcqeg",
                        min_size=0, max_size=50),
                min_size=1, max_size=4),
       st.lists(st.text(alphabet="ARNDCQEGHILKMFPSTWYVarndcqeg",
                        min_size=0, max_size=40),
                min_size=1, max_size=3),
       st.integers(2, 4), st.booleans(), st.booleans())
@settings(max_examples=40, deadline=None)
def test_blastp_block_equals_sequential(subject_seqs, query_seqs, k,
                                        gapped, two_hit):
    """The BLOCK-batched blastp path (the production route) must emit
    byte-identical rows, in identical order, to the sequential
    per-seed oracle concatenated per query — for ANY protein corpus,
    mixed case with fold_case + lcase_masking on, gapped or not,
    one-hit or two-hit seeding."""
    from mr_mpi_blast_spark.kernel.builtin import align_block
    subjects = [(f"s{i}", s) for i, s in enumerate(subject_seqs)]
    cfg = BlastConfig(task="blastp", word_size=k, min_score=k,
                      gapped=gapped, lcase_masking=True,
                      window_size=20 if two_hit else None)
    idx = SubjectIndex(subjects, k, 4096, protein=True, fold_case=True)
    queries = list(enumerate(query_seqs))
    df = align_block(queries, idx, cfg)
    got = [tuple(v if isinstance(v, str) else int(v) for v in r)
           for r in df.itertuples(index=False, name=None)]
    ref = []
    for qid, q in queries:
        ref.extend(tuple(r) for r in
                   _align_query_sequential(qid, q, idx, cfg))
    assert got == ref


@pytest.mark.slow
def test_ordered_prefix_sum_cache_consistency(spark):
    """The content-addressed histogram/pack cache must be a pure
    optimization: cached and uncached invocations produce identical
    prefix sums, and distinct keys never share an entry."""
    from mr_mpi_blast_spark.operators.blocks import (_HIST_CACHE,
                                                     ordered_prefix_sum)
    rows = [(i * 7 % 1000, (i % 13) + 1) for i in range(400)]
    df = (spark.createDataFrame(rows, "k long, v long")
          .groupBy("k").agg({"v": "sum"}).withColumnRenamed("sum(v)", "v"))
    base = {r.k: r.ps for r in
            ordered_prefix_sum(df, "v", ["k"], "ps").collect()}
    key = "test_opsum_cache:v1"
    _HIST_CACHE.pop((key, 1024), None)
    first = {r.k: r.ps for r in
             ordered_prefix_sum(df, "v", ["k"], "ps",
                                cache_key=key).collect()}
    assert (key, 1024) in _HIST_CACHE
    second = {r.k: r.ps for r in
              ordered_prefix_sum(df, "v", ["k"], "ps",
                                 cache_key=key).collect()}
    assert base == first == second
    # exclusive prefix sum sanity: min key has offset 0, strictly
    # nondecreasing in key order
    ks = sorted(base)
    assert base[ks[0]] == 0
    assert all(base[a] <= base[b] for a, b in zip(ks, ks[1:]))
    other = "test_opsum_cache:v2"
    ordered_prefix_sum(df, "v", ["k"], "ps", cache_key=other).collect()
    assert (other, 1024) in _HIST_CACHE and (key, 1024) in _HIST_CACHE


def _naive_skyline(points):
    """Quadratic dominance check — the definition itself."""
    out = []
    for i, (a1, a2) in enumerate(points):
        dominated = any(
            b1 <= a1 and b2 <= a2 and (b1 < a1 or b2 < a2)
            for j, (b1, b2) in enumerate(points) if j != i)
        if not dominated:
            out.append(i)
    return out


@given(st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                min_size=0, max_size=60))
@settings(max_examples=120, deadline=None)
def test_skyline_sweep_equals_naive_dominance(points):
    """The O(n log n) sort-sweep at the heart of skyline_2d must equal
    the quadratic NOT-EXISTS definition for ANY point multiset — the
    tight integer domain forces dense ties and duplicates, the cases
    a sweep gets wrong first. Index-level comparison (not value-level)
    so surviving duplicates must BOTH survive."""
    import pandas as pd
    from mr_mpi_blast_spark.operators.skyline import _sweep

    pdf = pd.DataFrame({"d1": [p[0] for p in points],
                        "d2": [p[1] for p in points]})
    got = sorted(_sweep(pdf, "d1", "d2").index.tolist())
    assert got == _naive_skyline(points)


def _py_hdr_bucket(v: int, sub: int) -> int:
    shift = max(0, v.bit_length() - sub)
    return shift * (1 << sub) + (v >> shift)


@given(st.lists(st.integers(min_value=0, max_value=(1 << 63) - 1),
                min_size=2, max_size=60, unique=True))
@settings(max_examples=40, deadline=None)
def test_hdr_bucket_monotone_and_bounded(vals):
    """The HDR bucket map (operators/profile.py) must be (a) monotone
    nondecreasing in the value — bucket-ordered cumulative counts ARE
    the value CDF, the invariant hdr_quantiles' rank rule stands on —
    and (b) bounded: the bucket's decoded lower bound lb satisfies
    lb <= v < lb + 2^shift with 2^shift <= max(1, v) * 2^-(SUB-1)
    (the stated ~1.6% relative error at SUB_BITS=7)."""
    from mr_mpi_blast_spark.operators.profile import HDR_SUB_BITS
    sub = HDR_SUB_BITS
    svals = sorted(vals)
    buckets = [_py_hdr_bucket(v, sub) for v in svals]
    assert buckets == sorted(buckets)             # monotone
    for v, b in zip(svals, buckets):
        shift, base = divmod(b, 1 << sub)
        lb = base << shift
        assert lb <= v < lb + (1 << shift)
        if v >= (1 << sub):
            assert (1 << shift) <= v / (1 << (sub - 1)) + 1


def test_hdr_bucket_spark_matches_python_mirror(spark):
    """The generated CASE-ladder expression computes exactly the
    python-mirror bucket over a domain sweep crossing every shift
    boundary over the WHOLE non-negative int64 domain, including the
    top arm v >= 2^62 (bit_length 63 -> shift 56; r11 advisory: the
    ladder used to stop at shift 55 and mis-bucketed the top decade
    into the shift-56/57 decode namespace)."""
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.operators.profile import (HDR_SUB_BITS,
                                                      hdr_bucket_spark)
    vals = sorted(v for v in
                  ({0, 1, (1 << 63) - 1} |
                   {(1 << p) + d for p in range(1, 63)
                    for d in (-1, 0, 1, 37)} |
                   {v * 977 + 13 for v in range(0, 2000, 97)})
                  if v < (1 << 63))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.b for r in
           df.select("v", F.expr(hdr_bucket_spark("v")).alias("b"))
           .collect()}
    for v in vals:
        assert got[v] == _py_hdr_bucket(v, HDR_SUB_BITS), v
