"""Gapped (affine) extension: exact-arithmetic checks of the Gotoh DP
and the stage-2 hookup in align_query (a block of one through
align_block). No Spark session needed."""
import dataclasses

import numpy as np
import pytest

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, _B62, _B62_IDX,
                                               _gotoh_traceback, align_query,
                                               gapped_extend_batch,
                                               gotoh_local_batch)

from kernel_oracle import gapped_extend, gotoh_local

# 20 distinct residues inside the BLOSUM62 alphabet
RES = "ARNDCQEGHILKMFPSTWYV"


def _self_score(s: str) -> int:
    return int(sum(_B62[_B62_IDX[ord(c)], _B62_IDX[ord(c)]] for c in s))


def test_gotoh_exact_match_is_ungapped():
    score, a0, a1, b0, b1, ident, gaps, aln = gotoh_local(
        RES, RES, True, 1, -2, 11, 1)
    assert (score, ident, gaps, aln) == (_self_score(RES), 20, 0, 20)
    assert (a0, a1, b0, b1) == (0, 19, 0, 19)


def test_gotoh_single_insertion_exact_arithmetic():
    """b carries one extra residue mid-sequence: the optimal local
    alignment bridges it with a length-1 gap costing open+extend."""
    a = RES
    b = RES[:10] + "W" + RES[10:]
    score, a0, a1, b0, b1, ident, gaps, aln = gotoh_local(
        a, b, True, 1, -2, 11, 1)
    assert score == _self_score(RES) - (11 + 1)
    assert (ident, gaps, aln) == (20, 1, 21)
    assert (a0, a1) == (0, 19)
    assert (b0, b1) == (0, 20)


def test_gotoh_gap_extension_linear_in_length():
    a = RES
    for glen in (1, 2, 3):
        b = RES[:10] + "W" * glen + RES[10:]
        score, *_rest, gaps, aln = gotoh_local(a, b, True, 1, -2, 11, 1)
        assert score == _self_score(RES) - (11 + glen)
        assert gaps == glen and aln == 20 + glen


def test_gotoh_blastn_scoring():
    a = "ACGTACGTACGTACGTACGT"
    b = a[:10] + "T" + a[10:]
    score, *_rest, ident, gaps, aln = gotoh_local(a, b, False, 1, -2, 5, 2)
    assert score == 20 - (5 + 2)
    assert (ident, gaps, aln) == (20, 1, 21)


def test_gotoh_prefers_mismatch_over_expensive_gap():
    """With a cheap substitution available, the DP must not open a
    gap: one mismatch (-2 vs ~-7 for open+ext) wins."""
    a = "ACGTACGTACGTACGTACGT"
    b = a[:10] + "T" + a[11:]      # substitution, same length
    score, *_rest, ident, gaps, aln = gotoh_local(a, b, False, 1, -2, 5, 2)
    assert gaps == 0 and aln == 20
    assert score == 19 - 2 and ident == 19


def test_align_query_gapped_bridges_insertion():
    """End-to-end stage-2: ungapped seeds on either side of an
    insertion merge into ONE gapped HSP spanning the whole homology."""
    q = RES * 2                                   # 40 residues
    s = RES + "W" + RES                           # insertion at 20
    cfg = BlastConfig(task="blastp", word_size=8, gapped=True,
                      min_score=10, max_kmer_hits=64)
    idx = SubjectIndex([("s1", s)], 8, 64, protein=True)
    hits = align_query(1, q, idx, cfg)
    best = max(hits, key=lambda h: h[2])
    score, align_len, ident, gaps = best[2], best[3], best[4], best[5]
    assert gaps == 1 and align_len == 41 and ident == 40
    assert score == _self_score(RES) * 2 - (11 + 1)
    # full span on both sides (0-based inclusive)
    assert (best[6], best[7]) == (0, 39)          # qstart0, qend0
    assert (best[8], best[9]) == (0, 40)          # sstart0, send0


def test_align_query_default_stays_ungapped():
    q = RES * 2
    s = RES + "W" + RES
    cfg = BlastConfig(task="blastp", word_size=8, min_score=10)
    idx = SubjectIndex([("s1", s)], 8, 64, protein=True)
    hits = align_query(1, q, idx, cfg)
    assert hits and all(h[5] == 0 for h in hits)   # gaps column all 0


def test_scoring_params_keyed_on_gap_costs():
    """blast_stat.c semantics: gapped (lambda, K, H) is a function of
    the actual gap costs. Pin the published blosum62_values rows for
    the default (11,1) and the common alternative (10,2)."""
    import math
    from mr_mpi_blast_spark.kernel.builtin import scoring_params

    p11_1 = scoring_params(BlastConfig(task="blastp", gapped=True))
    assert p11_1 == (0.267, 0.041, 0.14)
    p10_2 = scoring_params(BlastConfig(task="blastp", gapped=True,
                                       gap_open=10, gap_extend=2))
    assert p10_2 == (0.291, 0.075, 0.23)
    # bitscore = (lambda*S - ln K) / ln 2 with the row's constants:
    # raw 100 under (11,1) vs (10,2) differ by the published params
    lam, k, _ = p11_1
    assert round((lam * 100 - math.log(k)) / math.log(2), 2) == 43.13
    lam, k, _ = p10_2
    assert round((lam * 100 - math.log(k)) / math.log(2), 2) == 45.72


def test_scoring_params_rejects_unknown_gap_costs():
    import pytest
    from mr_mpi_blast_spark.kernel.builtin import scoring_params

    with pytest.raises(ValueError, match="gap"):
        scoring_params(BlastConfig(task="blastp", gapped=True,
                                   gap_open=7, gap_extend=1))
    with pytest.raises(ValueError, match="gap"):
        scoring_params(BlastConfig(task="blastn", gapped=True,
                                   gap_open=4, gap_extend=4))
    # ungapped never consults the gapped table
    assert scoring_params(BlastConfig(task="blastp", gap_open=7,
                                      gap_extend=1))


def test_run_search_gapped_pipeline(spark):
    """Full pipeline with gapped=True: gaps column carries real gap
    counts, e-values use the gapped K-A row, schema unchanged."""
    from pyspark.sql import Row
    from mr_mpi_blast_spark.plans.pipeline import run_search

    q = RES * 3
    s_ins = RES + "W" + RES + RES          # one insertion
    queries = spark.createDataFrame([Row(
        qid=1, defline="q1", defline_part="q1", seq=q, length=len(q))])
    subjects = spark.createDataFrame([
        Row(sid="s1", defline="s1", db_part="p0", seq=s_ins,
            length=len(s_ins))])
    cfg = BlastConfig(task="blastp", word_size=8, gapped=True,
                      min_score=10, evalue=10.0)
    hits = run_search(queries, subjects, cfg).collect()
    assert hits
    best = max(hits, key=lambda h: h.bitscore)
    assert best.gaps == 1
    assert best.align_len == len(q) + 1


def test_ka_gapped_explicit_override():
    """Cost pairs absent from the builtin tables run when the user
    supplies the (lambda, K, H) row explicitly; the override also wins
    over a table row when both exist."""
    import pytest as _pytest
    from mr_mpi_blast_spark.kernel.builtin import (KA_GAPPED_BLOSUM62,
                                                   scoring_params)
    # blastn at (2,1): no builtin row -> loud failure without override
    cfg = BlastConfig(task="blastn", gapped=True, gap_open=2, gap_extend=1)
    with _pytest.raises(ValueError, match="ka_gapped"):
        scoring_params(cfg)
    row = (1.28, 0.46, 0.85)
    cfg2 = dataclasses.replace(cfg, ka_gapped=row)
    assert scoring_params(cfg2) == row
    # override precedence over an existing table row
    cfgp = BlastConfig(task="blastp", gapped=True, ka_gapped=row)
    assert scoring_params(cfgp) == row
    assert scoring_params(dataclasses.replace(cfgp, ka_gapped=None)) \
        == KA_GAPPED_BLOSUM62[(11, 1)]


def _pair_score_matrix(a: str, b: str, protein: bool,
                       reward: int, penalty: int) -> np.ndarray:
    """Substitution score for every (a_i, b_j) pair as an (m, n) int
    matrix — BLOSUM62 for protein, reward/penalty for nucleotide."""
    if protein:
        ai, bi = ([_B62_IDX[ord(c) if ord(c) < 256 else ord("X")]
                   for c in s] for s in (a, b))
        return _B62[np.ix_(ai, bi)]
    av = np.array([ord(c) for c in a])
    bv = np.array([ord(c) for c in b])
    return np.where(av[:, None] == bv[None, :], reward, penalty)


def _gotoh_local_scalar(a: str, b: str, protein: bool, reward: int,
                        penalty: int, gap_open: int, gap_extend: int,
                        ) -> tuple[int, int, int, int, int, int, int, int]:
    """The readable per-cell reference for gotoh_local: full H/E/F
    matrices, one Python step per cell, the first maximal cell in
    row-major order by argmax over H. The parity oracle of the kernel's
    row-wise batched sweep."""
    m, n = len(a), len(b)
    if m == 0 or n == 0:
        return (0, 0, 0, 0, 0, 0, 0, 0)
    sub = _pair_score_matrix(a, b, protein, reward, penalty)
    NEG = -(10 ** 6)
    H = np.zeros((m + 1, n + 1), dtype=np.int64)
    E = np.full((m + 1, n + 1), NEG, dtype=np.int64)   # gap in a (left)
    Fv = np.full((m + 1, n + 1), NEG, dtype=np.int64)  # gap in b (up)
    # pointers: H: 0 stop, 1 diag, 2 from E, 3 from F; E/F: 1 = opened
    PH = np.zeros((m + 1, n + 1), dtype=np.int8)
    PE = np.zeros((m + 1, n + 1), dtype=np.int8)
    PF = np.zeros((m + 1, n + 1), dtype=np.int8)
    go = gap_open + gap_extend   # cost of a length-1 gap
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            f_open = H[i - 1, j] - go
            f_ext = Fv[i - 1, j] - gap_extend
            Fv[i, j] = max(f_open, f_ext)
            PF[i, j] = f_open >= f_ext
            e_open = H[i, j - 1] - go
            e_ext = E[i, j - 1] - gap_extend
            E[i, j] = max(e_open, e_ext)
            PE[i, j] = e_open >= e_ext
            diag = H[i - 1, j - 1] + sub[i - 1, j - 1]
            best, ptr = 0, 0
            if diag >= best:
                best, ptr = diag, 1
            if E[i, j] > best:
                best, ptr = E[i, j], 2
            if Fv[i, j] > best:
                best, ptr = Fv[i, j], 3
            H[i, j] = best
            PH[i, j] = ptr
    i, j = divmod(int(np.argmax(H)), n + 1)   # first maximal, row-major
    return _gotoh_traceback(a, b, int(H[i, j]), i, j, PH, PE, PF)


def _random_pairs(rng, alpha: str, count: int, max_len: int):
    """Random pairs, half of them sharing a planted block (so the
    optimum carries gaps), plus the empty and one-residue edge cases."""
    pairs = [("", ""), ("", alpha[0]), (alpha[0], ""), (alpha[0], alpha[0])]
    for _ in range(count):
        a, b = ("".join(rng.choice(list(alpha),
                                   size=int(rng.integers(0, max_len))))
                for _ in range(2))
        if rng.random() < 0.5 and len(a) > 10:
            b = b[:int(rng.integers(0, 15))] + a[2:min(len(a), 40)] + b[:20]
        pairs.append((a, b))
    return pairs


def test_gotoh_vectorized_equals_scalar_reference():
    """The row-wise sweep must reproduce the per-cell reference exactly
    — score, coordinates, identity/gap counts — on random protein and
    DNA pairs with planted homologies, across gap costs including
    gap_open = 0 (go == ge, the edge of the prefix-scan's exactness)."""
    rng = np.random.default_rng(11)
    for t in range(150):
        protein = t % 2 == 0
        alpha = RES if protein else "ACGT"
        la = int(rng.integers(0, 70))
        a = "".join(rng.choice(list(alpha), size=la))
        b = "".join(rng.choice(list(alpha), size=int(rng.integers(0, 70))))
        if rng.random() < 0.5 and la > 10:
            b = a[2:min(la, 40)] + b[:20]      # shared block -> gaps
        go = int(rng.integers(0, 12))
        ge = int(rng.integers(1, 4))
        assert gotoh_local(a, b, protein, 1, -2, go, ge) == \
            _gotoh_local_scalar(a, b, protein, 1, -2, go, ge), (a, b, go, ge)


@pytest.mark.parametrize("protein,rew,pen,go,ge", [
    (True, 1, -2, 11, 1), (True, 1, -2, 0, 1),
    (False, 2, -3, 5, 2), (False, 1, -2, 0, 2)])
def test_gotoh_batch_equals_scalar_reference(monkeypatch, protein, rew, pen,
                                             go, ge):
    """Mixed-size batches: every window but the largest runs with
    padding lanes (j > n_w, i > m_w), which must never leak into its
    score or coordinates. A small cell budget forces many tiles of
    mixed shapes."""
    from mr_mpi_blast_spark.kernel import builtin
    rng = np.random.default_rng(29 + go + ge)
    pairs = _random_pairs(rng, RES if protein else "ACGTN", 40, 60)
    want = [_gotoh_local_scalar(a, b, protein, rew, pen, go, ge)
            for a, b in pairs]
    assert gotoh_local_batch(pairs, protein, rew, pen, go, ge) == want
    monkeypatch.setattr(builtin, "_GOTOH_CELL_BUDGET", 6000)
    assert gotoh_local_batch(pairs, protein, rew, pen, go, ge) == want


@pytest.mark.parametrize("a,b,want", [
    # same row: "ACGT" ends at (4, 4) and at (4, 12); j=4 comes first
    ("ACGT", "ACGTCCCCACGT", (4, 0, 3, 0, 3, 4, 0, 4)),
    # same anti-diagonal, different rows: (4, 8) precedes (8, 4)
    ("AAAACCCC", "CCCCAAAA", (4, 0, 3, 4, 7, 4, 0, 4)),
])
def test_gotoh_tie_takes_first_maximal_cell_row_major(a, b, want):
    """Two cells share the maximal score: the traceback starts from the
    first one in row-major order, in a batch (next to a longer window,
    so this one has padding lanes) and alone."""
    assert _gotoh_local_scalar(a, b, False, 1, -2, 5, 2) == want
    assert gotoh_local(a, b, False, 1, -2, 5, 2) == want
    longer = ("ACGT" * 10, "ACGT" * 12)
    assert gotoh_local_batch([(a, b), longer], False, 1, -2, 5, 2)[0] \
        == want


def test_gapped_extend_batch_pad_ladder():
    """gapped_extend_batch runs every pending window of a pad level in
    one batch; results equal the per-item ladder (gapped_extend),
    including windows that must grow past the first pad."""
    rng = np.random.default_rng(23)
    cfg = BlastConfig(task="blastp", gapped=True)
    items = []
    for _ in range(60):
        q = "".join(rng.choice(list(RES), size=int(rng.integers(40, 300))))
        s = "".join(rng.choice(list(RES), size=int(rng.integers(40, 300))))
        if len(q) > 70 and len(s) > 70:
            s = s[:5] + q[10:60] + s[55:]      # forces pad growth
        qs = int(rng.integers(0, len(q) - 10))
        ss = int(rng.integers(0, len(s) - 10))
        items.append((q, s, qs, min(len(q) - 1, qs + 8),
                      ss, min(len(s) - 1, ss + 8)))
    assert gapped_extend_batch(items, cfg) == \
        [gapped_extend(*it, cfg) for it in items]


def test_gotoh_batch_equals_per_window():
    """Larger mixed-size batches (up to 150 x 150, one tile) equal
    per-window gotoh_local for both alphabets and gap-cost regimes."""
    rng = np.random.default_rng(23)
    for protein, (go, ge) in [(True, (11, 1)), (False, (5, 2))]:
        alpha = list(RES if protein else "ACGT")
        rew, pen = (1, -2) if protein else (2, -3)
        pairs = [("", "A"), ("A", ""), ("A", "A")]
        for _ in range(200):
            a = "".join(rng.choice(alpha, size=int(rng.integers(0, 150))))
            if rng.random() < 0.5 and len(a) > 20:
                seg = a[5:5 + int(rng.integers(10, min(60, len(a))))]
                b = ("".join(rng.choice(alpha, size=int(rng.integers(0, 30))))
                     + seg
                     + "".join(rng.choice(alpha, size=int(rng.integers(0, 30)))))
            else:
                b = "".join(rng.choice(alpha, size=int(rng.integers(0, 150))))
            pairs.append((a, b))
        got = gotoh_local_batch(pairs, protein, rew, pen, go, ge)
        want = [gotoh_local(a, b, protein, rew, pen, go, ge)
                for a, b in pairs]
        assert got == want


def _sibling_dna() -> tuple[str, str]:
    """Two 900-bp copies of one random ancestor: scattered
    substitutions in both, and in the second a 7-bp insertion, a 5-bp
    and a 2-bp deletion and a 1-bp insertion."""
    rng = np.random.default_rng(5)
    base = "".join(rng.choice(list("ACGT"), size=900))

    def mutate(s, sites):
        s = list(s)
        for p in sites:
            s[p] = "ACGT"[("ACGT".index(s[p]) + 1) % 4]
        return "".join(s)
    a = mutate(base, range(37, 900, 97))
    b = mutate(base, range(61, 900, 113))
    b = (b[:150] + "GATTACA" + b[150:400] + b[405:620] + "T" + b[620:780]
         + b[782:])
    return a, b


def test_align_block_gapped_blastn_golden():
    """Pinned md5 of align_block's RAW_HITS frame for an all-vs-all of
    two sibling sequences under gapped blastn (+2/-3, gaps 5/2): the
    gapped DP's scores, coordinates, ident/gaps/align_len and the
    emission/dedupe order must not move."""
    import hashlib
    from mr_mpi_blast_spark.kernel.builtin import align_block
    a, b = _sibling_dna()
    cfg = BlastConfig(task="blastn", reward=2, penalty=-3, gapped=True,
                      gap_open=5, gap_extend=2, word_size=11)
    idx = SubjectIndex([("a", a), ("b", b)], cfg.word_size, cfg.max_kmer_hits)
    df = align_block([(1, a), (2, b)], idx, cfg)
    assert len(df) == 8 and df["gaps"].max() == 15
    assert hashlib.md5(df.to_csv(index=False).encode()).hexdigest() \
        == "c35025f70e237b4be3790d8d935519e0"


@pytest.mark.parametrize("opt", ["-gapopen", "-gapextend"])
def test_negative_gap_costs_rejected(opt):
    """The row-wise scan is exact only for non-negative gap costs: a
    negative -gapopen/-gapextend raises a ValueError naming the option
    as soon as the effective costs are resolved — also with explicit
    gapped statistics, which skip the table lookup."""
    from mr_mpi_blast_spark.config import apply_blast_cli_opts
    from mr_mpi_blast_spark.kernel.builtin import scoring_params
    cfg = apply_blast_cli_opts(
        BlastConfig(task="blastn", ka_gapped=(0.625, 0.41, 0.78)),
        [opt, "-1"])
    assert cfg.gapped
    with pytest.raises(ValueError, match=opt):
        scoring_params(cfg)
    with pytest.raises(ValueError, match=opt):
        gapped_extend_batch([("ACGT" * 10, "ACGT" * 10, 0, 10, 0, 10)], cfg)
    with pytest.raises(ValueError, match="gap costs"):
        gotoh_local("ACGT", "ACGT", False, 1, -2, -1, 2)
