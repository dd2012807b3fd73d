"""Batched-vs-sequential kernel parity.

`align_block` is the kernel's only alignment path: a whole query block
runs as one sentinel-concatenated batch, and `align_query` is a block
of one. Its contract is bit-identical rows, in identical order, to
`_align_query_sequential` (tests/kernel_oracle.py) — the readable
per-seed loop that serves as the semantic oracle. Randomized corpora
with planted homologies exercise the cases where the two
implementations could plausibly diverge: multi-seed diagonals
(coverage dedupe), seeds below min_raw_score (coverage must still
update), gapped stage-2 convergence dedupe, lowercase query masking,
and case folding — per query through `align_query`, and per block
through `align_block`.
"""

import numpy as np
import pytest

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, _extend_batch,
                                               align_query, encode_protein)

from kernel_oracle import _align_query_sequential, _extend_vec, encoded

RES20 = "ARNDCQEGHILKMFPSTWYV"


def _rand_protein(rng: np.random.Generator, n: int) -> str:
    return "".join(rng.choice(list(RES20), size=n))


def _mutate(rng: np.random.Generator, s: str, rate: float) -> str:
    out = list(s)
    for i in range(len(out)):
        if rng.random() < rate:
            out[i] = RES20[rng.integers(20)]
    return "".join(out)


def _corpus(seed: int, n_subjects: int = 8, sub_len: int = 120,
            n_queries: int = 6, q_len: int = 80):
    """Subjects plus queries stitched from mutated subject fragments, so
    seeds exist, chain on shared diagonals, and straddle min_raw_score."""
    rng = np.random.default_rng(seed)
    subjects = [(f"s{i}", _rand_protein(rng, sub_len))
                for i in range(n_subjects)]
    queries = []
    for qn in range(n_queries):
        src = subjects[rng.integers(n_subjects)][1]
        a = int(rng.integers(0, max(1, len(src) - q_len)))
        frag = _mutate(rng, src[a:a + q_len], rate=0.08)
        # duplicate a window inside the query -> repeated seeds on
        # shifted diagonals (stresses the coverage/dedupe machinery)
        w = frag[10:30]
        frag = frag[:50] + w + frag[70:]
        queries.append((qn, frag))
    return subjects, queries


def _run_both(subjects, queries, cfg, fold_case=False, lcase=None):
    idx = SubjectIndex(subjects, cfg.word_size, 4096, protein=True,
                       fold_case=fold_case)
    batched, sequential = [], []
    for qid, q in queries:
        if lcase is not None:
            q = lcase(q)
        got = align_query(qid, q, idx, cfg)
        batched.extend(got)
        sequential.extend(_align_query_sequential(qid, q, idx, cfg))
    return batched, sequential


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("gapped", [False, True])
def test_batched_parity(seed, gapped):
    """Default blastp config (the flagship blast_pipeline shape):
    batched rows == sequential rows, exactly, including order."""
    subjects, queries = _corpus(seed)
    cfg = BlastConfig(task="blastp", word_size=4, gapped=gapped)
    assert cfg.threshold is None and not cfg.window_size
    batched, sequential = _run_both(subjects, queries, cfg)
    assert batched == sequential
    assert len(batched) > 0, "corpus must actually produce hits"


@pytest.mark.parametrize("seed", [11, 12])
def test_batched_parity_lcase_masking(seed):
    """-lcase_masking with fold_case: lowercase query windows must not
    seed on either path, and extension still scores through them."""
    rng = np.random.default_rng(seed)

    def lcase(q):
        # lowercase two random runs of the query
        out = list(q)
        for _ in range(2):
            a = int(rng.integers(0, len(out) - 12))
            for i in range(a, a + 12):
                out[i] = out[i].lower()
        return "".join(out)

    subjects, queries = _corpus(seed)
    cfg = BlastConfig(task="blastp", word_size=4, lcase_masking=True)
    batched, sequential = _run_both(subjects, queries, cfg,
                                    fold_case=True, lcase=lcase)
    assert batched == sequential
    assert len(batched) > 0


def test_batched_parity_min_score_coverage():
    """A seed whose extension scores below min_raw_score must still
    mark diagonal coverage on both paths (emission differs from
    coverage — the subtlest sequential semantic)."""
    subjects, queries = _corpus(21)
    cfg = BlastConfig(task="blastp", word_size=4, min_score=30)
    batched, sequential = _run_both(subjects, queries, cfg)
    assert batched == sequential


@pytest.mark.parametrize("seed", [31, 32, 33])
def test_batched_extension_parity(seed):
    """_extend_batch over N seeds == _extend_vec per seed, on the same
    volume: gain, extension length, and identity count all match."""
    rng = np.random.default_rng(seed)
    subjects = [(f"s{i}", _rand_protein(rng, 150)) for i in range(4)]
    q = _mutate(rng, subjects[1][1][10:130], 0.1)
    k = 4
    idx = SubjectIndex(subjects, k, 4096, protein=True)
    cord, crow, offs = idx.ords, idx.rows, idx.offs
    qo, qi_arr = encode_protein(q)

    # exact-word seeds, found by scanning (independent of the index)
    seeds = []
    for si, (_, s) in enumerate(subjects):
        for qpos in range(len(q) - k + 1):
            w = q[qpos:qpos + k]
            at = s.find(w)
            while at >= 0:
                seeds.append((qpos, si, at))
                at = s.find(w, at + 1)
    assert seeds, "need at least one seed"
    sq = np.array([t[0] for t in seeds], dtype=np.int64)
    ssi = np.array([t[1] for t in seeds], dtype=np.int64)
    ssp = np.array([t[2] for t in seeds], dtype=np.int64)
    gpos = offs[ssi] + ssp

    xdrop = 16
    gain_r, ext_r, m_r = _extend_batch(qi_arr, qo, crow, cord,
                                       sq + k, gpos + k, +1, xdrop)
    gain_l, ext_l, m_l = _extend_batch(qi_arr, qo, crow, cord,
                                       sq - 1, gpos - 1, -1, xdrop)
    enc = encoded(idx)
    for t, (qpos, si, spos) in enumerate(seeds):
        so, si_arr2 = enc[si]
        score, qs, qe, ss, se, ident = _extend_vec(
            qo, qi_arr, so, si_arr2, qpos, spos, k, 0, xdrop)
        assert int(gain_r[t] + gain_l[t]) == score, seeds[t]
        assert int(sq[t] - ext_l[t]) == qs
        assert int(sq[t] + k - 1 + ext_r[t]) == qe
        assert k + int(m_r[t] + m_l[t]) == ident


@pytest.mark.parametrize("seed", [41, 42])
@pytest.mark.parametrize("gapped", [False, True])
def test_batched_parity_neighborhood(seed, gapped):
    """Realistic blastp shape — word_size=3, T=11 neighborhood seeding:
    the batched path carries per-seed (score, ident) arrays and must
    equal the sequential oracle exactly."""
    subjects, queries = _corpus(seed, n_subjects=5, sub_len=90,
                                n_queries=4, q_len=60)
    cfg = BlastConfig(task="blastp", word_size=3, threshold=11,
                      gapped=gapped)
    batched, sequential = _run_both(subjects, queries, cfg)
    assert batched == sequential
    assert len(batched) > 0


def test_batched_parity_neighborhood_lcase():
    rng = np.random.default_rng(51)

    def lcase(q):
        a = int(rng.integers(0, len(q) - 15))
        return q[:a] + q[a:a + 15].lower() + q[a + 15:]

    subjects, queries = _corpus(51, n_subjects=5, sub_len=90,
                                n_queries=4, q_len=60)
    cfg = BlastConfig(task="blastp", word_size=3, threshold=11,
                      lcase_masking=True)
    batched, sequential = _run_both(subjects, queries, cfg,
                                    fold_case=True, lcase=lcase)
    assert batched == sequential


@pytest.mark.parametrize("window", [10, 40])
def test_batched_parity_two_hit(window):
    """-window_size (two-hit seeding) through the batched path: the
    pending-seed scan is replayed with a precomputed next-trigger
    table; rows must match the sequential oracle exactly."""
    subjects, queries = _corpus(61)
    cfg = BlastConfig(task="blastp", word_size=4, window_size=window)
    batched, sequential = _run_both(subjects, queries, cfg)
    assert batched == sequential
    assert batched, "corpus must produce two-hit extensions"


def test_batched_parity_two_hit_neighborhood():
    """Realistic blastp shape: -threshold AND -window_size together
    (neighborhood seeds feeding the two-hit trigger scan)."""
    subjects, queries = _corpus(62, sub_len=90, q_len=60)
    cfg = BlastConfig(task="blastp", word_size=3, threshold=11,
                      window_size=40, min_score=18)
    batched, sequential = _run_both(subjects, queries, cfg)
    assert batched == sequential
    assert batched


# ---------------------------------------------------------------------------
# blastn batched path (round 5): both strands, reward/penalty scoring
# ---------------------------------------------------------------------------

NUCS = "ACGT"


def _rand_dna(rng: np.random.Generator, n: int) -> str:
    return "".join(rng.choice(list(NUCS), size=n))


def _mutate_dna(rng: np.random.Generator, s: str, rate: float) -> str:
    out = list(s)
    for i in range(len(out)):
        if rng.random() < rate:
            out[i] = NUCS[rng.integers(4)]
    return "".join(out)


def _corpus_dna(seed: int, n_subjects: int = 8, sub_len: int = 160,
                n_queries: int = 6, q_len: int = 90, word: int = 8):
    """DNA subjects plus queries stitched from mutated fragments of
    BOTH orientations, so minus-strand hits exist and seeds chain."""
    from mr_mpi_blast_spark.kernel.builtin import revcomp
    rng = np.random.default_rng(seed)
    subjects = [(f"s{i}", _rand_dna(rng, sub_len))
                for i in range(n_subjects)]
    queries = []
    for qn in range(n_queries):
        src = subjects[rng.integers(n_subjects)][1]
        a = int(rng.integers(0, max(1, len(src) - q_len)))
        frag = _mutate_dna(rng, src[a:a + q_len], rate=0.06)
        if qn % 2:                       # half the queries hit on minus
            frag = revcomp(frag)
        w = frag[10:10 + 2 * word]       # duplicated window: multi-seed
        frag = frag[:50] + w + frag[50 + 2 * word:]
        queries.append((qn, frag))
    return subjects, queries


def _run_both_dna(subjects, queries, cfg, fold_case=False, lcase=None):
    idx = SubjectIndex(subjects, cfg.word_size, 4096, protein=False,
                       fold_case=fold_case)
    batched, sequential = [], []
    for qid, q in queries:
        if lcase is not None:
            q = lcase(q)
        batched.extend(tuple(map(int, r[:1])) + (r[1],)
                       + tuple(map(int, r[2:]))
                       for r in align_query(qid, q, idx, cfg))
        sequential.extend(_align_query_sequential(qid, q, idx, cfg))
    return batched, sequential


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("gapped", [False, True])
def test_batched_parity_blastn(seed, gapped):
    subjects, queries = _corpus_dna(seed)
    cfg = BlastConfig(task="blastn", word_size=8, min_score=12,
                      gapped=gapped,
                      ka_gapped=(1.3, 0.5, 1.0) if gapped else None)
    batched, sequential = _run_both_dna(subjects, queries, cfg)
    assert batched == [tuple(r) for r in sequential]
    assert batched  # corpora are built to hit
    # both strands actually exercised
    strands = {r[10] for r in batched}
    assert strands == {1, -1}


@pytest.mark.parametrize("seed", [5, 6])
def test_batched_parity_blastn_reward_penalty(seed):
    """Non-default +2/-3 scoring flows through the batched rp scorer."""
    subjects, queries = _corpus_dna(seed)
    cfg = BlastConfig(task="blastn", word_size=8, reward=2, penalty=-3,
                      min_score=20)
    batched, sequential = _run_both_dna(subjects, queries, cfg)
    assert batched == [tuple(r) for r in sequential]
    assert batched


def test_batched_parity_blastn_lcase_masking():
    subjects, queries = _corpus_dna(9)

    def mask(q):  # lowercase a window -> those words must not seed
        return q[:20] + q[20:44].lower() + q[44:]

    cfg = BlastConfig(task="blastn", word_size=8, min_score=12,
                      lcase_masking=True)
    batched, sequential = _run_both_dna(subjects, queries, cfg,
                                        lcase=mask)
    assert batched == [tuple(r) for r in sequential]


# ---------------------------------------------------------------------------
# Block-level batching: align_block concatenates the WHOLE query block
# (sentinel-separated, like the volume's cat arrays) and runs seed
# collection + extension rounds once per task. Its contract is the
# same bit-identical parity, now at the block level: the emitted
# DataFrame equals the per-query sequential oracle rows concatenated
# in block order.
# ---------------------------------------------------------------------------

from mr_mpi_blast_spark.kernel.builtin import align_block  # noqa: E402


def _norm(rows):
    return [tuple(x if isinstance(x, str) else int(x) for x in r)
            for r in rows]


def _block_vs_sequential(subjects, queries, cfg, protein,
                         fold_case=False, lcase=None):
    idx = SubjectIndex(subjects, cfg.word_size, 4096, protein=protein,
                       fold_case=fold_case)
    if lcase is not None:
        queries = [(qid, lcase(q)) for qid, q in queries]
    df = align_block(queries, idx, cfg)
    got = _norm(df.itertuples(index=False, name=None))
    exp = []
    for qid, q in queries:
        exp.extend(_align_query_sequential(qid, q, idx, cfg))
    return got, _norm(exp)


@pytest.mark.parametrize("seed", [41, 42, 43])
@pytest.mark.parametrize("gapped", [False, True])
def test_block_parity_blastp(seed, gapped):
    subjects, queries = _corpus(seed)
    cfg = BlastConfig(task="blastp", word_size=4, gapped=gapped)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=True)
    assert got == exp
    assert got, "corpus must actually produce hits"


def test_block_parity_blastp_flagship_shape():
    """word_size=16 over text-like queries — the blast_pipeline config
    shape (long words, sparse seeds)."""
    rng = np.random.default_rng(7)
    subjects = [(f"s{i}", _rand_protein(rng, 300)) for i in range(5)]
    queries = []
    for qn in range(8):
        src = subjects[rng.integers(5)][1]
        a = int(rng.integers(0, 150))
        queries.append((qn, _mutate(rng, src[a:a + 120], 0.02)))
    cfg = BlastConfig(task="blastp", word_size=16)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=True)
    assert got == exp
    assert got


@pytest.mark.parametrize("seed", [44, 45])
def test_block_parity_blastp_neighborhood(seed):
    """-threshold (word_size=3, T=11 — realistic blastp) through the
    block-level batch."""
    subjects, queries = _corpus(seed, sub_len=90, q_len=60)
    cfg = BlastConfig(task="blastp", word_size=3, threshold=11,
                      min_score=18)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=True)
    assert got == exp
    assert got


def test_block_parity_blastp_lcase():
    rng = np.random.default_rng(51)

    def lcase(q):
        a = int(rng.integers(0, len(q) - 12))
        return q[:a] + q[a:a + 12].lower() + q[a + 12:]

    subjects, queries = _corpus(51)
    cfg = BlastConfig(task="blastp", word_size=4, lcase_masking=True)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=True,
                                    fold_case=True, lcase=lcase)
    assert got == exp
    assert got


@pytest.mark.parametrize("seed", [61, 62])
@pytest.mark.parametrize("gapped", [False, True])
def test_block_parity_blastn(seed, gapped):
    """Both strands through the block batch: per-query strand-major
    emission order must survive the [plus; minus] stable re-sort."""
    subjects, queries = _corpus_dna(seed)
    cfg = BlastConfig(task="blastn", word_size=8, min_score=12,
                      gapped=gapped,
                      ka_gapped=(1.3, 0.5, 1.0) if gapped else None)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=False)
    assert got == exp
    assert got
    assert {r[10] for r in got} == {1, -1}


def test_block_parity_blastn_rp_lcase():
    subjects, queries = _corpus_dna(71)

    def mask(q):
        return q[:20] + q[20:44].lower() + q[44:]

    cfg = BlastConfig(task="blastn", word_size=8, reward=2, penalty=-3,
                      min_score=20, lcase_masking=True)
    got, exp = _block_vs_sequential(subjects, queries, cfg,
                                    protein=False, lcase=mask)
    assert got == exp


def test_block_parity_single_and_empty():
    """Degenerate blocks: one query, zero queries, queries shorter than
    the word size."""
    subjects, queries = _corpus(81)
    cfg = BlastConfig(task="blastp", word_size=4)
    got, exp = _block_vs_sequential(subjects, queries[:1], cfg,
                                    protein=True)
    assert got == exp
    idx = SubjectIndex(subjects, cfg.word_size, 4096, protein=True)
    assert len(align_block([], idx, cfg)) == 0
    assert len(align_block([(0, "AR")], idx, cfg)) == 0  # < word_size


@pytest.mark.parametrize("seed", [91, 92])
@pytest.mark.parametrize("gapped", [False, True])
def test_block_parity_two_hit(seed, gapped):
    """Two-hit seeding at the block level (blastp)."""
    subjects, queries = _corpus(seed)
    cfg = BlastConfig(task="blastp", word_size=4, window_size=30,
                      gapped=gapped)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=True)
    assert got == exp
    assert got


def test_block_parity_two_hit_blastn():
    """Two-hit seeding on both blastn strands at the block level."""
    subjects, queries = _corpus_dna(93)
    cfg = BlastConfig(task="blastn", word_size=8, min_score=12,
                      window_size=30)
    got, exp = _block_vs_sequential(subjects, queries, cfg,
                                    protein=False)
    assert got == exp
    assert got
    assert {r[10] for r in got} == {1, -1}


def test_block_parity_two_hit_threshold():
    """-threshold + -window_size together through the block batch."""
    subjects, queries = _corpus(94, sub_len=90, q_len=60)
    cfg = BlastConfig(task="blastp", word_size=3, threshold=11,
                      window_size=40, min_score=18)
    got, exp = _block_vs_sequential(subjects, queries, cfg, protein=True)
    assert got == exp
    assert got


def test_align_block_rejects_word_size_mismatch():
    """An index built with one word size cannot serve a config with
    another: its buckets hold k-mers of the wrong length, so seeding
    would silently find nothing. align_block (and align_query, a block
    of one) raise instead of returning an empty frame."""
    subjects, queries = _corpus(83)
    idx = SubjectIndex(subjects, 4, 4096, protein=True)
    cfg = BlastConfig(task="blastp", word_size=3)
    with pytest.raises(ValueError, match="word_size=3 does not match"):
        align_block(queries, idx, cfg)
    with pytest.raises(ValueError, match="word_size=3 does not match"):
        align_query(0, queries[0][1], idx, cfg)
    assert len(align_block(queries, idx,
                           BlastConfig(task="blastp", word_size=4)))
