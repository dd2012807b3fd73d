"""blastp scoring fidelity: BLOSUM62 values and the published ungapped
Karlin-Altschul parameters, pinned so a drift in the embedded tables
fails loudly; when NCBI BLAST+ is on PATH, bitscores are compared to
``blastp -outfmt 6`` directly (gated, like the NCBI kernel itself).
"""

import math

import pytest
from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel import ncbi
from mr_mpi_blast_spark.kernel.builtin import (KA_BLOSUM62, KA_NUCL_1_2,
                                               karlin_altschul_bitscore,
                                               scoring_params)

from kernel_oracle import blosum62_score, pair_scorer

# spot values straight from the published BLOSUM62 table
#   (Henikoff & Henikoff 1992; NCBI data/BLOSUM62)
B62_SPOTS = [("A", "A", 4), ("W", "W", 11), ("C", "C", 9), ("P", "P", 7),
             ("A", "R", -1), ("W", "C", -2), ("N", "D", 1), ("E", "Q", 2),
             ("I", "L", 2), ("K", "R", 2), ("F", "Y", 3), ("D", "E", 2),
             ("G", "P", -2), ("H", "Y", 2), ("*", "*", 1), ("A", "*", -4),
             ("B", "N", 3), ("Z", "E", 4), ("X", "X", -1)]


@pytest.mark.parametrize("a,b,want", B62_SPOTS)
def test_blosum62_spot_values(a, b, want):
    assert blosum62_score(a, b) == want
    assert blosum62_score(b, a) == want          # symmetric
    assert blosum62_score(a.lower(), b.lower()) == want


def test_blosum62_unknown_chars_score_as_x():
    assert blosum62_score(" ", "A") == blosum62_score("X", "A")
    assert blosum62_score("7", "!") == blosum62_score("X", "X")
    assert blosum62_score("J", "J") == blosum62_score("X", "X")


def test_ka_params_pinned():
    """The published ungapped constants: blastn +1/-2 and BLOSUM62."""
    assert KA_NUCL_1_2 == (1.33, 0.621, 1.12)
    assert KA_BLOSUM62 == (0.3176, 0.134, 0.4012)
    assert scoring_params(BlastConfig(task="blastp")) == KA_BLOSUM62
    assert scoring_params(BlastConfig(task="blastn")) == KA_NUCL_1_2


def test_bitscore_formula_blastp():
    """bit = (lambda*S - ln K)/ln 2 with BLOSUM62 constants: a raw
    score of 100 is 48.72 bits (hand-computed from the published
    lambda=0.3176, K=0.134)."""
    bit = karlin_altschul_bitscore(100, KA_BLOSUM62)
    want = (0.3176 * 100 - math.log(0.134)) / math.log(2.0)
    assert bit == pytest.approx(want, rel=1e-12)
    assert bit == pytest.approx(48.7197, abs=5e-4)


def test_pair_scorer_dispatch():
    sp = pair_scorer(BlastConfig(task="blastp"))
    sn = pair_scorer(BlastConfig(task="blastn", reward=2, penalty=-3))
    assert sp("A", "A") == 4 and sp("A", "R") == -1
    assert sn("A", "A") == 2 and sn("A", "C") == -3


def test_blastp_self_alignment_scores_diagonal(spark):
    """An exact protein self-match scores the sum of diagonal BLOSUM62
    entries — the seed/extension path must use the matrix, not +1/-2."""
    from mr_mpi_blast_spark.plans.pipeline import run_search
    pep = "MKVLAAGITWYHRDENPQCS" * 10                 # 200 residues
    queries = spark.createDataFrame(
        [(1, "q", "q", pep, len(pep))],
        "qid long, defline string, defline_part string, seq string, length int")
    subjects = spark.createDataFrame(
        [("s_self", "s_self", "p0", pep, len(pep)),
         ("s_other", "s_other", "p0", "G" * 200, 200)],
        "sid string, defline string, db_part string, seq string, length int")
    cfg = BlastConfig(task="blastp", word_size=8, evalue=10.0,
                      max_kmer_hits=512)
    hits = run_search(queries, subjects, cfg)
    top = hits.filter(F.col("sid") == "s_self") \
              .orderBy(F.col("bitscore").desc()).first()
    diag = sum(blosum62_score(c, c) for c in pep)
    lam, k, _ = KA_BLOSUM62
    assert top.ident == 100.0
    assert top.bitscore == pytest.approx(
        (lam * diag - math.log(k)) / math.log(2.0), rel=1e-9)


@pytest.mark.skipif(not ncbi.available("blastp"),
                    reason="NCBI BLAST+ not installed")
def test_blastp_bitscore_matches_ncbi(spark):      # pragma: no cover
    """Golden vs the real engine when present: ungapped blastp on an
    exact match reports the same bitscore within BLAST's rounding."""
    pep = "MKVLAAGITWYHRDENPQCS" * 10
    queries = spark.createDataFrame(
        [(1, "q", "q", pep, len(pep))],
        "qid long, defline string, defline_part string, seq string, length int")
    subjects = spark.createDataFrame(
        [("s_self", "s_self", "p0", pep, len(pep))],
        "sid string, defline string, db_part string, seq string, length int")
    cfg = BlastConfig(task="blastp", word_size=8, evalue=10.0)
    ours = run_search(queries, subjects, cfg).orderBy(
        F.col("bitscore").desc()).first()
    theirs = ncbi.run_search_ncbi(queries, subjects, cfg).orderBy(
        F.col("bitscore").desc()).first()
    assert ours.bitscore == pytest.approx(theirs.bitscore, rel=0.02)


def test_vectorized_extension_equals_sequential():
    """The numpy X-drop extension is semantics-identical to the
    sequential walk (first-maximum ties, strict improvement, drop
    break) — including across chunk boundaries."""
    import random

    from kernel_oracle import _b62_row, _extend_dir, _extend_rows, _extend_vec
    from mr_mpi_blast_spark.kernel.builtin import encode_protein
    rng = random.Random(7)
    alpha = "ARNDCQEGHILKMFPSTWYVBZX abcdefg!?"
    for _ in range(800):
        n = rng.randint(20, 300)
        q = "".join(rng.choice(alpha) for _ in range(n))
        s = list("".join(rng.choice(alpha)
                         for _ in range(rng.randint(20, 300))))
        k = rng.randint(3, 8)
        qpos = rng.randint(0, n - k)
        spos = rng.randint(0, len(s) - k)
        s[spos:spos + k] = q[qpos:qpos + k]
        s = "".join(s)
        xdrop = rng.choice([5, 20, 100, 2000])
        qrows = [_b62_row(c) for c in q]
        seed = sum(qrows[qpos + i][q[qpos + i]] for i in range(k))
        a = _extend_rows(q, s, qpos, spos, k, qrows, seed, xdrop)
        qo, qi = encode_protein(q)
        so, si = encode_protein(s)
        assert a == _extend_vec(qo, qi, so, si, qpos, spos, k, seed, xdrop)
        # the hybrid (sequential prefix -> numpy handoff) used by the
        # kernel must agree too
        assert a == _extend_vec(qo, qi, so, si, qpos, spos, k, seed,
                                xdrop, q=q, s=s, qrows=qrows)
        # tiny chunks stress the cross-chunk best/drop carry
        gain, ext = _extend_dir(qi[qpos + k:], si[spos + k:], xdrop, chunk=3)
        gain2, ext2 = _extend_dir(qi[qpos + k:], si[spos + k:], xdrop)
        assert (gain, ext) == (gain2, ext2)
