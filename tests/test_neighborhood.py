"""blastp neighborhood-word seeding (-threshold): the builtin kernel's
T-threshold semantics vs real BLAST's word-table model.

The reference gets this from NCBI (kernel call mrblast.cpp:929;
supported-options contract doc/USERGUIDE:53-66): protein searches with
short words (word_size=3) seed on every subject word scoring >= T
against the query word under BLOSUM62, not just exact matches. These
tests pin the builtin implementation: exhaustive-enumeration parity
for the neighborhood set, a homology that exact seeding provably
misses, and exact-arithmetic score pinning.
"""

import numpy as np

from mr_mpi_blast_spark.config import BlastConfig, apply_blast_cli_opts
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, _B62, _B62_IDX,
                                               align_query,
                                               neighborhood_words)

from kernel_oracle import neighborhood_hits

RES20 = "ARNDCQEGHILKMFPSTWYV"


def _score(a: str, b: str) -> int:
    return int(sum(_B62[_B62_IDX[ord(x)], _B62_IDX[ord(y)]]
                   for x, y in zip(a, b)))


def _brute_neighborhood(word: str, t: int) -> dict[str, int]:
    out = {}
    for a in RES20:
        for b in RES20:
            for c in RES20:
                w = a + b + c
                s = _score(word, w)
                if s >= t:
                    out[w] = s
    return out


def test_neighborhood_matches_exhaustive_enumeration():
    """Branch-and-bound enumeration == brute force over 20^3 for a
    high-, mid-, and low-self-scoring word."""
    for word in ("WCH", "AKE", "AAA"):
        got = dict(neighborhood_words(word, 11))
        assert got == _brute_neighborhood(word, 11), word


def test_low_complexity_word_below_t_has_no_seeds():
    """AAA self-score 12 >= 11 keeps itself; at T=13 it must vanish —
    a query word whose self-score is below T produces NO seed for
    itself (real -threshold semantics)."""
    assert ("AAA", 12) in neighborhood_words("AAA", 11)
    assert all(w != "AAA" for w, _ in neighborhood_words("AAA", 13))


def test_threshold_seeds_homology_exact_seeding_misses():
    """Subject = query with every 3rd residue substituted: no length-3
    window matches exactly (each window spans a substituted position),
    so exact seeding finds nothing — neighborhood seeding at T=11
    finds the full-diagonal homology."""
    q = "CWY" * 5
    s = "AWY" * 5                       # C->A scores 0; word AWY vs CWY = 18
    assert all(q[i:i + 3] != s[j:j + 3]
               for i in range(len(q) - 2) for j in range(len(s) - 2))

    exact_cfg = BlastConfig(task="blastp", word_size=3, min_score=15)
    nb_cfg = BlastConfig(task="blastp", word_size=3, min_score=15,
                         threshold=11)
    idx = SubjectIndex([("s1", s)], 3, 64, protein=True)
    assert align_query(1, q, idx, exact_cfg) == []
    hits = align_query(1, q, idx, nb_cfg)
    assert hits
    best = max(hits, key=lambda h: h[2])
    # full diagonal: score = 5 * (B62[C][A] + B62[W][W] + B62[Y][Y])
    assert best[2] == 5 * (0 + 11 + 7)
    assert best[4] == 10                  # ident: W and Y match, C/A differ
    assert best[3] == 15                  # align_len spans the diagonal
    assert (best[6], best[7]) == (0, 14)  # qstart0, qend0


def test_threshold_seed_identity_counts_mismatched_seed():
    """A single neighborhood seed pair with no extension: identity must
    count the ACTUAL matching residues of the seed, not assume k."""
    # query word WCH vs subject word WCN: W=11, C=9, H/N=1 -> 21 >= 11
    q = "WCH"
    s = "WCN"
    cfg = BlastConfig(task="blastp", word_size=3, min_score=5, threshold=11)
    idx = SubjectIndex([("s1", s)], 3, 64, protein=True)
    hits = align_query(1, q, idx, cfg)
    assert len(hits) == 1
    h = hits[0]
    assert h[2] == 21 and h[4] == 2 and h[3] == 3   # score, ident, align_len


def test_threshold_none_is_exact_word_seeding():
    """threshold=None keeps the historical exact-word contract: the
    same near-homology yields nothing."""
    q = "CWY" * 5
    s = "AWY" * 5
    idx = SubjectIndex([("s1", s)], 3, 64, protein=True)
    assert align_query(1, q, idx,
                       BlastConfig(task="blastp", word_size=3,
                                   min_score=15)) == []


def test_threshold_ignored_for_blastn():
    """Nucleotide seeding is exact-match by definition; threshold must
    not perturb blastn."""
    q = "ACGTACGTACGTACGTACGT"
    idx = SubjectIndex([("s1", q)], 11, 64, protein=False)
    base = align_query(1, q, idx, BlastConfig(task="blastn", word_size=11))
    with_t = align_query(1, q, idx, BlastConfig(task="blastn", word_size=11,
                                                threshold=11))
    assert base == with_t and base


def test_threshold_cli_passthrough():
    cfg = apply_blast_cli_opts(BlastConfig(task="blastp"),
                               ["-threshold", "11", "-word_size", "3"])
    assert cfg.threshold == 11 and cfg.word_size == 3


def test_neighborhood_hits_dict_and_hashed_forms_agree():
    """Neighborhood candidates from the masked index (complexity
    filter on — low-complexity words dropped at build time) must be a
    subset of the unmasked index's, with identical entries for every
    word both forms keep."""
    rng = np.random.default_rng(7)
    s = "".join(rng.choice(list(RES20), 200))
    plain = SubjectIndex([("s1", s)], 3, 64, protein=True)
    masked = SubjectIndex([("s1", s)], 3, 64, protein=True,
                          complexity=True)
    for word in ("WCH", "AKE", "LIV"):
        h1 = sorted((tuple(sorted(h)), sc, idn)
                    for h, sc, idn in neighborhood_hits(plain, word, 11))
        # the masked build drops low-complexity words from the index;
        # compare only words both forms index
        h2 = sorted((tuple(sorted(h)), sc, idn)
                    for h, sc, idn in neighborhood_hits(masked, word, 11))
        for entry in h2:
            assert entry in h1
