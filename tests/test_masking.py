"""F3 masking / seeding options (doc/USERGUIDE:47-50) — builtin-kernel
analogs: -dust/-seg (low-complexity seed drop), -soft_masking
(lowercase subject words excluded from the index), -lcase_masking
(lowercase query words skipped), -window_size (two-hit seeding).

All analogs act at seeding only; extension scores through masked
regions case-insensitively (case is annotation when masking is on).
"""

import dataclasses

import pandas as pd
import pytest

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import SubjectIndex, align_query

from kernel_oracle import (word_index, word_is_lowercase_masked,
                           word_low_complexity)

CFG = BlastConfig(task="blastn", word_size=8, xdrop=20, min_score=8)


def _hits(cfg, query, subjects):
    idx = SubjectIndex(subjects, cfg.word_size, cfg.max_kmer_hits,
                       soft_mask=cfg.subject_soft_mask,
                       complexity=cfg.complexity_filter,
                       protein=cfg.task == "blastp",
                       fold_case=cfg.mask_fold_case)
    return align_query(1, query, idx, cfg)


UNIQ = "ACGTTGACCTGATCGATACGGATCCATG"  # no low-complexity words


def test_word_predicates():
    assert word_is_lowercase_masked("ACgTACGT")
    assert not word_is_lowercase_masked("ACGTACGT")
    assert word_low_complexity("ATATATAT", protein=False)    # dimer repeat
    assert word_low_complexity("AAAAAAAA", protein=False)
    assert not word_low_complexity("ACGTACGT", protein=False)  # 4 distinct
    assert word_low_complexity("AAA", protein=True)
    assert not word_low_complexity("AAT", protein=True)


def test_dust_drops_low_complexity_seeds_only():
    """A poly-A region stops seeding with dust on, but a unique region
    in the same subject still hits."""
    subj = [("s1", "A" * 40 + UNIQ)]
    q = "A" * 24
    assert _hits(CFG, q, subj)
    assert not _hits(dataclasses.replace(CFG, dust="yes"), q, subj)
    # unique query unaffected by dust
    assert _hits(dataclasses.replace(CFG, dust="yes"), UNIQ, subj)
    # explicit "no" keeps the poly-A hit
    assert _hits(dataclasses.replace(CFG, dust="no"), q, subj)


def test_soft_masking_excludes_masked_subject_from_seeding():
    masked = UNIQ.lower()
    subj = [("s1", masked + "TTTTGGGGCCCCAAAA")]
    cfg = dataclasses.replace(CFG, soft_masking=True)
    # query identical to the masked region: no seed words survive
    assert not _hits(cfg, UNIQ, subj)
    # without soft_masking the (case-sensitive) index still seeds the
    # lowercase region only for a lowercase query; with fold the
    # uppercase query matches — prove the default path is untouched
    assert _hits(CFG, masked, subj)


def test_soft_masking_extension_scores_through_mask():
    """Seed lands in unmasked sequence; the alignment must extend INTO
    the adjacent masked (lowercase) region and still count matches —
    the soft-masking contract."""
    core = "ACGGATCCATGATCGA"
    subj = [("s1", core.lower() + UNIQ)]
    cfg = dataclasses.replace(CFG, soft_masking=True)
    hits = _hits(cfg, core + UNIQ, subj)
    assert hits
    best = max(hits, key=lambda h: h[2])
    # full-length alignment: extension crossed the case boundary
    assert best[3] == len(core + UNIQ)
    assert best[4] == len(core + UNIQ)   # every position identical


def test_lcase_masking_skips_lowercase_query_words():
    subj = [("s1", UNIQ + "TTTTGGGGCCCCAAAA")]
    cfg = dataclasses.replace(CFG, lcase_masking=True)
    assert not _hits(cfg, UNIQ.lower(), subj)     # fully masked query
    assert _hits(cfg, UNIQ, subj)                  # unmasked query fine
    # masked prefix, unmasked suffix: seeds only from the suffix, but
    # leftward extension reaches back through the masked prefix (the
    # subject carries two copies so there is sequence to align against)
    half = len(UNIQ)
    q = UNIQ.lower() + UNIQ
    hits = _hits(cfg, q, [("s1", UNIQ + UNIQ)])
    assert hits
    assert any(h[6] < half for h in hits)  # qstart0 inside masked prefix


def test_two_hit_window():
    """window_size: lone seeds don't extend; two same-diagonal seeds
    within the window do."""
    q = UNIQ
    subj = [("s1", "T" * 10 + UNIQ + "T" * 10)]
    cfg = dataclasses.replace(CFG, window_size=len(UNIQ))
    assert _hits(cfg, q, subj)          # consecutive seeds on one diagonal
    # query sharing only ONE word with the subject -> single seed -> no hit
    lone = UNIQ[:8] + "TTTTAAAAGGGGCCCC"
    assert _hits(CFG, lone, subj)
    assert not _hits(dataclasses.replace(CFG, window_size=4), lone, subj)


def test_ncbi_kernel_forwards_masking_flags():
    """The NCBI command line carries the F3 options verbatim."""
    from mr_mpi_blast_spark.kernel import ncbi

    captured = {}

    def fake_run(cmd, **kw):
        captured["cmd"] = cmd

        class R:
            stdout = ""
        return R()

    cfg = dataclasses.replace(
        CFG, dust="20 64 1", soft_masking=True, lcase_masking=True,
        window_size=0, extra_opts=("-num_descriptions", "500"))
    kernel = ncbi.make_ncbi_block_kernel("/tmp/nowhere", cfg, gen="g",
                                         dbsize=1000)
    ncbi._DB_CACHE["/tmp/nowhere:p0:g"] = "/tmp/nowhere/db"
    real_run = ncbi.subprocess.run
    real_exists = ncbi.os.path.exists
    ncbi.subprocess.run = fake_run
    ncbi.os.path.exists = lambda p: True
    try:
        kernel(pd.DataFrame({"qid": [1], "seq": ["ACGT"],
                             "db_part": ["p0"]}))
    finally:
        ncbi.subprocess.run = real_run
        ncbi.os.path.exists = real_exists
        ncbi._DB_CACHE.clear()
    cmd = captured["cmd"]
    assert cmd[cmd.index("-dust") + 1] == "20 64 1"
    assert cmd[cmd.index("-soft_masking") + 1] == "true"
    assert "-lcase_masking" in cmd
    assert cmd[cmd.index("-window_size") + 1] == "0"
    assert cmd[cmd.index("-num_descriptions") + 1] == "500"


def test_masking_off_is_byte_identical():
    """With every flag at default the index and alignment path must be
    exactly the pre-masking behavior (case-sensitive, no folding)."""
    subj = [("s1", UNIQ.lower() + UNIQ)]
    idx = SubjectIndex(subj, CFG.word_size, CFG.max_kmer_hits)
    assert not idx.fold_case
    assert idx.ext_seqs[0] == subj[0][1]
    # lowercase and uppercase words are distinct seeds
    words = word_index(idx)
    assert UNIQ[:8] in words and UNIQ[:8].lower() in words


@pytest.mark.parametrize("seed", [3, 4])
@pytest.mark.parametrize("protein", [False, True])
def test_masked_hashed_index_equals_reference_build(seed, protein):
    """The masked index is now built hashed (vectorized window drop
    filter); its string view must equal the straightforward per-window
    reference build using the scalar predicates — for random corpora
    with lowercase runs and planted low-complexity repeats."""
    import numpy as np
    rng = np.random.default_rng(seed)
    alpha = "ARNDCQEGHILKMFPSTWYV" if protein else "ACGT"
    k = 3 if protein else 6
    subs = []
    for i in range(6):
        s = "".join(rng.choice(list(alpha), size=80))
        a = int(rng.integers(0, 60))
        s = s[:a] + s[a:a + 12].lower() + s[a + 12:]       # soft-masked run
        b = int(rng.integers(0, 60))
        rep = (alpha[0] * 8) if protein else ("AT" * 4)     # low-complexity
        s = s[:b] + rep + s[b + len(rep):]
        subs.append((f"s{i}", s))
    for soft, comp in [(True, False), (False, True), (True, True)]:
        idx = SubjectIndex(subs, k, 64, soft_mask=soft, complexity=comp,
                           protein=protein)
        ref: dict = {}
        for si, (_, seq) in enumerate(subs):
            for pos in range(len(seq) - k + 1):
                w = seq[pos:pos + k]
                if soft and word_is_lowercase_masked(w):
                    continue
                if comp and word_low_complexity(w, protein):
                    continue
                ref.setdefault(w, []).append((si, pos))
        ref = {w: v for w, v in ref.items() if len(v) <= 64}
        assert word_index(idx) == ref


def test_fold_case_length_preserving_multichar_upper():
    """Regression: a subject containing a codepoint whose str.upper()
    is multi-char (eszett) used to crash the masked fold_case index
    build (mask computed on the original, windows enumerated on a
    LONGER folded string). fold_case_str folds per codepoint and
    preserves length, so coordinates stay aligned end-to-end."""
    from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex,
                                                   fold_case_str)
    assert fold_case_str("acgtß") == "ACGTß"
    assert len(fold_case_str("ARNDßCQEG")) == 9
    idx = SubjectIndex([("s0", "ARNDßCQEG"), ("s1", "arndcqeg")], 3, 64,
                       soft_mask=True, protein=True, fold_case=True)
    # s1 is fully lowercase -> every word soft-masked out; s0's
    # eszett is ITSELF lowercase, so its windows are soft-masked too
    # (the scalar predicate agrees: word_is_lowercase_masked('NDß'))
    words = word_index(idx)
    assert all(si == 0 for hits in words.values() for si, _ in hits)
    assert set(words) == {"ARN", "RND", "CQE", "QEG"}
    # without soft-masking the eszett windows survive, folded in place
    idx2 = SubjectIndex([("s0", "ARNDßCQEG")], 3, 64, complexity=True,
                        protein=True, fold_case=True)
    words2 = word_index(idx2)
    assert "NDß" in words2 and "ßCQ" in words2
