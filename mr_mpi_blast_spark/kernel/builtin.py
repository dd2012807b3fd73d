"""Builtin deterministic alignment kernel (K1).

The reference's kernel is NCBI C++ BLAST invoked per work item
(mrblast.cpp:700-1176). This engine treats the kernel as pluggable
(SURVEY §7.1): this module is the hermetic default — a deterministic
ungapped seed-and-extend aligner (BLAST's core loop: exact word match
-> X-drop extension -> Karlin-Altschul scoring) in pure Python over
pandas batches, invoked via applyInPandas per query block.

Faithful semantics kept from the reference:
- subject k-mer index built once per DB partition and *cached per
  worker process* across tasks (S7 DB-handle reuse, mrblast.cpp:838-845);
- e-values computed against the effective size of the WHOLE database,
  not the partition (S8, mrblast.cpp:404-433) — the dbsize scalar is
  passed in from a global aggregate;
- both strands searched for nucleotide tasks; kernel reports raw
  forward coordinates + strand signs, the strand swap is a downstream
  projection (P4, mrblast.cpp:1082-1086);
- ultra-frequent seeds are skipped (max_kmer_hits), the low-complexity
  masking analog (F3 -dust);
- F3 masking options (doc/USERGUIDE:47-50) as seeding-level analogs:
  -dust/-seg -> low-complexity seed drop, -soft_masking ->
  lowercase subject words excluded from the index, -lcase_masking ->
  lowercase query words skipped, -window_size -> two-hit seeding.
  All default off (None) so they never perturb runs that don't ask
  for them; the NCBI kernel forwards the real flags instead.

Simplifications vs NCBI BLAST (documented, deterministic): extension
is ungapped by default (gaps column 0), with BLAST's stage-2
affine-gap extension available via BlastConfig(gapped=True) — Gotoh
local DP around HSPs that clear gap_trigger, gap cost open +
L*extend, gapped Karlin-Altschul rows keyed on the actual scoring
scheme (matrix/reward/penalty + gap costs; unknown schemes raise,
calibratable via the kernel/ka_sim.py island estimator).
The gapped DP runs on a window around the ungapped HSP rather than
BLAST+'s unbounded X-drop extension; the window doubles whenever the
alignment touches a growable edge (gapped_extend_batch), so results
are not truncated, but pathological alignments wider than _GAP_PAD_MAX
per side are. blastp seeding defaults to exact word matches; BLAST's
neighborhood-word seeding (words scoring >= T against the query word
under BLOSUM62) is available via BlastConfig(threshold=T), the real
-threshold semantics for short protein words.

Scoring fidelity: blastn uses the configured reward/penalty with the
published ungapped Karlin-Altschul parameters for +1/-2
(lambda=1.33, K=0.621, H=1.12); blastp scores with BLOSUM62 and its
published ungapped parameters (lambda=0.3176, K=0.134, H=0.4012) —
the same constants NCBI's blastp reports for ungapped statistics
(doc/USERGUIDE:46-66 routes -matrix through to the same tables).
Characters outside the 24-letter BLOSUM alphabet score as X.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from mr_mpi_blast_spark.config import BlastConfig

# Raw-output spec version: callers that persist RAW_HITS keyed on input
# content must also key on this, so a kernel change (scoring, seeding,
# extension) invalidates cached raw hits from older code. Bump on any
# change that can alter RAW_HITS values for some config.
KERNEL_SPEC = "k6"

# On-disk subject-index pickle format version: salted into the disk
# cache path ALONGSIDE KERNEL_SPEC, so a storage-layout change (e.g.
# r8's list->numpy window arrays) invalidates published index pickles
# WITHOUT pretending RAW_HITS values changed (KERNEL_SPEC's contract).
INDEX_FORMAT_SPEC = "i3"

# ungapped Karlin-Altschul (lambda, K, H) per scoring system
KA_NUCL_1_2 = (1.33, 0.621, 1.12)         # blastn +1/-2
KA_BLOSUM62 = (0.3176, 0.134, 0.4012)     # blastp BLOSUM62
# Gapped Karlin-Altschul (lambda, K, H) keyed on the ACTUAL gap costs,
# per NCBI blast_stat.c's precomputed tables — the reference forwards
# -gapopen/-gapextend straight to NCBI (doc/USERGUIDE:47-50), where
# blast_stat.c looks up the row matching the costs and ERRORS on
# unsupported pairs. Same contract here: unknown (open, extend) raises
# instead of silently reusing the default-cost constants.
#
# BLOSUM62 rows are the published blosum62_values table (Altschul et
# al. 1997 / NCBI blast_stat.c; reproduced in Korf, Yandell & Bedell,
# "BLAST", O'Reilly 2003, App. B).
KA_GAPPED_BLOSUM62: dict[tuple[int, int], tuple[float, float, float]] = {
    (11, 2): (0.297, 0.082, 0.27),
    (10, 2): (0.291, 0.075, 0.23),
    (9, 2):  (0.279, 0.058, 0.19),
    (8, 2):  (0.264, 0.045, 0.15),
    (7, 2):  (0.239, 0.027, 0.10),
    (6, 2):  (0.201, 0.012, 0.061),
    (13, 1): (0.292, 0.071, 0.23),
    (12, 1): (0.283, 0.059, 0.19),
    (11, 1): (0.267, 0.041, 0.14),   # blastp default costs
    (10, 1): (0.243, 0.024, 0.10),
    (9, 1):  (0.206, 0.010, 0.052),
}
# Gapped nucleotide rows are keyed on the FULL scheme
# (reward, penalty, gap_open, gap_extend): gapped statistics depend on
# the substitution scores as much as the gap costs. (Until round 5
# this table was keyed on gap costs alone under a "+1/-2" label and
# carried (5,2) -> (0.625, 0.275, 0.85); the island-method estimator
# in kernel/ka_sim.py showed that row is really blast_stat.c's
# blastn_values_2_3 entry — +2/-3 with gaps (5,2), the NCBI blastn
# task defaults, {5, 2, 0.625, 0.41, 0.78} — and that +1/-2 under the
# same gap costs behaves nearly ungapped (lambda ~1.33: one gap costs
# 7 while a mismatch costs 2). Simulation reproduces lambda 0.625 and
# K ~0.40 for +2/-3 (5,2); the old K=0.275 was wrong.) Unknown
# schemes raise; calibrate a row with kernel/ka_sim.py or supply
# BlastConfig(ka_gapped=...). UNGAPPED statistics need no table at
# all — kernel/ka.py solves Karlin-Altschul 1990 exactly for any
# reward/penalty (validated against the published rows above).
KA_GAPPED_NUCL: dict[tuple[int, int, int, int],
                     tuple[float, float, float]] = {
    (2, -3, 5, 2): (0.625, 0.41, 0.78),  # NCBI blastn task defaults
}

# BLOSUM62 (Henikoff & Henikoff 1992), the standard 24-letter table as
# shipped with NCBI BLAST (data/BLOSUM62). Row/col order below:
_B62_ALPHA = "ARNDCQEGHILKMFPSTWYVBZX*"
_B62_ROWS = [
    # A   R   N   D   C   Q   E   G   H   I   L   K   M   F   P   S   T   W   Y   V   B   Z   X   *
    [ 4, -1, -2, -2,  0, -1, -1,  0, -2, -1, -1, -1, -1, -2, -1,  1,  0, -3, -2,  0, -2, -1,  0, -4],
    [-1,  5,  0, -2, -3,  1,  0, -2,  0, -3, -2,  2, -1, -3, -2, -1, -1, -3, -2, -3, -1,  0, -1, -4],
    [-2,  0,  6,  1, -3,  0,  0,  0,  1, -3, -3,  0, -2, -3, -2,  1,  0, -4, -2, -3,  3,  0, -1, -4],
    [-2, -2,  1,  6, -3,  0,  2, -1, -1, -3, -4, -1, -3, -3, -1,  0, -1, -4, -3, -3,  4,  1, -1, -4],
    [ 0, -3, -3, -3,  9, -3, -4, -3, -3, -1, -1, -3, -1, -2, -3, -1, -1, -2, -2, -1, -3, -3, -2, -4],
    [-1,  1,  0,  0, -3,  5,  2, -2,  0, -3, -2,  1,  0, -3, -1,  0, -1, -2, -1, -2,  0,  3, -1, -4],
    [-1,  0,  0,  2, -4,  2,  5, -2,  0, -3, -3,  1, -2, -3, -1,  0, -1, -3, -2, -2,  1,  4, -1, -4],
    [ 0, -2,  0, -1, -3, -2, -2,  6, -2, -4, -4, -2, -3, -3, -2,  0, -2, -2, -3, -3, -1, -2, -1, -4],
    [-2,  0,  1, -1, -3,  0,  0, -2,  8, -3, -3, -1, -2, -1, -2, -1, -2, -2,  2, -3,  0,  0, -1, -4],
    [-1, -3, -3, -3, -1, -3, -3, -4, -3,  4,  2, -3,  1,  0, -3, -2, -1, -3, -1,  3, -3, -3, -1, -4],
    [-1, -2, -3, -4, -1, -2, -3, -4, -3,  2,  4, -2,  2,  0, -3, -2, -1, -2, -1,  1, -4, -3, -1, -4],
    [-1,  2,  0, -1, -3,  1,  1, -2, -1, -3, -2,  5, -1, -3, -1,  0, -1, -3, -2, -2,  0,  1, -1, -4],
    [-1, -1, -2, -3, -1,  0, -2, -3, -2,  1,  2, -1,  5,  0, -2, -1, -1, -1, -1,  1, -3, -1, -1, -4],
    [-2, -3, -3, -3, -2, -3, -3, -3, -1,  0,  0, -3,  0,  6, -4, -2, -2,  1,  3, -1, -3, -3, -1, -4],
    [-1, -2, -2, -1, -3, -1, -1, -2, -2, -3, -3, -1, -2, -4,  7, -1, -1, -4, -3, -2, -2, -1, -2, -4],
    [ 1, -1,  1,  0, -1,  0,  0,  0, -1, -2, -2,  0, -1, -2, -1,  4,  1, -3, -2, -2,  0,  0,  0, -4],
    [ 0, -1,  0, -1, -1, -1, -1, -2, -2, -1, -1, -1, -1, -2, -1,  1,  5, -2, -2,  0, -1, -1,  0, -4],
    [-3, -3, -4, -4, -2, -2, -3, -2, -2, -3, -2, -3, -1,  1, -4, -3, -2, 11,  2, -3, -4, -3, -2, -4],
    [-2, -2, -2, -3, -2, -1, -2, -3,  2, -1, -1, -2, -1,  3, -3, -2, -2,  2,  7, -1, -3, -2, -1, -4],
    [ 0, -3, -3, -3, -1, -2, -2, -3, -3,  3,  1, -2,  1, -1, -2, -2,  0, -3, -1,  4, -3, -2, -1, -4],
    [-2, -1,  3,  4, -3,  0,  1, -1,  0, -3, -4,  0, -3, -3, -2,  0, -1, -4, -3, -3,  4,  1, -1, -4],
    [-1,  0,  0,  1, -3,  3,  4, -2,  0, -3, -3,  1, -1, -3, -1,  0, -1, -3, -2, -2,  1,  4, -1, -4],
    [ 0, -1, -1, -1, -2, -1, -1, -1, -1, -1, -1, -1, -1, -1, -2,  0,  0, -2, -1, -1, -1, -1, -1, -4],
    [-4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4, -4,  1],
]

_B62_X = _B62_ALPHA.index("X")


def _b62_index_table() -> np.ndarray:
    """256-entry char-code -> BLOSUM62 row index (unknown -> X)."""
    tbl = np.full(256, _B62_X, dtype=np.intp)
    for i, ch in enumerate(_B62_ALPHA):
        tbl[ord(ch)] = i
        tbl[ord(ch.lower())] = i
    return tbl


_B62_IDX = _b62_index_table()
_B62 = np.array(_B62_ROWS, dtype=np.int32)

# Extended matrix for the batched extension path: row/col _B62_SENT is
# the subject-boundary / out-of-range sentinel, scoring so negative
# that the X-drop test stops an extension the moment it reaches one
# (the batched analog of per-subject array bounds). int32 keeps the
# extension's 2D temporaries half the size (bandwidth is the batched
# path's ceiling); the sentinel is sized so a whole 256-wide chunk of
# sentinels (256 x -4e6 ~ -1.02e9) still cannot wrap int32, yet dwarfs
# any real xdrop. Block-level prefix sums over cats that CONTAIN
# sentinel rows must accumulate in int64 (they do, explicitly).
_B62_SENT = len(_B62_ALPHA)                   # 24
_B62_NEG = -(4 * 10 ** 6)
_B62E = np.full((_B62_SENT + 1, _B62_SENT + 1), _B62_NEG, dtype=np.int32)
_B62E[:_B62_SENT, :_B62_SENT] = _B62


def _b62_rows(ords: np.ndarray) -> np.ndarray:
    """BLOSUM62 row index of each codepoint: -1 (a separator, see
    _ext_ords) -> _B62_SENT, codepoints outside Latin-1 -> X."""
    rows = _B62_IDX[np.where((ords >= 0) & (ords < 256), ords, ord("X"))]
    rows[ords < 0] = _B62_SENT
    return rows


def scoring_params(cfg: BlastConfig) -> tuple[float, float, float]:
    """(lambda, K, H) for the config's scoring system (S8 statistics).

    Gapped runs look up the row matching the EFFECTIVE gap costs
    (blast_stat.c semantics: statistics are a function of the costs,
    not just the matrix). Unsupported cost pairs raise ValueError —
    never silently score with another pair's constants. A user with a
    cost pair this table lacks supplies the row explicitly via
    cfg.ka_gapped=(lambda, K, H) — e.g. copied from their BLAST+
    install's reported statistics — which takes precedence over the
    table. (The alternative — shipping blastn rows from memory without
    the published source at hand — risks silently wrong e-values,
    which is strictly worse than this loud contract.)

    Ungapped runs need no table at all: for any blastn
    reward/penalty the exact Karlin-Altschul 1990 solution is
    computed analytically (kernel/ka.py — the same math NCBI's
    blast_stat.c runs), mirroring the reference's pass-through of
    arbitrary -reward/-penalty (doc/USERGUIDE:47-50). The default
    +1/-2 and blastp BLOSUM62 constants stay pinned to the published
    values; tests assert the solver reproduces both to 4 digits."""
    if cfg.gapped:
        costs = (cfg.gap_open_eff, cfg.gap_extend_eff)   # raises if < 0
        if cfg.ka_gapped is not None:
            return cfg.ka_gapped
        if cfg.task == "blastp":
            table, key = KA_GAPPED_BLOSUM62, costs
        else:
            # gapped nucleotide statistics depend on reward/penalty as
            # much as the gap costs — key on the full scheme
            table, key = KA_GAPPED_NUCL, (cfg.reward, cfg.penalty) + costs
        try:
            return table[key]
        except KeyError:
            raise ValueError(
                f"no gapped Karlin-Altschul parameters for {cfg.task} "
                f"scheme {key}; supported: {sorted(table)}. Either add "
                f"the published blast_stat.c row, calibrate one with "
                f"the island-method estimator (kernel/ka_sim.py, "
                f"documented tolerances), or pass the statistics "
                f"explicitly via BlastConfig(ka_gapped=(lambda, K, H))"
            ) from None
    if cfg.task == "blastp":
        return KA_BLOSUM62
    if (cfg.reward, cfg.penalty) == (1, -2):
        return KA_NUCL_1_2
    from mr_mpi_blast_spark.kernel.ka import ka_ungapped_nucl
    return ka_ungapped_nucl(cfg.reward, cfg.penalty)

# Raw kernel output: scoring-space facts only; relational projections
# (P2-P9) happen downstream as column expressions.
RAW_HITS = StructType([
    StructField("qid", LongType(), False),
    StructField("sid", StringType(), False),
    StructField("score", IntegerType(), False),
    StructField("align_len", IntegerType(), False),
    StructField("ident_count", IntegerType(), False),
    StructField("gaps", IntegerType(), False),
    StructField("qstart0", IntegerType(), False),
    StructField("qend0", IntegerType(), False),
    StructField("sstart0", IntegerType(), False),
    StructField("send0", IntegerType(), False),
    StructField("qstrand", IntegerType(), False),
    StructField("sstrand", IntegerType(), False),
    StructField("qlen", IntegerType(), False),
])

_COMPLEMENT = str.maketrans("ACGTacgt", "TGCAtgca")

# S7: per-worker subject index cache, keyed by (db_part, generation).
_DB_CACHE: dict = {}


def revcomp(seq: str) -> str:
    return seq.translate(_COMPLEMENT)[::-1]


# the seed-word predicates (lowercase = soft-masked, low complexity =
# -dust/-seg analog), evaluated over a whole concatenation at once:
# tables cover the Latin-1 range the biological alphabets live in;
# rarer codepoints fall back to the exact per-char predicate, and
# separators (_HASH_SEP) are neither lowercase nor folded
_LOWER_TBL = np.array([chr(i).islower() for i in range(256)], dtype=bool)
_UPPER_TBL = np.array(
    [ord(chr(i).upper()) if len(chr(i).upper()) == 1
     and ord(chr(i).upper()) < 2 ** 31 else i for i in range(256)],
    dtype=np.int64)


def _islower_np(codes: np.ndarray) -> np.ndarray:
    out = np.zeros(len(codes), dtype=bool)
    small = codes < 256
    out[small] = _LOWER_TBL[codes[small]]
    for i in np.flatnonzero(~small & (codes < _HASH_SEP)).tolist():
        out[i] = chr(int(codes[i])).islower()
    return out


def _upper_np(codes: np.ndarray) -> np.ndarray:
    out = codes.copy()
    small = codes < 256
    out[small] = _UPPER_TBL[codes[small]]
    for i in np.flatnonzero(~small & (codes < _HASH_SEP)).tolist():
        u = chr(int(codes[i])).upper()
        if len(u) == 1:
            out[i] = ord(u)
    return out


def fold_case_str(s: str) -> str:
    """LENGTH-PRESERVING case fold for sequence data: each character
    maps to its single-codepoint uppercase, or stays itself when
    str.upper() would change the string's length (e.g. eszett ->
    'SS'). Every coordinate in the engine (window positions, HSP
    spans, identity counts) assumes the folded string is positionally
    aligned with the original — plain str.upper() breaks that for a
    handful of codepoints and used to crash the masked index build
    (mask computed on the original, windows enumerated on a
    longer folded string)."""
    codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4")
    folded = _upper_np(codes.astype(np.int64)).astype("<u4")
    return folded.tobytes().decode("utf-32-le")


def _low_complexity_windows_np(codes: np.ndarray, k: int,
                               protein: bool) -> np.ndarray:
    """The builtin dust/seg analog for every length-k window of a
    codepoint array: a seed word is low-complexity when its distinct
    (case-folded, per codepoint) character count collapses to <= 1 for
    protein words, <= 2 for nucleotide words (homopolymer/dimer
    repeats). Far simpler than NCBI's DUST/SEG but catches the same
    seed explosions, and only ever drops seeds. k-1 vectorized passes
    tracking the first and (for nucleotides) second distinct value."""
    nw = len(codes) - k + 1
    if nw <= 0:
        return np.zeros(0, dtype=bool)
    u = _upper_np(codes)
    a = u[:nw]
    if protein:
        ok = np.ones(nw, dtype=bool)
        for j in range(1, k):
            ok &= u[j:j + nw] == a
        return ok
    second = np.full(nw, -1, dtype=np.int64)
    ok = np.ones(nw, dtype=bool)
    for j in range(1, k):
        v = u[j:j + nw]
        isnew = (v != a) & (second == -1)
        second = np.where(isnew, v, second)
        ok &= (v == a) | (v == second)
    return ok


# polynomial rolling-hash base for the vectorized word index (FNV
# prime; uint64 wraparound multiply — collisions are resolved by an
# exact word compare at seed time, so the hash only routes, never
# decides)
_HASH_P = np.uint64(1099511628211)
# separator codepoint beyond U+10FFFF: windows spanning two subjects
# absorb it and can never equal a query word's hash
_HASH_SEP = 0x110000


def _window_hashes(codes: np.ndarray, k: int) -> np.ndarray:
    """Horner-scheme hash of every length-k window of a codepoint
    array: h_i = sum_j codes[i+j] * P^(k-1-j) (mod 2^64). k vectorized
    passes, no per-window Python work."""
    n = len(codes) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    h = codes[:n].astype(np.uint64)
    for j in range(1, k):
        h = h * _HASH_P + codes[j:j + n].astype(np.uint64)
    return h


# the 20 standard residues — the alphabet BLAST enumerates
# neighborhood words over (degenerate codes B/Z/X never seed)
_STD_RES = "ARNDCQEGHILKMFPSTWYV"
_STD_RES_IDX = np.array([_B62_ALPHA.index(r) for r in _STD_RES],
                        dtype=np.intp)


def neighborhood_words(word: str, threshold: int) -> list[tuple[str, int]]:
    """BLAST's blastp neighborhood for one query word: every length-k
    word over the 20 standard residues whose BLOSUM62 score against
    ``word`` is >= threshold, as (neighbor, score) pairs — including
    the query word itself ONLY when its self-score clears the
    threshold (real -threshold semantics: a low-complexity query word
    below T produces no seeds at all).

    Enumeration is branch-and-bound over positions: a prefix is pruned
    the moment prefix_score + max-achievable-suffix < threshold, so
    the cost tracks the neighborhood size (tens of words at the
    default T=11, k=3), not 20^k. Results are memoized per (word, T)
    at the call sites (query vocabularies repeat heavily)."""
    k = len(word)
    qrows = _B62[_b62_rows(np.array([ord(c) for c in word]))][:, _STD_RES_IDX]
    suffix_max = [0] * (k + 1)
    for i in range(k - 1, -1, -1):
        suffix_max[i] = suffix_max[i + 1] + int(qrows[i].max())
    out: list[tuple[str, int]] = []

    def rec(i: int, prefix: str, sc: int) -> None:
        if i == k:
            out.append((prefix, sc))
            return
        row, rem = qrows[i], suffix_max[i + 1]
        for j, r in enumerate(_STD_RES):
            v = int(row[j])
            if sc + v + rem >= threshold:
                rec(i + 1, prefix + r, sc + v)

    rec(0, "", 0)
    return out


def _concat(seqs: list[str], k: int):
    """The one layout of every kernel array, volume and query block
    alike: (codepoints of the sequences concatenated with max(k-1, 1)
    _HASH_SEP separators after each, start offset of each sequence,
    then sequence index, in-sequence position and concatenation offset
    of every length-k window that lies inside one sequence). A window
    spanning two sequences absorbs a separator, so its hash can never
    equal a real word's; an extension reaching one stops there (see
    _ext_ords)."""
    sepw = max(k - 1, 1)
    sep = np.full(sepw, _HASH_SEP, dtype=np.uint32)
    cat = np.concatenate([np.empty(0, dtype=np.uint32)] + [
        c for s in seqs
        for c in (np.frombuffer(s.encode("utf-32-le"), dtype="<u4"), sep)])
    lens = np.array([len(s) for s in seqs], dtype=np.int64)
    offs = np.cumsum(lens + sepw) - (lens + sepw)
    nw = np.maximum(lens - k + 1, 0)
    si = np.repeat(np.arange(len(seqs), dtype=np.int64), nw)
    pos = (np.arange(len(si), dtype=np.int64)
           - np.repeat(np.cumsum(nw) - nw, nw))
    return cat, offs, si, pos, offs[si] + pos


def _ext_ords(cat: np.ndarray) -> np.ndarray:
    """The extension's view of a _concat array: int32 codepoints with
    -1 at separators (never equal to a real character, and scored as
    a stop by both alphabets' extension)."""
    return np.where(cat == _HASH_SEP, -1, cat).astype(np.int32)


def _lower_windows(cat: np.ndarray, win: np.ndarray, k: int) -> np.ndarray:
    """Whether each length-k window of ``cat`` starting at ``win``
    holds a lowercase character: soft-masked subject words and
    -lcase_masking query words."""
    c = np.concatenate(([0], np.cumsum(_islower_np(cat))))
    return (c[win + k] - c[win]) > 0


def _distinct_words(cat: np.ndarray, gpos: np.ndarray, k: int) -> list[str]:
    """One string per run of equal length-k words among the windows
    starting at ``gpos`` (offsets into ``cat``, ordered so that equal
    words sit together, e.g. by window hash). Every distinct word is
    returned; a hash collision that interleaves two words can repeat
    one, which set-building callers absorb. k vectorized compares, no
    per-window Python work."""
    if not len(gpos):
        return []
    new = np.ones(len(gpos), dtype=bool)
    same = np.ones(len(gpos) - 1, dtype=bool)
    for j in range(k):
        same &= cat[gpos[1:] + j] == cat[gpos[:-1] + j]
    new[1:] = ~same
    words = cat[gpos[new][:, None] + np.arange(k)].astype("<u4")
    return words.view(f"<U{k}").ravel().tolist()


def volume_words(seqs: list[str], k: int) -> list[str]:
    """The distinct length-k words of a volume (case as stored): every
    window hashed in k vectorized passes, then sorted once so equal
    words sit together. SubjectIndex.seed_words reads the same list
    off an index build without sorting again."""
    cat, _, _, _, gidx = _concat(seqs, k)
    h = _window_hashes(cat, k)[gidx]
    return _distinct_words(cat, gidx[np.argsort(h)], k)


class SubjectIndex:
    """k-mer -> [(subject_idx, pos)...] over one DB partition.

    soft_mask drops seed words overlapping lowercase (masked) subject
    regions; complexity drops low-complexity words (F3 -dust/-seg
    analogs). Both affect seeding only — extension still scores
    through masked regions, the soft-masking contract.

    fold_case: when masking is in play, case is annotation, not
    sequence (the dustmasker convention BLAST+ consumes) — index keys
    and extension strings are case-folded (length-preserving
    fold_case_str) so a masked region still *matches* during
    extension. Off by default so unmasked runs stay byte-identical.

    The build: all subjects are laid out by _concat, every window
    hashed in k vectorized passes, buckets grouped by a single
    argsort; subject-side masking (soft_mask/complexity) is a
    vectorized window-drop filter inside the same build. Hash
    collisions cannot corrupt results: seed consumers re-verify the
    exact word before extending. Plain arrays, all built here: the
    extension ords of that layout (``ords``, -1 at separators), each
    subject's start in it (``offs``), its BLOSUM row indices (``rows``,
    protein only), the subject ids (``sids``) and the hash buckets
    (``_ukeys``, ``_bstart``/``_bend`` into ``_sis``/``_poss``).
    """

    def __init__(self, subjects: list[tuple[str, str]], word_size: int,
                 max_kmer_hits: int, soft_mask: bool = False,
                 complexity: bool = False, protein: bool = False,
                 fold_case: bool = False):
        self.subjects = subjects
        self.word_size = k = word_size
        self.fold_case = fold_case
        self.max_kmer_hits = max_kmer_hits
        self.ext_seqs = ([fold_case_str(seq) for _, seq in subjects] if fold_case
                         else [seq for _, seq in subjects])
        self.sids = np.array([sid for sid, _ in subjects], dtype=object)
        cat, self.offs, si_arr, pos_arr, gidx = _concat(self.ext_seqs, k)
        self.ords = _ext_ords(cat)
        self.rows = _b62_rows(self.ords) if protein else None
        self._nb_cache: dict = {}
        if (soft_mask or complexity) and len(gidx):
            # subject-side masking as a window drop filter (F3): the
            # predicates see the ORIGINAL casing (case is annotation;
            # self.ext_seqs may be case-folded)
            raw = (_concat([s for _, s in subjects], k)[0] if fold_case
                   else cat)
            drop = np.zeros(len(gidx), dtype=bool)
            if soft_mask:
                drop |= _lower_windows(raw, gidx, k)
            if complexity:
                drop |= _low_complexity_windows_np(raw, k, protein)[gidx]
            si_arr, pos_arr, gidx = si_arr[~drop], pos_arr[~drop], gidx[~drop]
        hv = _window_hashes(cat, k)[gidx]
        # group by hash: stable sort keeps (si asc, pos asc) bucket
        # order — identical iteration order to the dict build
        order = np.argsort(hv, kind="stable")
        hs = hv[order]
        bounds = np.flatnonzero(hs[1:] != hs[:-1]) + 1
        starts = np.concatenate(([0], bounds)) if len(hs) else bounds
        ends = np.concatenate((bounds, [len(hs)])) if len(hs) else bounds
        keep = (ends - starts) <= self.max_kmer_hits
        # sorted-key + bucket-bounds arrays: query words resolve via ONE
        # vectorized searchsorted per query (no dict, no per-bucket
        # Python fill — that loop was most of the build cost).
        # Stored as NUMPY arrays, not lists: a 10x volume carries ~7M
        # windows, and materializing them as Python ints made every
        # index unpickle/evict cycle churn ~600 MB of small objects per
        # worker — 32 concurrent workers degraded cold-start unpickles
        # from <1 s to 80+ s (kernel-mode CPU storm) at the synthesized
        # sf1.0. Flat int64 buffers pickle/unpickle as raw bytes.
        self._ukeys = hs[starts[keep]]
        self._bstart = starts[keep]
        self._bend = ends[keep]
        self._sis = si_arr[order]
        self._poss = pos_arr[order]

    def seed_words(self) -> list[str]:
        """The distinct words of this index's windows (case as in
        ext_seqs), read off the build's hash-sorted window arrays —
        volume_words without its sort. Covers every word of the volume
        only for an unmasked build (soft_mask/complexity drop
        windows); over-frequent words keep their windows even when
        max_kmer_hits drops their bucket."""
        return _distinct_words(self.ords, self.offs[self._sis] + self._poss,
                               self.word_size)

    def buckets_for_hashes(self, qh: np.ndarray) -> np.ndarray:
        """Bucket id (-1 = miss) for an arbitrary array of window
        hashes — the block-batched path hashes a whole query block's
        concatenation once and resolves every window here in one
        searchsorted."""
        if not len(qh) or not len(self._ukeys):
            return np.full(len(qh), -1, dtype=np.int64)
        ii = np.searchsorted(self._ukeys, qh)
        iic = np.minimum(ii, len(self._ukeys) - 1)
        found = self._ukeys[iic] == qh
        return np.where(found, iic, -1)

    def neighborhood_arrays(self, word: str, threshold: int,
                            ) -> tuple[np.ndarray, np.ndarray,
                                       np.ndarray, np.ndarray] | None:
        """Seeding candidates for one query word under -threshold
        semantics, as numpy columns (si, spos, seed_score, seed_ident)
        over every neighborhood word present in this partition, in
        visit order — neighbor enumeration order then bucket (si, spos)
        order — or None when there are none. Memoized per (word, T) on
        the index instance (it is cached per worker across query
        blocks, so the neighborhood of a repeated word is computed once
        per volume, the word-table reuse real BLAST gets). The
        neighbors run through _exact_seeds stacked end to end, one
        word per k positions."""
        key = (word, threshold)
        got = self._nb_cache.get(key, False)
        if got is not False:
            return got
        nbrs = neighborhood_words(word, threshold)
        out = None
        if nbrs:
            k = self.word_size
            wordmat = np.array([[ord(c) for c in w2] for w2, _ in nbrs],
                               dtype=np.int64)
            hits = _exact_seeds(self, wordmat.ravel(),
                                np.arange(len(nbrs), dtype=np.int64) * k, k)
            if hits is not None:
                wp, si, sp = hits
                wi = wp // k
                scs = np.array([sc for _, sc in nbrs], dtype=np.int64)[wi]
                wo = np.array([ord(c) for c in word], dtype=np.int64)
                idvec = (wordmat == wo[None, :]).sum(axis=1)
                out = (si, sp, scs, idvec[wi])
        self._nb_cache[key] = out
        return out


def index_cache_key(cache_key: str, word_size: int, max_kmer_hits: int,
                    soft_mask: bool = False, complexity: bool = False,
                    protein: bool = False, fold_case: bool = False) -> tuple:
    """The full identity of a built index: volume content key + every
    config field that shapes the build. One definition, shared by the
    resident cache, the disk cache, and the format pass — so they can
    never disagree about what 'the same index' means."""
    return (cache_key, word_size, max_kmer_hits, soft_mask, complexity,
            protein, fold_case)


def index_cache_path(key: tuple) -> str | None:
    """Content-keyed pickle path for a built subject index, or None
    when no trustworthy cache dir is available (uid-scoped, 0700:
    loading a pickle from a world-writable shared path would let any
    local user plant code — refuse the cache entirely if the dir
    exists but is not ours). The key is salted with KERNEL_SPEC (value
    changes) and INDEX_FORMAT_SPEC (storage-layout changes) so a
    kernel upgrade OR an index-format change invalidates pickles from
    older code."""
    import hashlib
    import tempfile
    h = hashlib.md5(
        repr((KERNEL_SPEC, INDEX_FORMAT_SPEC, key)).encode()).hexdigest()
    cache_root = os.path.join(
        os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
        f"spark_graft_idx_cache_{os.getuid()}")
    try:
        st = os.stat(cache_root)
        if st.st_uid != os.getuid() or (st.st_mode & 0o077):
            return None
    except FileNotFoundError:
        pass    # created (0700) at publish time
    return os.path.join(cache_root, h + ".pkl")


def _publish_index(idx: SubjectIndex, path: str) -> None:
    """Atomically publish a built index pickle (last writer wins;
    corrupt/stale files rebuild silently on the read side)."""
    import pickle
    try:
        os.makedirs(os.path.dirname(path), mode=0o700, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(idx, fh, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, path)
    except Exception:
        pass        # cache is an optimization, never a failure


def ensure_index_on_disk(cache_key: str, loader, word_size: int,
                         max_kmer_hits: int, soft_mask: bool = False,
                         complexity: bool = False, protein: bool = False,
                         fold_case: bool = False) -> SubjectIndex | None:
    """The makeblastdb analog, explicit: build ONE volume's index and
    publish the content-keyed pickle — called by the format pass (one
    task per missing volume) BEFORE the kernel stage, so search tasks
    only ever unpickle. Without this, a cold run had every worker that
    first touched a volume build it concurrently (the publish race is
    harmless for correctness but quadratic in wall: workers x O(volume)
    builds — measured 277 s vs ~30 s at the synthesized sf1.0). The
    index is plain arrays built eagerly, so a loader rebuilds nothing.
    Does NOT touch the capacity-1 resident cache. Returns the index it
    built, or None if the pickle already existed (or no usable cache
    dir)."""
    key = index_cache_key(cache_key, word_size, max_kmer_hits,
                          soft_mask, complexity, protein, fold_case)
    path = index_cache_path(key)
    if path is None or os.path.exists(path):
        return None
    idx = SubjectIndex(loader(), word_size, max_kmer_hits,
                       soft_mask=soft_mask, complexity=complexity,
                       protein=protein, fold_case=fold_case)
    _publish_index(idx, path)
    return idx


def get_subject_index_lazy(cache_key: str, loader, word_size: int,
                           max_kmer_hits: int, soft_mask: bool = False,
                           complexity: bool = False, protein: bool = False,
                           fold_case: bool = False,
                           disk_cache: bool = False) -> SubjectIndex:
    """Same cache, but subjects come from a zero-arg ``loader`` that is
    only invoked on a miss — so the lazy staged-volume path pays the
    read+index cost once per worker per partition.

    disk_cache=True additionally persists the BUILT index to a
    content-keyed pickle under the scratch dir — the makeblastdb
    analog: the reference formats the database once on disk and every
    rank opens the preformatted volume (doc/USERGUIDE:224-264) instead
    of re-indexing raw FASTA per process. Here the first worker to
    touch a volume builds and publishes (atomic os.replace, last
    writer wins, corrupt/stale files rebuild silently); every other
    worker process — and every LATER process on the box — loads numpy
    arrays instead of re-hashing the volume. Callers enable it only
    for content-addressed keys (a nonce-keyed index can never be hit
    again, so persisting it would only leak scratch space); the key is
    salted with KERNEL_SPEC so a kernel upgrade invalidates pickles
    from older code."""
    key = index_cache_key(cache_key, word_size, max_kmer_hits,
                          soft_mask, complexity, protein, fold_case)
    idx = _DB_CACHE.get(key)
    if idx is None:
        path = None
        if disk_cache:
            import pickle
            path = index_cache_path(key)
            if path is not None:
                try:
                    with open(path, "rb") as fh:
                        idx = pickle.load(fh)
                except Exception:
                    idx = None
        if idx is None:
            idx = SubjectIndex(loader(), word_size, max_kmer_hits,
                               soft_mask=soft_mask, complexity=complexity,
                               protein=protein, fold_case=fold_case)
            if path is not None:
                _publish_index(idx, path)
        _DB_CACHE.clear()      # one partition resident at a time, like the ref
        _DB_CACHE[key] = idx
    return idx


def encode_protein(seq: str) -> tuple[np.ndarray, np.ndarray]:
    """(raw ord array, BLOSUM row-index array) for vectorized scoring.
    Chars outside Latin-1 map to the X row (ord kept raw so identity
    counting still compares the actual characters)."""
    ords = np.fromiter(map(ord, seq), dtype=np.int32, count=len(seq))
    return ords, _b62_rows(ords)


# Seed-tile width for _extend_batch: keeps each 2D temporary around
# (tile x 64) x 8 B ~ 2 MB so the whole op pipeline stays in LLC even
# when block-level batching hands over 10^5+ seeds at once.
_EXT_TILE = 4096


def _extend_batch(qrow: np.ndarray | None, qord: np.ndarray,
                  crow: np.ndarray | None, cord: np.ndarray,
                  q0: np.ndarray, g0: np.ndarray, sign: int,
                  xdrop: int, chunk: int = 64, chunk_max: int = 256,
                  rp: tuple[int, int] | None = None,
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One direction of X-drop extension for N seeds AT ONCE.

    qrow/qord: the query block's BLOSUM row-index and ord arrays;
    crow/cord: the whole volume's (SubjectIndex.rows/.ords), both in
    the _concat layout with -1 ords / _B62_SENT rows at separators;
    q0/g0: each seed's first query/volume position in this direction;
    sign: +1 (rightward) or -1 (leftward).

    rp=(reward, penalty) switches to nucleotide match/mismatch
    scoring on the ord arrays (qrow/crow unused): score = reward when
    ords are equal, penalty otherwise, _B62_NEG at out-of-range or
    separator positions.

    Semantics are exactly the sequential walk's (the per-seed X-drop
    loops of the test oracle): running best with first-maximum
    tie-breaking, strict improvement, stop
    when best - cur > xdrop — evaluated chunk-wise with 2D gathers, so
    the per-seed Python loop disappears. Out-of-range and
    subject-boundary positions score _B62_NEG, which trips the X-drop
    test at that column and can never join an alignment.

    Returns (gain, length, matches) per seed: best score gained, chars
    extended, and identities among them.

    Seeds are mutually independent, so the batch is processed in
    cache-sized TILES: one huge call (block-level batching can carry
    hundreds of thousands of seeds) would otherwise materialize
    ~100 MB 2D temporaries per numpy op and turn the extension
    DRAM-bandwidth-bound — measured 3x slower than the same seeds in
    small calls. Tiling restores cache residency at ~zero overhead."""
    n = len(q0)
    # The per-chunk int32 cumsum is only safe while a chunk of pure
    # sentinels cannot wrap: chunk_max * |_B62_NEG| must stay < 2^31.
    # A future caller widening chunk_max past ~536 would otherwise
    # silently corrupt scores — fail loudly instead (a real raise,
    # not an assert: the guard must survive `python -O`).
    if chunk_max * -_B62_NEG >= 2 ** 31:
        raise ValueError(
            f"chunk_max={chunk_max} overflows int32 cumsum "
            f"(|_B62_NEG|={-_B62_NEG})")
    if n > _EXT_TILE:
        gains = np.empty(n, dtype=np.int64)
        exts = np.empty(n, dtype=np.int64)
        ms = np.empty(n, dtype=np.int64)
        for t0 in range(0, n, _EXT_TILE):
            sl = slice(t0, min(t0 + _EXT_TILE, n))
            gains[sl], exts[sl], ms[sl] = _extend_batch(
                qrow, qord, crow, cord, q0[sl], g0[sl], sign, xdrop,
                chunk=chunk, chunk_max=chunk_max, rp=rp)
        return gains, exts, ms
    best = np.zeros(n, dtype=np.int64)
    best_at = np.zeros(n, dtype=np.int64)
    best_m = np.zeros(n, dtype=np.int64)
    base = np.zeros(n, dtype=np.int64)
    base_m = np.zeros(n, dtype=np.int64)
    active = np.arange(n)
    qlen, clen = len(qord), len(cord)
    offset = 0
    # chunk width grows geometrically to chunk_max: most seeds X-drop
    # out within a few residues (weak neighborhood seeds especially),
    # so the first round stays narrow; the few survivors — genuine
    # homologies — re-vectorize wide. Semantics are width-invariant.
    while len(active):
        j = np.arange(chunk, dtype=np.int64)
        qidx = q0[active, None] + sign * (offset + j)[None, :]
        gidx = g0[active, None] + sign * (offset + j)[None, :]
        qok = (qidx >= 0) & (qidx < qlen)
        gok = (gidx >= 0) & (gidx < clen)
        # fills are pairwise-distinct AND distinct from the subject
        # separator ord (-1), so no out-of-range pair can count as a
        # match (scores there are _B62_NEG anyway, but identity must
        # not drift either)
        qv = np.where(qok, qord[np.clip(qidx, 0, qlen - 1)], -3)
        sv = np.where(gok, cord[np.clip(gidx, 0, clen - 1)], -2)
        eq = qv == sv
        if rp is None:
            qr = np.where(qok, qrow[np.clip(qidx, 0, qlen - 1)], _B62_SENT)
            sr = np.where(gok, crow[np.clip(gidx, 0, clen - 1)], _B62_SENT)
            sc = _B62E[qr, sr]
        else:
            # match/mismatch scoring; separators/out-of-range kill the
            # extension exactly like the sentinel BLOSUM row does.
            # qv >= 0 also rejects the QUERY-side block separator (-1)
            # so a block-concatenated query can never extend into its
            # neighbor. int32 operands keep the whole pipeline narrow.
            sc = np.where(qok & gok & (sv != -1) & (qv >= 0),
                          np.where(eq, np.int32(rp[0]), np.int32(rp[1])),
                          np.int32(_B62_NEG))
        c = base[active, None] + np.cumsum(sc, axis=1)
        m = base_m[active, None] + np.cumsum(eq, axis=1)
        run = np.maximum.accumulate(
            np.maximum(c, best[active, None]), axis=1)
        drop = (run - c) > xdrop
        stopped = drop.any(axis=1)
        upto = np.where(stopped, np.argmax(drop, axis=1), chunk - 1)
        cm = np.where(j[None, :] <= upto[:, None], c, np.int32(-2**30))
        chunk_best = cm.max(axis=1)
        improved = chunk_best > best[active]
        bidx = np.argmax(cm == chunk_best[:, None], axis=1)
        rows = active[improved]
        best[rows] = chunk_best[improved]
        best_at[rows] = offset + bidx[improved] + 1
        best_m[rows] = m[improved, bidx[improved]]
        cont = ~stopped
        base[active[cont]] = c[cont, -1]
        base_m[active[cont]] = m[cont, -1]
        active = active[cont]
        offset += chunk
        chunk = min(chunk * 4, chunk_max)
    return best, best_at, best_m


def _batched_core(index: SubjectIndex, cfg: BlastConfig, k: int,
                  sq, ssi, ssp, seed_sc_all, seed_id_all, ext_args,
                  qoffs: np.ndarray, q_strs: list[str],
                  narrow: bool = False):
    """Shared batched stage for one strand of a query block: group
    seeds by (query, subject, diagonal), replay the sequential
    coverage dedupe in whole-array rounds, extend every round's
    survivors in one 2D X-drop batch, optionally run the gapped stage,
    and return the emitted rows in sequential visit order as
    (si, score, align_len, ident, gaps, qs, qe, ss, se) arrays — or
    None when nothing clears min_raw_score. ``ext_args`` =
    (qrow, qord, crow, cord, rp) selects BLOSUM (rp=None) or
    reward/penalty scoring for the extension batches.

    The query side is the whole BLOCK's concatenation (the _concat
    layout the volume's arrays share): ``sq`` carries GLOBAL positions
    and ``qoffs`` each query's start in it. Diagonals are taken in
    query-local coordinates, so two queries never share a coverage
    group, and the gapped stage slices each HSP's own query string
    (``q_strs``) back out. Returned q coords stay GLOBAL; callers map
    them back per row."""
    qrow, qord, crow, cord, rp = ext_args
    gpos = index.offs[ssi] + ssp
    # --- group by (query, subject, diagonal); within a group qpos
    # ascends (collection order is global-qpos-major, bucket order
    # si/spos asc) ---
    qidx_all = np.searchsorted(qoffs, sq, side="right") - 1
    diag = ssp - (sq - qoffs[qidx_all])
    # lexsort is stable, so within each (qidx, ssi, diag) group sq
    # still ascends
    order = np.lexsort((diag, ssi, qidx_all))
    qidx_s = qidx_all[order]
    sq, ssi, ssp = sq[order], ssi[order], ssp[order]
    gpos, diag_s = gpos[order], diag[order]
    seed_sc = seed_sc_all[order]
    seed_idb = seed_id_all[order]
    seed_rank = order                     # original visit rank
    chg = ((qidx_s[1:] != qidx_s[:-1]) | (ssi[1:] != ssi[:-1])
           | (diag_s[1:] != diag_s[:-1]))
    bounds = np.flatnonzero(chg) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(sq)]))
    n_groups = len(starts)
    # group-augmented seed key: globally ascending because sq ascends
    # within each group — one searchsorted jumps every group's pointer
    # past its covered prefix in a single vectorized call (the naive
    # one-step advance loop was O(longest chain) whole-array passes: a
    # 300 bp homology puts ~300 seeds on one diagonal)
    _OFF = np.int64(1) << np.int64(32)
    # the coverage keys pack (group id, query position) into one int64;
    # silent wraparound would corrupt the dedupe, so reject outright —
    # unreachable for sane block_size (a block would need 2^32 query
    # chars or 2^31 seed groups), but loud beats wrong
    if len(sq) and (int(sq.max()) >= int(_OFF) or n_groups >= 2 ** 31):
        raise ValueError(
            f"block too large for coverage-key packing "
            f"(max qpos {int(sq.max())}, {n_groups} groups); "
            f"reduce cfg.block_size")
    gid = np.repeat(np.arange(n_groups, dtype=np.int64),
                    ends - starts)
    aug = gid * _OFF + sq
    covered = np.full(n_groups, -1, dtype=np.int64)
    g_all = np.arange(n_groups, dtype=np.int64)
    min_raw = cfg.min_raw_score
    two_hit = int(cfg.window_size or 0)
    if two_hit:
        # Two-hit seeding, vectorized. Sequential semantics per group
        # (qpos ascending): a covered seed is skipped outright; an
        # uncovered seed first compares against the LAST VISITED
        # uncovered seed (`pending`), then becomes pending itself;
        # only a pair within the window triggers an extension. So a
        # round's trigger is either the first uncovered seed (when the
        # carried pending is within the window) or the first
        # consecutive in-group pair within the window strictly after
        # it — precomputable: d_i = sq_i - sq_{i-1} and a suffix-min
        # "next index with d <= window" table.
        d_prev = np.empty(len(sq), dtype=np.int64)
        if len(sq) > 1:
            d_prev[1:] = sq[1:] - sq[:-1]
        d_prev[starts] = np.int64(2 ** 62)    # group start: no prev
        idx_all = np.arange(len(sq), dtype=np.int64)
        nok = np.where(d_prev <= two_hit, idx_all, np.int64(2 ** 62))
        next_ok = np.minimum.accumulate(nok[::-1])[::-1]
        pending = np.full(n_groups, np.int64(-2 ** 62), dtype=np.int64)
        th_done = np.zeros(n_groups, dtype=bool)
    res: list[tuple[np.ndarray, ...]] = []
    while True:
        # first seed per group with sq > covered — the sequential
        # `seen` semantics, one searchsorted for all groups
        ptr = np.searchsorted(aug, g_all * _OFF + covered, side="right")
        if two_hit:
            lg = np.flatnonzero((ptr < ends) & ~th_done)
            if not len(lg):
                break
            p = ptr[lg]
            trig_at_p = (sq[p] - pending[lg]) <= two_hit
            nxt = next_ok[np.minimum(p + 1, len(sq) - 1)]
            nxt = np.where(p + 1 < len(sq), nxt, np.int64(2 ** 62))
            cand = np.where(trig_at_p, p, nxt)
            has = cand < ends[lg]
            # no trigger left and covered only grows -> never will be
            th_done[lg[~has]] = True
            d_idx = lg[has]
            if not len(d_idx):
                continue
            ci = cand[has]
            pending[d_idx] = sq[ci]
        else:
            d_idx = np.flatnonzero(ptr < ends)
            if not len(d_idx):
                break
            ci = ptr[d_idx]
        # neighborhood seeds are mostly weak (score ~T) and X-drop out
        # within a few residues: start the extension chunk narrow and
        # let it grow; exact long-word seeds keep the wider start.
        c0 = 16 if narrow else 64
        gain_r, ext_r, m_r = _extend_batch(
            qrow, qord, crow, cord, sq[ci] + k, gpos[ci] + k, +1,
            cfg.xdrop, chunk=c0, rp=rp)
        gain_l, ext_l, m_l = _extend_batch(
            qrow, qord, crow, cord, sq[ci] - 1, gpos[ci] - 1, -1,
            cfg.xdrop, chunk=c0, rp=rp)
        score = seed_sc[ci] + gain_r + gain_l
        qs = sq[ci] - ext_l
        qe = sq[ci] + k - 1 + ext_r
        ident = seed_idb[ci] + m_r + m_l
        ss = ssp[ci] - (sq[ci] - qs)
        covered[d_idx] = qe               # coverage updates regardless
        keep = score >= min_raw
        if keep.any():
            res.append((seed_rank[ci[keep]], ssi[ci[keep]],
                        score[keep], ident[keep], qs[keep], qe[keep],
                        ss[keep]))
    if not res:
        return None
    rank = np.concatenate([r[0] for r in res])
    emit = np.argsort(rank)               # sequential visit order
    r_si = np.concatenate([r[1] for r in res])[emit]
    r_sc = np.concatenate([r[2] for r in res])[emit]
    r_id = np.concatenate([r[3] for r in res])[emit]
    r_qs = np.concatenate([r[4] for r in res])[emit]
    r_qe = np.concatenate([r[5] for r in res])[emit]
    r_ss = np.concatenate([r[6] for r in res])[emit]
    r_se = r_ss + (r_qe - r_qs)

    if cfg.gapped:
        # stage 2, batched across HSPs: the DP windows of EVERY
        # triggered HSP run through gapped_extend_batch (one size-tiled
        # row-wise sweep per pad level), then emission/dedupe replays
        # the sequential visit order so first-wins semantics hold. Each
        # HSP's DP sees only its own query string (never the
        # sentinel-joined neighbors); dedupe keys on GLOBAL query
        # coordinates, which never coincide across queries.
        ext_seqs = index.ext_seqs
        trig = cfg.gap_trigger_eff
        gap_items = []
        gap_meta = {}                 # t -> (batch position, query offset)
        for t in range(len(r_sc)):
            if int(r_sc[t]) < trig:
                continue
            qs_v, qe_v = int(r_qs[t]), int(r_qe[t])
            qi_t = int(np.searchsorted(qoffs, qs_v, "right")) - 1
            off = int(qoffs[qi_t])
            gap_items.append((q_strs[qi_t], ext_seqs[int(r_si[t])],
                              qs_v - off, qe_v - off,
                              int(r_ss[t]), int(r_se[t])))
            gap_meta[t] = (len(gap_items) - 1, off)
        gap_res = gapped_extend_batch(gap_items, cfg) if gap_items else []

        rows = []
        emitted: set[tuple] = set()
        for t in range(len(r_sc)):
            score, qs_v, qe_v, ss_v, se_v, ident_v = (
                int(r_sc[t]), int(r_qs[t]), int(r_qe[t]),
                int(r_ss[t]), int(r_se[t]), int(r_id[t]))
            gaps_n, align_len = 0, qe_v - qs_v + 1
            si_t = int(r_si[t])
            if t in gap_meta:
                pos, off = gap_meta[t]
                (gscore, gqs, gqe, gss, gse, gident, gg, galn
                 ) = gap_res[pos]
                gqs, gqe = gqs + off, gqe + off
                key = (si_t, gqs, gqe, gss, gse)
                if gscore < min_raw:
                    continue
                score, qs_v, qe_v, ss_v, se_v = gscore, gqs, gqe, gss, gse
                ident_v, gaps_n, align_len = gident, gg, galn
                if key in emitted:
                    continue
                emitted.add(key)
            rows.append((si_t, score, align_len, ident_v, gaps_n,
                         qs_v, qe_v, ss_v, se_v))
        if not rows:
            return None
        arr = np.array(rows, dtype=np.int64)
        return (arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4],
                arr[:, 5], arr[:, 6], arr[:, 7], arr[:, 8])
    al = r_qe - r_qs + 1
    gp = np.zeros(len(r_sc), dtype=np.int64)
    return (r_si, r_sc, al, r_id, gp, r_qs, r_qe, r_ss, r_se)


def _empty_raw_cols() -> dict[str, np.ndarray]:
    out = {}
    for f in RAW_HITS.fields:
        if f.name == "qid":
            out[f.name] = np.empty(0, dtype=np.int64)
        elif f.name == "sid":
            out[f.name] = np.empty(0, dtype=object)
        else:
            out[f.name] = np.empty(0, dtype=np.int32)
    return out


def _raw_cols_from_core_block(core, index: SubjectIndex,
                              qoffs: np.ndarray, qids_np: np.ndarray,
                              qlens_np: np.ndarray, qstrand: int,
                              ) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """RAW_HITS columns from a _batched_core result: each
    row's query is recovered from its global start offset, coords map
    back to that query's local (and, for the minus strand, forward)
    orientation. Also returns the per-row query index so
    _align_block_cols can restore per-query strand-major emission
    order."""
    r_si, r_sc, al, r_id, gp, r_qs, r_qe, r_ss, r_se = core
    qidx = np.searchsorted(qoffs, r_qs, side="right") - 1
    off = qoffs[qidx]
    r_qs = r_qs - off
    r_qe = r_qe - off
    qlen = qlens_np[qidx]
    if qstrand == -1:
        r_qs, r_qe = qlen - r_qe - 1, qlen - r_qs - 1
    n = len(r_sc)
    i32 = np.int32
    cols = {
        "qid": qids_np[qidx],
        "sid": index.sids[r_si],
        "score": r_sc.astype(i32),
        "align_len": al.astype(i32),
        "ident_count": r_id.astype(i32),
        "gaps": gp.astype(i32),
        "qstart0": r_qs.astype(i32),
        "qend0": r_qe.astype(i32),
        "sstart0": r_ss.astype(i32),
        "send0": r_se.astype(i32),
        "qstrand": np.full(n, qstrand, dtype=i32),
        "sstrand": np.ones(n, dtype=i32),
        "qlen": qlen.astype(i32),
    }
    return cols, qidx


def _exact_seeds(index: SubjectIndex, codes: np.ndarray, qpos: np.ndarray,
                 k: int):
    """The seed stage: the length-k windows of ``codes`` starting at
    ``qpos`` are hashed, resolved to buckets in one searchsorted,
    expanded to every (subject, position) of their bucket and
    exact-verified against the volume's ords (a hash collision only
    routes, never seeds). Returns (qpos, si, spos) per hit, qpos-major
    then bucket (si, spos) order, or None when nothing hits."""
    bis = index.buckets_for_hashes(_window_hashes(codes, k)[qpos])
    live = bis >= 0
    qpos, bis = qpos[live], bis[live]
    counts = index._bend[bis] - index._bstart[bis]
    total = int(counts.sum())
    if total == 0:
        return None
    sq = np.repeat(qpos, counts)
    flat = (np.repeat(index._bstart[bis] - (np.cumsum(counts) - counts),
                      counts) + np.arange(total, dtype=np.int64))
    si, sp = index._sis[flat], index._poss[flat]
    gpos = index.offs[si] + sp
    ok = np.ones(total, dtype=bool)
    for j in range(k):
        ok &= index.ords[gpos + j] == codes[sq + j]
    if not ok.any():
        return None
    return sq[ok], si[ok], sp[ok]


def _neighborhood_seeds(index: SubjectIndex, q_strs: list[str],
                        qoffs: np.ndarray, win: np.ndarray, k: int,
                        threshold: int):
    """-threshold seeding of a query block: the (memoized) neighborhood
    hits of every query word at ``win``, as (qpos, si, spos,
    seed_score, seed_ident) in global-qpos-major order, or None."""
    offs = qoffs.tolist()
    qn_of = np.searchsorted(qoffs, win, side="right") - 1
    parts = []
    for gp, qn in zip(win.tolist(), qn_of.tolist()):
        lp = gp - offs[qn]
        arrs = index.neighborhood_arrays(q_strs[qn][lp:lp + k], threshold)
        if arrs is not None:
            parts.append((np.full(len(arrs[0]), gp, dtype=np.int64),) + arrs)
    if not parts:
        return None
    return tuple(np.concatenate(col) for col in zip(*parts))


def _align_block_cols(items: list[tuple[int, str]], index: SubjectIndex,
                      cfg: BlastConfig) -> dict[str, np.ndarray]:
    """Block-level batching for both alphabets: per query strand (plus
    only for blastp, plus and minus for blastn) the WHOLE block is laid
    out once by _concat, seeded, and run through _batched_core, so seed
    collection, the coverage-dedupe rounds and the X-drop extension
    batches each run once per (block, volume) task instead of once per
    query. The alphabet decides only the scoring: the seed score
    (BLOSUM self-score vs k*reward), the extension's BLOSUM rows vs
    (reward, penalty), and -threshold neighborhood seeding (blastp).
    Rows are restored to the sequential per-query strand-major order
    (every query's plus rows, then its minus rows) by a stable sort on
    the per-row query index over [plus; minus]."""
    k = cfg.word_size
    protein = cfg.task == "blastp"
    neighborhood = protein and cfg.threshold is not None
    qids = np.array([q for q, _ in items], dtype=np.int64)
    qlens = np.array([len(s) for _, s in items], dtype=np.int64)
    parts: list[tuple[dict[str, np.ndarray], np.ndarray]] = []
    for qstrand in ((1,) if protein else (1, -1)):
        seqs = [s if qstrand == 1 else revcomp(s) for _, s in items]
        q_strs = ([fold_case_str(s) for s in seqs] if index.fold_case
                  else seqs)
        cat, qoffs, _, _, win = _concat(q_strs, k)
        if cfg.lcase_masking:
            # the original casing decides (q_strs may be folded)
            raw = _concat(seqs, k)[0] if index.fold_case else cat
            win = win[~_lower_windows(raw, win, k)]
        qords = _ext_ords(cat)
        if protein:
            qrows = _b62_rows(qords)
            ext_args = (qrows, qords, index.rows, index.ords, None)
        else:
            ext_args = (None, qords, None, index.ords,
                        (cfg.reward, cfg.penalty))
        if neighborhood:
            seeds = _neighborhood_seeds(index, q_strs, qoffs, win, k,
                                        cfg.threshold)
        else:
            seeds = _exact_seeds(index, qords, win, k)
            if seeds is not None:
                sq = seeds[0]
                if protein:
                    # self-score prefix over the block: _B62E so
                    # separator rows are indexable (seeds never hold one)
                    pref = np.concatenate(([0], np.cumsum(
                        _B62E[qrows, qrows], dtype=np.int64)))
                    seed_sc = pref[sq + k] - pref[sq]
                else:
                    seed_sc = np.full(len(sq), k * cfg.reward, dtype=np.int64)
                seeds += (seed_sc, np.full(len(sq), k, dtype=np.int64))
        if seeds is None:
            continue
        core = _batched_core(index, cfg, k, *seeds, ext_args,
                             qoffs=qoffs, q_strs=q_strs,
                             narrow=neighborhood)
        if core is not None:
            parts.append(_raw_cols_from_core_block(
                core, index, qoffs, qids, qlens, qstrand))
    if not parts:
        return _empty_raw_cols()
    emit = np.argsort(np.concatenate([p[1] for p in parts]), kind="stable")
    return {f.name: np.concatenate([p[0][f.name] for p in parts])[emit]
            for f in RAW_HITS.fields}


# tile cap on gotoh_local_batch's (B, M+1, N+1) pointer cells: 3 bytes
# a cell keeps one tile's pointers within ~24 MB
_GOTOH_CELL_BUDGET = 8_000_000


def gotoh_local_batch(pairs, protein: bool, reward: int, penalty: int,
                      gap_open: int, gap_extend: int) -> list[tuple]:
    """Affine-gap Smith-Waterman (Gotoh) with traceback over MANY
    pairs of windowed strings, one result per pair: (score, a0, a1,
    b0, b1, ident, gaps, align_len), 0-based inclusive local
    coordinates; an all-zero score returns (0, ...) and callers skip.
    A gap of length L costs gap_open + L*gap_extend (NCBI's
    convention). Ties break deterministically: diagonal > gap-in-a >
    gap-in-b at equal score, and the traceback starts from the FIRST
    maximal cell in row-major order. O(m*n) per pair — used only on
    HSP-sized windows, never whole sequences.

    The forward DP runs ROW-WISE over a (B, N) batch of rows — all
    windows of a tile advance one row of `a` per step, so the numpy
    dispatch cost is paid once per tile row, not once per window row.
    Within a row (the "lazy-F" form, Farrar 2007):

    - F (gap in b, vertical) is elementwise from the previous row;
    - H' = max(0 | diag, F) is elementwise;
    - E (gap in a, horizontal) is ONE prefix max:
      E[j] = max_{k<j}(H'[k] + k*ge) - go - (j-1)*ge, with H'[0] = 0.

    The E scan is exact when go >= ge, i.e. gap_open >= 0: a gap
    opened from an H that itself came from E never beats extending
    that E, so H' can stand in for H inside the scan. Pointer rows
    (PH with diag > E > F at equal score, PE, PF) then follow
    elementwise from the known H/E/F values, and a running
    (score, i, j) per window keeps the FIRST maximal cell in
    row-major order, so results equal the per-cell recurrences bit
    for bit. Padding lanes (j > n_w, i > m_w) never enter that best.

    Windows are size-sorted and tiled so a short window never pays a
    long one's rows; the traceback is a scalar walk, O(alignment)."""
    if gap_open < 0 or gap_extend < 0:
        raise ValueError(
            f"gap costs must be >= 0 (gap_open={gap_open}, "
            f"gap_extend={gap_extend})")
    n_all = len(pairs)
    results: list = [None] * n_all
    order = sorted(range(n_all), key=lambda t: len(pairs[t][0]) + len(pairs[t][1]))
    t0 = 0
    while t0 < n_all:
        t1 = t0
        mmax = nmax = 0
        while t1 < n_all:
            a, b = pairs[order[t1]]
            m2, n2 = max(mmax, len(a)), max(nmax, len(b))
            bsz = t1 - t0 + 1
            if bsz > 1 and bsz * (m2 + 1) * (n2 + 1) > _GOTOH_CELL_BUDGET:
                break
            mmax, nmax = m2, n2
            t1 += 1
        tile = [order[t] for t in range(t0, t1)]
        for t, r in zip(tile, _gotoh_batch_tile(
                [pairs[t] for t in tile], protein, reward, penalty,
                gap_open, gap_extend)):
            results[t] = r
        t0 = t1
    return results


def _gotoh_batch_tile(pairs, protein, reward, penalty, gap_open,
                      gap_extend) -> list[tuple]:
    B = len(pairs)
    ms = np.array([len(a) for a, _ in pairs], dtype=np.int64)
    ns = np.array([len(b) for _, b in pairs], dtype=np.int64)
    M, N = int(ms.max(initial=0)), int(ns.max(initial=0))
    if M == 0 or N == 0:
        return [(0, 0, 0, 0, 0, 0, 0, 0)] * B
    # residue codes plus a code x code score table: BLOSUM62 rows for
    # protein, reward on the diagonal / penalty elsewhere for
    # nucleotides (codes are the distinct code points of the tile)
    cps = [np.frombuffer(s.encode("utf-32-le"), dtype="<u4")
           for pair in pairs for s in pair]
    if protein:
        table = _B62
        codes = [_b62_rows(c) for c in cps]
    else:
        alpha, inv = np.unique(np.concatenate(cps), return_inverse=True)
        table = np.where(np.eye(len(alpha), dtype=bool),
                         np.int32(reward), np.int32(penalty))
        codes = np.split(inv, np.cumsum([len(c) for c in cps])[:-1])
    ac = np.zeros((B, M), dtype=np.intp)
    bc = np.zeros((B, N), dtype=np.intp)
    for w in range(B):
        ac[w, :ms[w]] = codes[2 * w]
        bc[w, :ns[w]] = codes[2 * w + 1]
    go = gap_open + gap_extend        # cost of a length-1 gap
    ge = gap_extend
    k_ge = ge * np.arange(1, N + 1, dtype=np.int32)      # k*ge, k=1..N
    e_off = go + ge * np.arange(N, dtype=np.int32)       # go+(j-1)*ge
    H = np.zeros((B, N + 1), dtype=np.int32)    # row i-1; column 0 = 0
    F = np.full((B, N), np.int32(-(10 ** 6)), dtype=np.int32)
    A = np.zeros((B, N + 1), dtype=np.int32)    # scan buffer; A[:, 0] = 0
    PH = np.zeros((B, M + 1, N + 1), dtype=np.int8)
    PE = np.zeros((B, M + 1, N + 1), dtype=np.bool_)
    PF = np.zeros((B, M + 1, N + 1), dtype=np.bool_)
    PE[:, :, 1] = True                # E at j=1 always opens from H[i, 0]
    col_ok = np.arange(1, N + 1)[None, :] <= ns[:, None]
    best_score = np.zeros(B, dtype=np.int64)
    best_i = np.zeros(B, dtype=np.int64)
    best_j = np.zeros(B, dtype=np.int64)
    for i in range(1, M + 1):
        diag = H[:, :-1] + table[ac[:, i - 1, None], bc]
        f_open = H[:, 1:] - go
        f_ext = F - ge
        PF[:, i, 1:] = f_open >= f_ext
        F = np.maximum(f_open, f_ext)
        best0 = np.maximum(diag, 0)
        np.add(np.maximum(best0, F), k_ge, out=A[:, 1:])
        np.maximum.accumulate(A, axis=1, out=A)
        E = A[:, :-1] - e_off
        e_win = E > best0
        best1 = np.maximum(best0, E)
        f_win = F > best1
        np.maximum(best1, F, out=H[:, 1:])
        # pointer codes 1|0 (diag|stop) < 2 (E) < 3 (F): a win flag is
        # set only where its source is strictly best, so max picks it
        ph = np.maximum((diag >= 0).view(np.int8),
                        e_win.view(np.int8) * np.int8(2))
        np.maximum(ph, f_win.view(np.int8) * np.int8(3), out=PH[:, i, 1:])
        PE[:, i, 2:] = H[:, 1:-1] - E[:, :-1] >= gap_open
        hm = np.where(col_ok, H[:, 1:], -1)
        rowmax = hm.max(axis=1)
        upd = (rowmax > best_score) & (i <= ms)
        if upd.any():
            best_score[upd] = rowmax[upd]
            best_i[upd] = i
            best_j[upd] = hm[upd].argmax(axis=1) + 1
    return [_gotoh_traceback(a, b, int(best_score[w]), int(best_i[w]),
                             int(best_j[w]), PH[w], PE[w], PF[w])
            for w, (a, b) in enumerate(pairs)]


def _gotoh_traceback(a, b, score, i, j, PH, PE, PF):
    """Scalar traceback from cell (i, j) over row-major pointer
    matrices — O(alignment length), no need to vectorize."""
    if score <= 0:
        return (0, 0, 0, 0, 0, 0, 0, 0)
    a1, b1 = i - 1, j - 1
    ident = gaps = align_len = 0
    state = "H"
    while i > 0 and j > 0:
        if state == "H":
            p = PH[i, j]
            if p == 0:
                break
            if p == 1:
                align_len += 1
                if a[i - 1] == b[j - 1]:
                    ident += 1
                i -= 1
                j -= 1
            elif p == 2:
                state = "E"
            else:
                state = "F"
        elif state == "E":
            align_len += 1
            gaps += 1
            opened = PE[i, j]
            j -= 1
            state = "H" if opened else "E"
        else:
            align_len += 1
            gaps += 1
            opened = PF[i, j]
            i -= 1
            state = "H" if opened else "F"
    return (score, i, a1, j, b1, ident, gaps, align_len)


# initial pad around the ungapped HSP for the stage-2 DP window; the
# window doubles (to _GAP_PAD_MAX) whenever the alignment reaches an
# edge that has sequence beyond it, so the bound never truncates.
_GAP_PAD = 24
_GAP_PAD_MAX = 4096


def gapped_extend_batch(items, cfg: BlastConfig) -> list[tuple]:
    """BLAST's stage-2 for many ungapped HSPs: items are (q, s, qs, qe,
    ss, se); each result is (score, qs, qe, ss, se, ident, gaps,
    align_len) in absolute (q, s) coordinates.

    Unlike BLAST+'s unbounded X-drop gapped extension, the affine-gap
    DP is windowed (the HSP extent padded by _GAP_PAD per side) — but
    the window GROWS: whenever the optimal local alignment touches a
    window edge with more sequence beyond it, the pad doubles (up to
    _GAP_PAD_MAX) and that item reruns, so no alignment is truncated by
    the initial window. Every pending window at a given pad level runs
    in ONE row-wise batched sweep (gotoh_local_batch)."""
    n = len(items)
    results: list = [None] * n
    pads = [_GAP_PAD] * n
    pending = list(range(n))
    protein = cfg.task == "blastp"
    while pending:
        metas = []
        pairs = []
        for t in pending:
            q, s, qs, qe, ss, se = items[t]
            p = pads[t]
            q0, q1 = max(0, qs - p), min(len(q), qe + 1 + p)
            s0, s1 = max(0, ss - p), min(len(s), se + 1 + p)
            metas.append((t, q0, q1, s0, s1))
            pairs.append((q[q0:q1], s[s0:s1]))
        res = gotoh_local_batch(pairs, protein, cfg.reward, cfg.penalty,
                                cfg.gap_open_eff, cfg.gap_extend_eff)
        nxt = []
        for (t, q0, q1, s0, s1), r in zip(metas, res):
            score, a0, a1, b0, b1, ident, gaps, align_len = r
            q, s, _qs, _qe, _ss, _se = items[t]
            touches = ((a0 == 0 and q0 > 0)
                       or (a1 == q1 - q0 - 1 and q1 < len(q))
                       or (b0 == 0 and s0 > 0)
                       or (b1 == s1 - s0 - 1 and s1 < len(s)))
            if touches and pads[t] < _GAP_PAD_MAX:
                pads[t] *= 2
                nxt.append(t)
            else:
                results[t] = (score, q0 + a0, q0 + a1, s0 + b0, s0 + b1,
                              ident, gaps, align_len)
        pending = nxt
    return results


def align_query(qid: int, seq: str, index: SubjectIndex,
                cfg: BlastConfig) -> list[tuple]:
    """All HSPs of one query against one indexed partition, both
    strands, as RAW_HITS tuples: a block of one through align_block."""
    return list(align_block([(qid, seq)], index, cfg)
                .itertuples(index=False, name=None))


def align_block(items, index: SubjectIndex, cfg: BlastConfig,
                ) -> pd.DataFrame:
    """K2 batch loop over one query block -> RAW_HITS DataFrame.

    The kernel's only alignment path, for every config — blastp (exact
    or neighborhood seeding) and blastn (both strands), one-hit or
    two-hit, gapped or not: the WHOLE block runs as one
    sentinel-concatenated batch (seed collection, coverage rounds and
    extension batches happen once per task, not once per query), and
    the frame is assembled column-wise; no per-hit Python tuple ever
    exists. Rows equal the per-seed sequential oracle's
    (tests/kernel_oracle.py) query by query, in block order."""
    if cfg.word_size != index.word_size:
        raise ValueError(
            f"config word_size={cfg.word_size} does not match the subject "
            f"index's word_size={index.word_size}; rebuild the index with "
            f"the config's k (stage gen keys on word_size for this reason)")
    cols = _align_block_cols([(int(qid), seq) for qid, seq in items],
                             index, cfg)
    return pd.DataFrame(cols, columns=[f.name for f in RAW_HITS.fields])


def read_staged_part(db_dir: str, part: str) -> list[tuple[str, str]]:
    """Executor-side load of one staged DB partition:
    ``{db_dir}/db_part={part}/*.parquet`` -> [(sid, seq)...].

    This is the reference's "volume files on local disk" model
    (doc/USERGUIDE:224-264): the database is staged to shared storage
    once by a distributed write, and each worker reads only the volume
    it is about to search — the driver never holds subject rows."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(db_dir, f"db_part={part}", "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no staged volume at {db_dir}/db_part={part}")
    out: list[tuple[str, str]] = []
    for f in files:
        t = pq.read_table(f, columns=["sid", "seq"])
        out.extend(zip(t.column("sid").to_pylist(), t.column("seq").to_pylist()))
    return out


def make_lazy_block_kernel(db_dir: str, cfg: BlastConfig, gen: str,
                           disk_cache: bool = False):
    """Kernel factory for the cogrouped work-item plan: one invocation
    per (query block x db_part) group. The group's ``db_part`` column
    names the staged volume; the subject index is built on first touch
    and reused across blocks of the same partition via the per-worker
    cache (S7 DB-handle reuse, mrblast.cpp:838-845), keyed by ``gen``
    so a restaged database can never hit a stale index. Callers with a
    CONTENT-addressed gen pass disk_cache=True to also persist built
    indexes on scratch disk (the makeblastdb analog — see
    get_subject_index_lazy)."""
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        part = str(pdf["db_part"].iat[0])
        index = get_subject_index_lazy(
            f"{db_dir}:{part}:{gen}",
            lambda: read_staged_part(db_dir, part),
            cfg.word_size, cfg.max_kmer_hits,
            soft_mask=cfg.subject_soft_mask,
            complexity=cfg.complexity_filter,
            protein=cfg.task == "blastp",
            fold_case=cfg.mask_fold_case,
            disk_cache=disk_cache)
        return align_block(zip(pdf["qid"].to_numpy(),
                               pdf["seq"].to_numpy()), index, cfg)
    return kernel


def karlin_altschul_bitscore(score: float,
                             ka: tuple[float, float, float] = KA_NUCL_1_2,
                             ) -> float:
    """bitscore = (lambda*S - ln K) / ln 2 (mrblast.cpp:1039 semantics)."""
    return (ka[0] * score - math.log(ka[1])) / math.log(2.0)


def length_adjustment(qlen: int, dbsize: int,
                      ka: tuple[float, float, float]) -> int:
    """One-shot K-A length adjustment: floor(ln(K*m*n)/H) — the classic
    closed-form approximation of NCBI's fixed-point iteration
    (Altschul-Gish 1996). Effective lengths keep short queries from
    inflated significance."""
    return int(math.log(ka[1] * qlen * dbsize) / ka[2])


def karlin_altschul_evalue(score: float, qlen: int, dbsize: int,
                           n_seqs: int | None = None,
                           ka: tuple[float, float, float] = KA_NUCL_1_2,
                           length_adjust: bool = True) -> float:
    """E = m' * n' * 2^-bit with effective lengths (m'=qlen-l,
    n'=dbsize-n_seqs*l) when adjusting, raw m*n otherwise."""
    bit = karlin_altschul_bitscore(score, ka)
    if length_adjust and n_seqs:
        ell = length_adjustment(qlen, dbsize, ka)
        m_eff = max(qlen - ell, 1.0)
        n_eff = max(dbsize - n_seqs * ell, 1.0)
        return m_eff * n_eff * math.pow(2.0, -bit)
    return qlen * dbsize * math.pow(2.0, -bit)
