"""Sequential seed-and-extend oracle for the builtin kernel.

The kernel (``mr_mpi_blast_spark/kernel/builtin.py``) has one
alignment path, ``align_block``: a whole query block runs as one
sentinel-concatenated batch. This module keeps the readable per-seed
loop that path is pinned against (``_align_query_sequential``: one
Python iteration per seed, scalar X-drop walks, the per-HSP gapped pad
ladder) and the scalar helpers only that loop and the tests use: pair
scoring, the word predicates, the string views of a ``SubjectIndex``
and the single-window Gotoh entry point. Production code never
imports it.
"""

from __future__ import annotations

import numpy as np

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (_B62, _B62_ALPHA, _B62_IDX,
                                               _B62_ROWS, _B62_X, _GAP_PAD,
                                               _GAP_PAD_MAX, SubjectIndex,
                                               _window_hashes,
                                               encode_protein,
                                               fold_case_str,
                                               gotoh_local_batch,
                                               neighborhood_words, revcomp)

# ---------------------------------------------------------------------------
# scalar scoring and word predicates
# ---------------------------------------------------------------------------


def _b62_row_maps() -> list[dict[str, int]]:
    """One {char: score} dict per matrix row, covering all 256 byte
    chars (unknowns pre-resolved to the X column): the sequential
    loop's inner step is a single dict hit per pair."""
    return [{chr(c): int(_B62_ROWS[ri][_B62_IDX[c]]) for c in range(256)}
            for ri in range(len(_B62_ALPHA))]


_B62_ROWMAP = _b62_row_maps()
_B62_X_ROW = _B62_ROWMAP[_B62_X]


def _b62_row(ch: str) -> dict[str, int]:
    o = ord(ch)
    return _B62_ROWMAP[_B62_IDX[o]] if o < 256 else _B62_X_ROW


def blosum62_score(a: str, b: str) -> int:
    """Pairwise BLOSUM62 score; non-residue characters score as X."""
    row = _b62_row(a)
    return row[b] if ord(b) < 256 else row["X"]


def pair_scorer(cfg: BlastConfig):
    """char-pair -> score for the config's scoring system: BLOSUM62
    lookups for blastp, reward/penalty for blastn."""
    if cfg.task == "blastp":
        return blosum62_score
    reward, penalty = cfg.reward, cfg.penalty

    def sc(a: str, b: str) -> int:
        return reward if a == b else penalty
    return sc


def word_is_lowercase_masked(word: str) -> bool:
    """True when the word overlaps a soft-masked (lowercase) region —
    the FASTA convention dustmasker/segmasker emit and
    -soft_masking/-lcase_masking consume (doc/USERGUIDE:47-50)."""
    return any(c.islower() for c in word)


def word_low_complexity(word: str, protein: bool) -> bool:
    """Builtin dust/seg analog: a seed word is low-complexity when its
    distinct-character count collapses (homopolymer/dimer repeats for
    nucleotides, homopolymer for protein words). Case-folds per
    codepoint (fold_case_str semantics), the scalar form of the masked
    index build's _low_complexity_windows_np."""
    return len(set(fold_case_str(word))) <= (1 if protein else 2)


# ---------------------------------------------------------------------------
# string views of a SubjectIndex
# ---------------------------------------------------------------------------


def query_buckets(index: SubjectIndex, q: str) -> list[int]:
    """Bucket id (-1 = no seed) for every word position of a
    (case-resolved) query."""
    codes = np.frombuffer(q.encode("utf-32-le"), dtype="<u4")
    qh = _window_hashes(codes, index.word_size)
    return index.buckets_for_hashes(qh).tolist()


def bucket_pairs(index: SubjectIndex, bi: int) -> zip:
    """(subject_idx, pos) pairs of one bucket, in (si asc, pos asc)
    order."""
    s0, e0 = index._bstart[bi], index._bend[bi]
    return zip(index._sis[s0:e0], index._poss[s0:e0])


def lookup_word(index: SubjectIndex, word: str,
                str_index: dict | None = None) -> list[tuple[int, int]]:
    """Exact occurrences of an ARBITRARY word (not necessarily a query
    window): one hash + searchsorted + exact re-verify, or a plain get
    on ``str_index`` when the caller walks a reference dict."""
    if str_index is not None:
        return str_index.get(word, [])
    codes = np.frombuffer(word.encode("utf-32-le"), dtype="<u4")
    h = _window_hashes(codes, index.word_size)
    if not len(h) or not len(index._ukeys):
        return []
    ii = int(np.searchsorted(index._ukeys, h[0]))
    if ii >= len(index._ukeys) or index._ukeys[ii] != h[0]:
        return []
    k = index.word_size
    return [(si, spos) for si, spos in bucket_pairs(index, ii)
            if index.ext_seqs[si][spos:spos + k] == word]


def neighborhood_hits(index: SubjectIndex, word: str, threshold: int,
                      str_index: dict | None = None,
                      ) -> list[tuple[list[tuple[int, int]], int, int]]:
    """Seeding candidates for one query word under -threshold
    semantics: [(occurrences, seed_score, seed_ident)] over every
    neighborhood word present in the partition, in neighbor
    enumeration order (the order SubjectIndex.neighborhood_arrays
    flattens)."""
    got = []
    for w2, sc in neighborhood_words(word, threshold):
        hits = lookup_word(index, w2, str_index)
        if hits:
            ident = sum(a == b for a, b in zip(word, w2))
            got.append((hits, sc, ident))
    return got


def word_index(index: SubjectIndex) -> dict[str, list[tuple[int, int]]]:
    """String-keyed view of the index: word -> [(si, pos)...] in
    bucket order."""
    out: dict[str, list[tuple[int, int]]] = {}
    k = index.word_size
    for s0, e0 in zip(index._bstart, index._bend):
        for si, pos in zip(index._sis[s0:e0], index._poss[s0:e0]):
            word = index.ext_seqs[si][pos:pos + k]
            out.setdefault(word, []).append((si, pos))
    return out


def encoded(index: SubjectIndex) -> list[tuple[np.ndarray, np.ndarray]]:
    """(ord array, BLOSUM row-index array) per subject."""
    return [encode_protein(s) for s in index.ext_seqs]


# ---------------------------------------------------------------------------
# scalar ungapped X-drop extension
# ---------------------------------------------------------------------------


def _extend_rp(q: str, s: str, qpos: int, spos: int, k: int,
               reward: int, penalty: int, xdrop: int):
    """Ungapped X-drop extension, reward/penalty scoring (blastn).
    Returns (score, qs, qe, ss, se, ident) with 0-based inclusive
    ends."""
    qlen, slen = len(q), len(s)
    # seed scores k matches
    score = k * reward
    ident = k
    # extend right from end of word
    best_score, best_qe, best_ident = score, qpos + k - 1, ident
    i, j, cur, cur_ident = qpos + k, spos + k, score, ident
    while i < qlen and j < slen:
        if q[i] == s[j]:
            cur += reward
            cur_ident += 1
        else:
            cur += penalty
        if cur > best_score:
            best_score, best_qe, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i += 1
        j += 1
    score, qe, ident = best_score, best_qe, best_ident
    # extend left from start of word
    best_score, best_qs, best_ident = score, qpos, ident
    i, j, cur, cur_ident = qpos - 1, spos - 1, score, ident
    while i >= 0 and j >= 0:
        if q[i] == s[j]:
            cur += reward
            cur_ident += 1
        else:
            cur += penalty
        if cur > best_score:
            best_score, best_qs, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i -= 1
        j -= 1
    qs = best_qs
    ss = spos - (qpos - qs)
    se = ss + (qe - qs)
    return best_score, qs, qe, ss, se, best_ident


def _extend_dir(qi: np.ndarray, si: np.ndarray, xdrop: int,
                chunk: int = 256, base: int = 0, best: int = 0,
                best_at: int = 0, t0: int = 0) -> tuple[int, int]:
    """One direction of X-drop extension over pre-gathered index
    arrays; processes in chunks so multi-megabase subjects don't pay
    for tails the drop test would never reach. base/best/best_at/t0
    carry state when a sequential prefix walk hands over mid-stream.
    Returns (best gain, chars extended)."""
    n = min(len(qi), len(si))
    qi, si = qi[:n], si[:n]
    for start in range(0, n, chunk):
        steps = _B62[qi[start:start + chunk], si[start:start + chunk]]
        c = base + np.cumsum(steps)
        run = np.maximum.accumulate(np.maximum(c, best))
        drop = (run - c) > xdrop
        stopped = bool(drop.any())
        upto = int(np.argmax(drop)) if stopped else len(c) - 1
        chunk_best = int(run[upto])
        if chunk_best > best:
            bidx = int(np.argmax(c[:upto + 1] == chunk_best))
            best, best_at = chunk_best, t0 + start + bidx + 1
        if stopped:
            return best, best_at
        base = int(c[-1])
    return best, best_at


# Sequential-prefix length before handing a still-live extension to the
# numpy chunks: random/unrelated text X-drops out well inside this many
# chars, while genuinely homologous stretches continue vectorized.
_SEQ_PREFIX = 40


def _extend_dir_hybrid(q: str, s: str, qrows: list, i0: int, j0: int,
                       step: int, qi: np.ndarray, si: np.ndarray,
                       xdrop: int) -> tuple[int, int]:
    """One direction, hybrid: walk up to _SEQ_PREFIX chars with dict
    lookups (early-exit friendly), then continue on index arrays. i0/j0
    are the first positions in this direction; step is +1 or -1; qi/si
    are this direction's index arrays starting at the same positions."""
    qlen, slen = len(q), len(s)
    cur, best, best_at = 0, 0, 0
    t = 0
    i, j = i0, j0
    while t < _SEQ_PREFIX:
        if not (0 <= i < qlen and 0 <= j < slen):
            return best, best_at
        row = qrows[i]
        v = row.get(s[j])
        cur += v if v is not None else row["X"]
        t += 1
        if cur > best:
            best, best_at = cur, t
        elif best - cur > xdrop:
            return best, best_at
        i += step
        j += step
    return _extend_dir(qi[t:], si[t:], xdrop,
                       base=cur, best=best, best_at=best_at, t0=t)


def _extend_vec(qo: np.ndarray, qi: np.ndarray, so: np.ndarray,
                si: np.ndarray, qpos: int, spos: int, k: int,
                seed_score: int, xdrop: int,
                q: str | None = None, s: str | None = None,
                qrows: list | None = None, seed_ident: int | None = None):
    """Vectorized ungapped X-drop extension of one blastp seed: exact
    same semantics as the sequential walk — first-maximum tie-breaking,
    strict improvement, break when best-cur > xdrop — scored by numpy
    gathers over precomputed row indices. When the string forms and
    row dicts are supplied, each direction walks a short sequential
    prefix first (most extensions die there) before vectorizing."""
    if qrows is not None:
        gain_r, ext_r = _extend_dir_hybrid(
            q, s, qrows, qpos + k, spos + k, 1,
            qi[qpos + k:], si[spos + k:], xdrop)
        gain_l, ext_l = _extend_dir_hybrid(
            q, s, qrows, qpos - 1, spos - 1, -1,
            qi[:qpos][::-1], si[:spos][::-1], xdrop)
    else:
        gain_r, ext_r = _extend_dir(qi[qpos + k:], si[spos + k:], xdrop)
        gain_l, ext_l = _extend_dir(qi[:qpos][::-1], si[:spos][::-1], xdrop)
    qs, qe = qpos - ext_l, qpos + k - 1 + ext_r
    ident = seed_ident if seed_ident is not None else k
    if ext_r:
        ident += int(np.count_nonzero(
            qo[qpos + k:qpos + k + ext_r] == so[spos + k:spos + k + ext_r]))
    if ext_l:
        ident += int(np.count_nonzero(
            qo[qpos - ext_l:qpos] == so[spos - ext_l:spos]))
    ss = spos - (qpos - qs)
    se = ss + (qe - qs)
    return seed_score + gain_r + gain_l, qs, qe, ss, se, ident


def _extend_rows(q: str, s: str, qpos: int, spos: int, k: int,
                 qrows: list, seed_score: int, xdrop: int):
    """Ungapped X-drop extension, matrix scoring (blastp): ``qrows``
    holds one precomputed {subject char: score} dict per query
    position (row maps cover all byte chars; rare non-Latin-1 subject
    chars fall back to the X column), and the seed score arrives
    precomputed from the diagonal prefix sums."""
    qlen, slen = len(q), len(s)
    score = seed_score
    ident = k
    best_score, best_qe, best_ident = score, qpos + k - 1, ident
    i, j, cur, cur_ident = qpos + k, spos + k, score, ident
    while i < qlen and j < slen:
        ch = s[j]
        if q[i] == ch:
            cur_ident += 1
        v = qrows[i].get(ch)
        cur += v if v is not None else qrows[i]["X"]
        if cur > best_score:
            best_score, best_qe, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i += 1
        j += 1
    score, qe, ident = best_score, best_qe, best_ident
    best_score, best_qs, best_ident = score, qpos, ident
    i, j, cur, cur_ident = qpos - 1, spos - 1, score, ident
    while i >= 0 and j >= 0:
        ch = s[j]
        if q[i] == ch:
            cur_ident += 1
        v = qrows[i].get(ch)
        cur += v if v is not None else qrows[i]["X"]
        if cur > best_score:
            best_score, best_qs, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i -= 1
        j -= 1
    qs = best_qs
    ss = spos - (qpos - qs)
    se = ss + (qe - qs)
    return best_score, qs, qe, ss, se, best_ident


# ---------------------------------------------------------------------------
# gapped stage, one window at a time
# ---------------------------------------------------------------------------


def gotoh_local(a: str, b: str, protein: bool, reward: int, penalty: int,
                gap_open: int, gap_extend: int,
                ) -> tuple[int, int, int, int, int, int, int, int]:
    """Affine-gap Smith-Waterman over one pair of windows: a batch of
    one through gotoh_local_batch. Returns (score, a0, a1, b0, b1,
    ident, gaps, align_len), 0-based inclusive local coordinates."""
    return gotoh_local_batch([(a, b)], protein, reward, penalty,
                             gap_open, gap_extend)[0]


def gapped_extend(q: str, s: str, qs: int, qe: int, ss: int, se: int,
                  cfg: BlastConfig) -> tuple[int, int, int, int, int,
                                             int, int, int]:
    """BLAST's stage-2 for one ungapped HSP: affine-gap local DP on the
    HSP extent padded by _GAP_PAD on each side; whenever the optimal
    alignment touches a window edge with more sequence beyond it, the
    pad doubles (up to _GAP_PAD_MAX) and the DP reruns — the per-item
    ladder gapped_extend_batch replays for many HSPs at once. Returns
    absolute coordinates in (q, s)."""
    pad = _GAP_PAD
    while True:
        q0, q1 = max(0, qs - pad), min(len(q), qe + 1 + pad)
        s0, s1 = max(0, ss - pad), min(len(s), se + 1 + pad)
        (score, a0, a1, b0, b1, ident, gaps, align_len) = gotoh_local(
            q[q0:q1], s[s0:s1], cfg.task == "blastp", cfg.reward,
            cfg.penalty, cfg.gap_open_eff, cfg.gap_extend_eff)
        touches = ((a0 == 0 and q0 > 0) or (a1 == q1 - q0 - 1 and q1 < len(q))
                   or (b0 == 0 and s0 > 0) or (b1 == s1 - s0 - 1 and s1 < len(s)))
        if not touches or pad >= _GAP_PAD_MAX:
            return (score, q0 + a0, q0 + a1, s0 + b0, s0 + b1,
                    ident, gaps, align_len)
        pad *= 2


# ---------------------------------------------------------------------------
# the per-seed loop
# ---------------------------------------------------------------------------


def _align_query_sequential(qid: int, seq: str, index: SubjectIndex,
                            cfg: BlastConfig,
                            str_index: dict | None = None) -> list[tuple]:
    """The reference implementation of the seed-and-extend loop: one
    Python iteration per seed — the semantic oracle align_block is
    pinned against (test_batched_parity, test_properties). Seeds come
    from the index's hash buckets (exact word re-verified), or, when
    ``str_index`` is given, from that word -> [(si, pos)] dict walked
    directly — the route that checks the hashed build against a
    reference build."""
    out = []
    k = cfg.word_size
    qlen = len(seq)
    is_protein = cfg.task == "blastp"
    strands = [(seq, 1)]
    if cfg.task == "blastn":
        strands.append((revcomp(seq), -1))
    fold = index.fold_case
    enc = encoded(index) if is_protein else None
    for q, qstrand in strands:
        q_ext = fold_case_str(q) if fold else q
        if is_protein:
            # encode once; seeds are exact word matches, so a seed's
            # score is a diagonal prefix-sum difference — O(1) per seed
            qo, qi_arr = encode_protein(q_ext)
            q_rowdicts = [_b62_row(c) for c in q_ext]
            pref = np.concatenate(
                ([0], np.cumsum(_B62[qi_arr, qi_arr]))).tolist()
        lcase = cfg.lcase_masking
        two_hit = int(cfg.window_size or 0)
        # neighborhood seeding (-threshold) is a blastp concept: short
        # protein words seed on near matches scoring >= T; nucleotide
        # seeding is exact-match by definition in BLAST
        nb_threshold = cfg.threshold if is_protein else None
        seen: dict[tuple[int, int], int] = {}   # (si, diag) -> covered qend
        pending: dict[tuple[int, int], int] = {}  # (si, diag) -> last seed qpos
        emitted: set[tuple] = set()   # gapped-alignment dedupe per strand
        hashed = str_index is None
        if hashed and nb_threshold is None:
            qb = query_buckets(index, q_ext)
            ext = index.ext_seqs
        for qpos in range(0, len(q) - k + 1):
            word = q[qpos:qpos + k]
            if lcase and word_is_lowercase_masked(word):
                continue
            if nb_threshold is not None:
                # each candidate carries its own seed score/identity
                # (the neighbor word generally differs from the query
                # word); the query word's own exact hits participate
                # only when its self-score clears T — BLAST semantics
                cand = neighborhood_hits(index, q_ext[qpos:qpos + k],
                                         nb_threshold, str_index)
            elif hashed:
                bi = qb[qpos]
                if bi < 0:
                    continue
                wkey = q_ext[qpos:qpos + k]
                # exact-word re-verify: the hash routes, the compare
                # decides (collisions can never fabricate a seed)
                hits = [(si, spos) for si, spos in bucket_pairs(index, bi)
                        if ext[si][spos:spos + k] == wkey]
                cand = [(hits, None, None)]
            else:
                hits = str_index.get(fold_case_str(word) if fold else word)
                cand = [(hits, None, None)]
            for hits, nb_score, nb_ident in cand:
                if not hits:
                    continue
                for si, spos in hits:
                    diag = spos - qpos
                    if seen.get((si, diag), -1) >= qpos:
                        continue
                    if two_hit:
                        # two-hit seeding analog (-window_size): extend only
                        # when a second seed lands on the same diagonal
                        # within the window; single seeds stay pending
                        prev = pending.get((si, diag))
                        pending[(si, diag)] = qpos
                        if prev is None or qpos - prev > two_hit:
                            continue
                    if is_protein:
                        so, si_arr = enc[si]
                        score, qs, qe, ss, se, ident = _extend_vec(
                            qo, qi_arr, so, si_arr, qpos, spos, k,
                            (nb_score if nb_score is not None
                             else pref[qpos + k] - pref[qpos]), cfg.xdrop,
                            q=q_ext, s=index.ext_seqs[si], qrows=q_rowdicts,
                            seed_ident=nb_ident)
                    else:
                        score, qs, qe, ss, se, ident = _extend_rp(
                            q_ext, index.ext_seqs[si], qpos, spos, k,
                            cfg.reward, cfg.penalty, cfg.xdrop)
                    seen[(si, diag)] = qe
                    if score < cfg.min_raw_score:
                        continue
                    gaps_n, align_len = 0, qe - qs + 1
                    if cfg.gapped and score >= cfg.gap_trigger_eff:
                        # stage 2 (BLAST's model): affine-gap DP around the
                        # ungapped HSP; several seeds of one homology can
                        # converge to the same gapped alignment — dedupe
                        (gscore, gqs, gqe, gss, gse, gident, gg, galn
                         ) = gapped_extend(q_ext, index.ext_seqs[si],
                                           qs, qe, ss, se, cfg)
                        if gscore < cfg.min_raw_score:
                            continue
                        score, qs, qe, ss, se = gscore, gqs, gqe, gss, gse
                        ident, gaps_n, align_len = gident, gg, galn
                        key = (si, qs, qe, ss, se)
                        if key in emitted:
                            continue
                        emitted.add(key)
                    if qstrand == -1:
                        # map coords back to the forward query orientation
                        qs, qe = qlen - qe - 1, qlen - qs - 1
                    out.append((qid, index.sids[si], score,
                                align_len, ident, gaps_n,
                                qs, qe, ss, se, qstrand, 1, qlen))
    return out
