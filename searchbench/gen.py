"""Seeded input generators for the search benchmark.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical FASTA files and returns the same planted homologies.
The program under test receives only the FASTA files; the planted
(query, subject) pairs stay with the benchmark and feed the output
check.

The seed draws the residues. The shape of the input (lengths, where
mutations fall, record order) comes from a fixed structure stream, so
every seed gives the kernel alike work and runs with different seeds
measure the same thing.

Workload shapes:

- ``allvsall_blastn_gapped``: DNA genome families. Each family has a
  random ancestor; every copy carries substitutions and short indels,
  so only a gapped search aligns siblings end to end. One FASTA holds
  all copies; the search shreds it into 1000/500 windows and searches
  the windows against the unsplit copies.
- ``blastp_hot_families``: protein families whose copy counts are
  skewed (two hot families, many small ones), so the hit count per
  query is skewed too. Every 4th database sequence is a query.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

STRUCTURE_SEED = 20120401
DNA = np.frombuffer(b"ACGT", dtype=np.uint8)
PROTEIN = np.frombuffer(b"ARNDCQEGHILKMFPSTWYV", dtype=np.uint8)

# allvsall_blastn_gapped
AVA_FAMILIES = 1
AVA_COPIES = 2
AVA_LEN = 1100
AVA_SUB = 0.02
AVA_INDELS = (1, 2)                # per copy: count, length
AVA_WINDOW = (1000, 500)

# blastp_hot_families
HOT_FAMILIES = 2
HOT_COPIES = 160
COLD_FAMILIES = 40
COLD_COPIES = 5
PROT_LEN = 225
PROT_SUB = 0.10
QUERY_EVERY = 4


@dataclass
class Inputs:
    """What one workload's generator wrote, plus what only the
    benchmark knows: the planted (query id, subject id) pairs, the
    subjects as (sid, defline, seq) and the queries as (qid, seq). Query
    ids are the ids the program assigns: serial qids in FASTA order,
    times 100 plus the window index when split."""
    db_fasta: str
    query_fasta: str
    planted: set[tuple[int, str]]
    subjects: list[tuple[str, str, str]]
    queries: list[tuple[int, str]]


def _random_seq(rng: np.random.Generator, alphabet: np.ndarray,
                n: int) -> np.ndarray:
    return alphabet[rng.integers(0, len(alphabet), n)]


def _structure(stream: int) -> np.random.Generator:
    return np.random.default_rng([STRUCTURE_SEED, stream])


def _substitute(rng: np.random.Generator, srng: np.random.Generator,
                seq: np.ndarray, alphabet: np.ndarray,
                rate: float) -> np.ndarray:
    """Replace exactly round(rate * len) residues, at positions from the
    structure stream ``srng``, each with a different residue."""
    index_of = np.zeros(256, dtype=np.int64)
    index_of[alphabet] = np.arange(len(alphabet))
    out = seq.copy()
    hit = srng.choice(len(seq), round(rate * len(seq)), replace=False)
    shift = rng.integers(1, len(alphabet), len(hit))
    out[hit] = alphabet[(index_of[out[hit]] + shift) % len(alphabet)]
    return out


def _indels(rng: np.random.Generator, srng: np.random.Generator,
            seq: np.ndarray, alphabet: np.ndarray, count: int,
            length: int) -> np.ndarray:
    """Insert or delete ``length`` residues at ``count`` distinct
    positions, so an ungapped alignment breaks into count + 1 pieces."""
    pieces, last = [], 0
    cuts = np.sort(srng.choice(np.arange(length, len(seq) - length,
                                         2 * length), count, replace=False))
    for pos in cuts:
        pieces.append(seq[last:pos])
        if srng.random() < 0.5:
            pieces.append(_random_seq(rng, alphabet, length))
            last = pos
        else:
            last = pos + length
    pieces.append(seq[last:])
    return np.concatenate(pieces)


def _text(seq: np.ndarray) -> str:
    return seq.tobytes().decode("ascii")


def write_fasta(path: str, records: list[tuple[str, str]]) -> None:
    with open(path, "w") as fh:
        for defline, seq in records:
            fh.write(f">{defline}\n")
            for i in range(0, len(seq), 80):
                fh.write(seq[i:i + 80] + "\n")


def _windows(length: int, query_len: int,
             overlap: int) -> list[tuple[int, int]]:
    """The (start, end) windows ``sources.splitter.split_sequences``
    cuts: starts step by query_len - overlap while start < length -
    overlap; chunk 0 always exists."""
    step = query_len - overlap
    out, start = [], 0
    while start == 0 or start < length - overlap:
        out.append((start, min(start + query_len, length)))
        start += step
    return out


def allvsall_blastn_gapped(seed: int, out_dir: str) -> Inputs:
    rng, srng = np.random.default_rng([seed, 1]), _structure(1)
    records, family_of = [], []
    for f in range(AVA_FAMILIES):
        ancestor = _random_seq(rng, DNA, AVA_LEN)
        for c in range(AVA_COPIES):
            copy = _indels(rng, srng,
                           _substitute(rng, srng, ancestor, DNA, AVA_SUB),
                           DNA, *AVA_INDELS)
            records.append((f"fam{f:02d}_copy{c:02d} family={f}",
                            _text(copy)))
            family_of.append(f)
    order = srng.permutation(len(records))
    records = [records[i] for i in order]
    family_of = [family_of[i] for i in order]
    db = os.path.join(out_dir, "genomes.fa")
    write_fasta(db, records)

    sids = [d.split(" ")[0] for d, _ in records]
    planted: set[tuple[int, str]] = set()
    queries: list[tuple[int, str]] = []
    for i, (_, seq) in enumerate(records):
        for w, (s, e) in enumerate(_windows(len(seq), *AVA_WINDOW)):
            qid = (i + 1) * 100 + w
            queries.append((qid, seq[s:e]))
            planted.update((qid, sids[j]) for j in range(len(records))
                           if family_of[j] == family_of[i])
    subjects = [(sid, d, seq) for sid, (d, seq) in zip(sids, records)]
    return Inputs(db, db, planted, subjects, queries)


def blastp_hot_families(seed: int, out_dir: str, cutoff: int) -> Inputs:
    rng, srng = np.random.default_rng([seed, 2]), _structure(2)
    sizes = [HOT_COPIES] * HOT_FAMILIES + [COLD_COPIES] * COLD_FAMILIES
    records, family_of = [], []
    for f, n in enumerate(sizes):
        ancestor = _random_seq(rng, PROTEIN, PROT_LEN)
        for c in range(n):
            records.append((f"p{f:03d}_{c:04d} family={f}",
                            _text(_substitute(rng, srng, ancestor, PROTEIN,
                                              PROT_SUB))))
            family_of.append(f)
    order = srng.permutation(len(records))
    records = [records[i] for i in order]
    family_of = [family_of[i] for i in order]
    db = os.path.join(out_dir, "proteins.fa")
    write_fasta(db, records)

    sids = [d.split(" ")[0] for d, _ in records]
    picks = list(range(0, len(records), QUERY_EVERY))
    qfa = os.path.join(out_dir, "queries.fa")
    write_fasta(qfa, [records[i] for i in picks])
    planted: set[tuple[int, str]] = set()
    queries = []
    for qid, i in enumerate(picks, start=1):
        queries.append((qid, records[i][1]))
        planted.add((qid, sids[i]))
        # siblings are only guaranteed in the output when the whole
        # family fits under the per-query cutoff
        if sizes[family_of[i]] <= cutoff:
            planted.update((qid, sids[j]) for j in range(len(records))
                           if family_of[j] == family_of[i])
    subjects = [(sid, d, seq) for sid, (d, seq) in zip(sids, records)]
    return Inputs(db, qfa, planted, subjects, queries)
