"""The end-to-end search pipeline (SURVEY §3.1 translated to Spark).

Reference lifecycle per iteration (mrblast.cpp:513-628):
  map(run_blast over block x db-partition work items)
  -> histogram hits/query (MPI_Allreduce) -> aggregate(balanced hash)
  -> sort_keys(qid) -> convert() -> reduce(sort by evalue, top-k, save)

Spark translation implemented here:
  assign_blocks(queries)                       # S5 bp bin-packing
  subjects.write.partitionBy(db_part)          # stage volumes ONCE,
     (distributed write to shared storage — the reference's volume
      files, doc/USERGUIDE:224-264; the driver never holds a subject
      row; residues, sequence count and volume names ride the write
      as observed metrics)
  format job: one task per volume               # makeblastdb analog
     (reads its staged volume once, publishes the content-keyed
      index pickle, writes the volume's seed-Bloom sidecar, returns
      the Bloom fill — the only eager job after staging)
  blocks x db_parts [- seed-Bloom pruned pairs] # J1 work items
  .groupBy(block_id, db_part).applyInPandas(lazy kernel)   # K1/K2
     (each group lazily reads its staged volume executor-side,
      with per-worker index reuse — S7, mrblast.cpp:838-845)
  -> project_hits (P2-P9, e-values vs WHOLE dbsize)     # S8
  -> filter evalue                              # F1
  -> [optional max_target_seqs cap]             # F2
  -> top_hits window                            # O2+O3 (replaces
     histogram+aggregate+sort+convert+reduce: Catalyst plans a
     WindowGroupLimit = map-side partial top-k, and AQE handles the
     per-qid skew the reference balanced by hand, mrblast.cpp:556-575)

Scale notes (100 TB): the queries side is horizontally partitioned by
block and shuffled once per (block, partition) work item — exactly the
reference's work-item model (mrblast.cpp:199-222). The database moves
driver-free: one distributed partitionBy write, then each executor
reads only the volumes its groups touch (page-cache/local-disk warm on
re-reads, bounded to one resident index per worker). On a cluster,
$SPARK_GRAFT_SCRATCH must point at shared storage (HDFS/S3/NFS);
default is a local temp dir, correct for local[*].
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import uuid
from urllib.parse import quote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.functions.projections import project_hits, subject_display_id
from mr_mpi_blast_spark.kernel.builtin import RAW_HITS, make_lazy_block_kernel
from mr_mpi_blast_spark.operators.blocks import assign_blocks
from mr_mpi_blast_spark.operators.topk import top_hits, topk_per_key

_STAGE_META = "_stage_meta.json"


def _scratch_root() -> str:
    return os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())


def staged_volume_dir(cache_key: str) -> str:
    """Deterministic staging location for a content key (under the
    scratch root). Formatted volumes are immutable once written —
    exactly the reference's makeblastdb model, where volumes are
    formatted once and every search reuses them
    (doc/USERGUIDE:224-264)."""
    digest = hashlib.md5(cache_key.encode()).hexdigest()[:16]
    return os.path.join(_scratch_root(), "spark_graft_volumes", digest)


def _stage_meta(db_dir: str) -> dict | None:
    """The staging record of a fully staged volume dir, or None. A
    record without the volume list predates it and counts as not
    staged, so such a dir is restaged once."""
    meta_p = os.path.join(db_dir, _STAGE_META)
    if not (os.path.exists(os.path.join(db_dir, "_SUCCESS"))
            and os.path.exists(meta_p)):
        return None
    with open(meta_p) as fh:
        meta = json.load(fh)
    return meta if "volumes" in meta else None


def stage_volumes(subjects: DataFrame,
                  cache_key: str | None = None) -> tuple[str, int, int]:
    """Distributed write of the database as one directory per db_part
    (the reference's makeblastdb volume staging, doc/USERGUIDE:224-264).
    Returns (staged root, total residue count, sequence count). No
    subject row touches the driver; the residue total (S8's
    whole-database length, mrblast.cpp:404-433), the sequence count
    and the volume names ride the write job as observed metrics
    (A6/E16) instead of further scans, and are kept in the dir's
    ``_stage_meta.json`` (staged_volumes/staged_parts read the names
    back without a listing job).

    ``cache_key``: content key (caller includes the source's identity
    AND freshness, e.g. path+mtime+size) enabling makeblastdb-style
    reuse — if the key's volume dir is already fully staged (_SUCCESS
    + meta sidecar with its volume list present), the write is skipped
    entirely. The reference never re-formats volumes per search;
    neither do we. Without a key every call stages a fresh
    ``blast_db_<uuid>`` dir under $SPARK_GRAFT_SCRATCH."""
    from pyspark.sql import Observation

    if cache_key is not None:
        db_dir = staged_volume_dir(cache_key)
        meta = _stage_meta(db_dir)
        if meta is not None:
            return db_dir, int(meta["residues"]), int(meta["n_seqs"])
    else:
        db_dir = os.path.join(_scratch_root(),
                              f"blast_db_{uuid.uuid4().hex[:12]}")

    obs = Observation("dbsize")
    # one writer task per volume: volumes are sized ~1 GB by the caller
    # (the reference's volume-size contract, doc/USERGUIDE:224-264), so
    # a single file per volume reads back fastest and avoids 32 tasks
    # each emitting a sliver into every partition dir.
    (subjects.select("sid", "seq", "db_part")
     .observe(obs, F.sum(F.length("seq")).alias("residues"),
              F.count(F.lit(1)).alias("n_seqs"),
              F.collect_set("db_part").alias("volumes"))
     .repartition(F.col("db_part"))
     .write.mode("overwrite").partitionBy("db_part").parquet(db_dir))
    got = obs.get
    meta = {"residues": int(got["residues"] or 0),
            "n_seqs": int(got["n_seqs"]),
            "volumes": sorted(str(v) for v in got["volumes"]),
            "key": cache_key}
    # meta published AFTER _SUCCESS (and atomically): reuse requires
    # both, so a concurrent reader never sees a half-staged dir as
    # complete.
    tmp = os.path.join(db_dir, f".{_STAGE_META}.{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(db_dir, _STAGE_META))
    return db_dir, meta["residues"], meta["n_seqs"]


def staged_volumes(db_dir: str) -> list[str]:
    """The volume (db_part) names stage_volumes recorded for a staged
    dir, sorted."""
    meta = _stage_meta(db_dir)
    if meta is None:
        raise FileNotFoundError(f"no staged volumes at {db_dir}")
    return meta["volumes"]


def staged_parts(spark, db_dir: str) -> DataFrame:
    """The tiny (db_part) dimension of a staged dir, built from its
    recorded volume list — a local relation: no job, no listing."""
    return spark.createDataFrame([(v,) for v in staged_volumes(db_dir)],
                                 "db_part string")


# ---------------------------------------------------------------------------
# Seed-overlap runtime filter (r11): skip (block, volume) work items
# that CANNOT produce a hit. Every hit the builtin kernel emits grows
# from an exact shared word of length word_size (kernel/builtin.py
# seed-and-extend; masking/complexity options only DROP seeds), so a
# block sharing zero k-mers with a volume contributes zero hits — the
# pair can be skipped before the kernel ever runs. This is the
# reference's locality/affinity work-item optimization family
# (mrmpi/mapreduce.cpp:1303-1528) re-expressed as data pruning, and
# the kernel-path twin of orders_bloom_prune (operators/profile.py).
#
# Soundness boundary: blastp NEIGHBORHOOD seeding (-threshold) seeds
# on non-exact word matches, so exact-k-mer pruning would drop real
# hits — run_kernel_raw disables the filter (no-op, full work-item
# set) whenever cfg.threshold is set. Case is folded to upper on both
# sides (soft-mask lowercase still extends), and the Bloom is
# one-sided by construction: a volume with a real shared word always
# survives; a disjoint volume survives only on a K-fold collision.
# ---------------------------------------------------------------------------


SEED_PRUNE_BITS = 1 << 20
# above this per-volume fill the probe can no longer prune any
# realistically-sized block (see the saturation-gate comment in
# run_kernel_raw): at f=0.25 a share-nothing volume still passes a
# 300-k-mer block with ~99% probability, so probing is pure cost
SEED_PRUNE_MAX_FILL = 0.25


def _kmer_explode(seq_col: str, k: int):
    """Distinct uppercased k-mers of a sequence column (empty for
    sequences shorter than k — sequence(1, 0) would count DOWN)."""
    return F.explode(F.array_distinct(F.expr(
        f"CASE WHEN length({seq_col}) < {k} THEN array() "
        f"ELSE transform(sequence(1, length({seq_col}) - {k} + 1), "
        f"i -> upper(substring({seq_col}, i, {k}))) END")))


def _bloom_dir(db_dir: str, word_size: int, bits: int) -> str:
    """The seed-Bloom sidecar dir of a staged dir: beside the volumes,
    keyed by everything that shapes the filter (content-addressed
    volume dirs make it immutable too, the makeblastdb model)."""
    return f"{db_dir}_seedbloom_k{word_size}_b{bits}_v3"


def _bloom_file(bloom_dir: str, part: str) -> str:
    return os.path.join(bloom_dir, f"{quote(part, safe='')}.parquet")


def _bloom_fill(path: str) -> int | None:
    """Set positions in a published sidecar file (its footer's row
    count), or None when the file does not exist yet."""
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows


def _read_blooms(spark, bloom_dir: str) -> DataFrame:
    # explicit schema: no footer-reading inference job
    return spark.read.schema("db_part string, pos bigint").parquet(bloom_dir)


def volume_seed_blooms(spark, db_dir: str, word_size: int,
                       bits: int = SEED_PRUNE_BITS) -> DataFrame:
    """(db_part, pos) — the set-bit positions of a Bloom filter over
    each volume's distinct (uppercased) k-mers, one sidecar file per
    volume beside the staged dir. A missing sidecar is built by the
    format job's per-volume task (_format_volumes; run_kernel_raw
    builds them in the same job as the index pickles), so there is one
    Bloom builder; present ones are reused. Output is bounded at
    ``bits`` positions per volume regardless of residue count.

    Sizing (r11 review): a SATURATED filter is a conservative no-op —
    every work item survives, nothing breaks, nothing is saved. The
    2^20 default stays useful to ~300k distinct k-mers per volume
    (fill ~0.6); for nucleotide word_size=11 the whole universe is
    4^11 ≈ 4.2M words, so volumes near-saturating 2^20 are within a
    factor of a few of containing EVERY word — at which point no
    exact filter could prune and the honest answer is "this database
    is not k-mer-sparse; the filter pays off for topically-partitioned
    volumes (the reference's nt/wgs split) and small alphabets, not
    for a uniform soup". Position-table rendering costs 8 B/position
    (worst ~8 MB/volume broadcast when saturated); callers with many
    dense volumes should lower ``bits`` to cap the broadcast — the
    filter degrades gracefully toward no-op, never toward wrong."""
    path = _bloom_dir(db_dir, word_size, bits)
    _format_volumes(spark, db_dir, None, (path, word_size, bits))
    return _read_blooms(spark, path)


def prune_work_items(blocked: DataFrame, volume_blooms: DataFrame,
                     word_size: int, bits: int = SEED_PRUNE_BITS,
                     both_strands: bool = True) -> DataFrame:
    """The surviving (db_part, block_id) pairs: a pair survives iff
    at least one of the block's query k-mers has ALL K of its Bloom
    positions set in the volume's filter. The probe stream is the
    block's DISTINCT k-mers (query-sized); the volume filters are a
    broadcast of DISTINCT (db_part, pos) rows (<= bits per volume —
    8 MB/volume worst case at the 2^20 default, KB when sparse); the
    output is work-item-sized. No subject row is read — the filters
    were staged with the volumes.
    ``bits`` MUST match the value the volume filters were built with
    (volume_seed_blooms bakes it into the sidecar path for exactly
    this reason).

    ``both_strands`` (r11 review): the blastn kernel seeds the query
    on BOTH strands (kernel/builtin.py strands loop runs revcomp(seq)
    too), so the probe set must include the reverse complement's
    k-mers — forward-only probing would prune a pair whose only
    homology is a minus-strand copy, silently losing real hits
    (pinned by test_seed_prune_keeps_minus_strand_only_block). Pass
    False only for protein (no strands; run_kernel_raw does)."""
    from mr_mpi_blast_spark.operators.profile import (
        BLOOM_K, _bloom_positions_spark)
    pos = F.array(*[F.expr(p)
                    for p in _bloom_positions_spark("kmer", bits)])
    probe_seqs = blocked.select("block_id", "seq")
    if both_strands:
        rc = probe_seqs.select(
            "block_id",
            F.expr("translate(reverse(upper(seq)), 'ACGT', 'TGCA')")
            .alias("seq"))
        probe_seqs = probe_seqs.unionByName(rc)
    bk = (probe_seqs.select("block_id",
                            _kmer_explode("seq", word_size).alias("kmer"))
          .distinct())
    # membership as a POSITION JOIN (the bloom_probe shape), not an
    # array_except over the filter array: near-saturated volume
    # filters are ~500k positions, and ArrayExcept rebuilds its hash
    # set per row — measured 3 s -> 10+ min on the sf0.1 cold kernel
    # (r11 review pass). The join probes (block, kmer, pos) rows
    # against broadcast DISTINCT (db_part, pos) rows; a kmer whose K
    # (possibly colliding) position rows ALL match a volume passes.
    kpos = bk.select("block_id", "kmer", F.explode(pos).alias("pos"))
    hits = (kpos.join(F.broadcast(volume_blooms), "pos")
            .groupBy("block_id", "kmer", "db_part")
            .agg(F.count(F.lit(1)).alias("nhit")))
    return (hits.filter(F.col("nhit") == BLOOM_K)
            .select("db_part", "block_id").distinct())


def _index_kw(cfg: BlastConfig) -> dict:
    """The index-shaping config fields, named as ensure_index_on_disk
    and index_cache_key take them."""
    return dict(word_size=cfg.word_size, max_kmer_hits=cfg.max_kmer_hits,
                soft_mask=cfg.subject_soft_mask,
                complexity=cfg.complexity_filter,
                protein=cfg.task == "blastp", fold_case=cfg.mask_fold_case)


def _format_volume(db_dir: str, part: str, index: tuple[str, dict] | None,
                   bloom: tuple[str, int, int] | None) -> tuple[str, int]:
    """One volume's format task. Reads the staged volume at most once,
    then, each only if missing: publishes the content-keyed index
    pickle (``index`` = (gen, _index_kw)) and writes the volume's
    seed-Bloom sidecar (``bloom`` = (sidecar dir, word size, bits)).
    Returns (volume, set Bloom positions; 0 without ``bloom``).

    The Bloom's word list comes off the index build when this task
    built an unmasked index of the same word size (its windows are
    already sorted by hash, SubjectIndex.seed_words), else from one
    vectorized pass over the volume (volume_words); either way one md5
    per distinct word and position, never per window."""
    from functools import cache

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mr_mpi_blast_spark.kernel.builtin import (ensure_index_on_disk,
                                                   read_staged_part,
                                                   volume_words)
    from mr_mpi_blast_spark.operators.profile import bloom_positions_py

    load = cache(lambda: read_staged_part(db_dir, part))
    built = None
    if index is not None:
        gen, kw = index
        built = ensure_index_on_disk(f"{db_dir}:{part}:{gen}", load, **kw)
        if kw["soft_mask"] or kw["complexity"]:
            built = None        # its windows miss the masked words
    if bloom is None:
        return part, 0
    bloom_dir, k, bits = bloom
    path = _bloom_file(bloom_dir, part)
    n = _bloom_fill(path)
    if n is None:
        if built is not None and built.word_size == k:
            words = built.seed_words()
        else:
            words = volume_words([seq for _, seq in load()], k)
        # upper() per distinct word, as the probe side's _kmer_explode
        # folds case (soft-masked lowercase still extends)
        pos = np.unique(bloom_positions_py({w.upper() for w in words},
                                           bits))
        # stored as DISTINCT (db_part, pos) ROWS, not a per-volume
        # array: the probe is a position JOIN (see prune_work_items),
        # and Spark's array_except against a near-saturated filter
        # array rebuilds a ~500k-element hash set PER PROBE ROW — the
        # r11 review-pass pathology that turned a 3 s cold kernel run
        # into 10+ minutes at sf0.1. Dot-prefixed temp name: Spark's
        # reader skips it.
        os.makedirs(bloom_dir, exist_ok=True)
        tmp = os.path.join(bloom_dir,
                           f".{os.path.basename(path)}.{os.getpid()}")
        pq.write_table(pa.table({
            "db_part": pa.array([part] * len(pos), pa.string()),
            "pos": pa.array(pos, pa.int64())}), tmp)
        os.replace(tmp, path)
        n = len(pos)
    return part, n


def _format_volumes(spark, db_dir: str, index: tuple[str, dict] | None,
                    bloom: tuple[str, int, int] | None) -> dict[str, int]:
    """The makeblastdb pass: ONE job, one task per volume
    (_format_volume), that builds whatever the volume is missing — its
    content-keyed index pickle and its seed-Bloom sidecar — BEFORE the
    kernel stage, so search tasks only ever unpickle (~1 s) instead of
    racing O(volume)-cost builds. The reference formats the database
    once (doc/USERGUIDE:224-264) and every rank opens the preformatted
    volume; without this separation a cold run had every worker that
    first touched a volume build it concurrently — workers x volumes x
    O(volume) wall, measured 277 s -> ~30 s at the synthesized sf1.0
    (10x documents). Returns {volume: set Bloom positions}, the
    saturation gate's input; driver traffic is that map and the
    volume names (stage_volumes recorded them).

    Warm-run skip: on a local[*] master the driver and the executors
    share one filesystem, so a driver-side presence sweep (pickles,
    sidecar footers) can skip the job entirely; on any OTHER master
    that check is wrong in both directions (driver has the pickle ->
    formatting skipped and workers race concurrent builds again;
    driver lacks it -> only the executor that ran the format task is
    warmed), so the job is ALWAYS submitted over all volumes and each
    task no-ops executor-locally on what is present — one
    metadata-cost task per volume on a warm cluster."""
    from mr_mpi_blast_spark.kernel.builtin import (index_cache_key,
                                                   index_cache_path)
    sc = spark.sparkContext
    missing, fills = staged_volumes(db_dir), {}
    if sc.master.startswith("local"):
        todo = []
        for p in missing:
            ip = None
            if index is not None:
                gen, kw = index
                ip = index_cache_path(index_cache_key(f"{db_dir}:{p}:{gen}",
                                                      **kw))
            n = _bloom_fill(_bloom_file(bloom[0], p)) if bloom else 0
            if n is None or (ip is not None and not os.path.exists(ip)):
                todo.append(p)
            else:
                fills[p] = n
        missing = todo
    if missing:
        fills.update(sc.parallelize(missing, len(missing))
                     .map(lambda p: _format_volume(db_dir, p, index, bloom))
                     .collect())
    return fills


def run_kernel_raw(queries: DataFrame, subjects: DataFrame,
                   cfg: BlastConfig | None = None,
                   log_dir: str | None = None,
                   cache_key: str | None = None,
                   seed_prune: bool = True) -> tuple[DataFrame, int, int]:
    """The kernel stage alone: (raw RAW_HITS DataFrame, whole-db residue
    count, whole-db sequence count), the two counts after any
    cfg.dbsize / cfg.n_seqs override. Split from run_search so the
    relational tail (P3-P9 + F1 + O2/O3) can be re-derived — and
    oracle-checked — from persisted raw output. RAW_HITS is all
    integers/strings, so persisting it is lossless across engines.

    ``cache_key`` flows to stage_volumes (makeblastdb-style volume
    reuse) and keys the per-worker subject-index cache on CONTENT
    instead of a per-run nonce — so a session running several searches
    against the same database rebuilds each volume's index once, the
    reference's resident-DB-handle model (mrblast.cpp:838-845) held
    across whole runs, not just map calls."""
    cfg = cfg or BlastConfig()

    # P2 once on the dimension side, before the kernel sees subjects
    if "sid" not in subjects.columns:
        subjects = subjects.withColumn("sid", subject_display_id(F.col("defline")))

    blocked = assign_blocks(queries, cfg.block_size).select("block_id", "qid", "seq")

    db_dir, residues, count = stage_volumes(subjects, cache_key=cache_key)
    dbsize = cfg.dbsize if cfg.dbsize is not None else residues
    n_seqs = cfg.n_seqs if cfg.n_seqs is not None else count
    spark = blocked.sparkSession
    # J1 work items: every block against every partition. Only the
    # partition NAMES cross the driver (the volume list stage_volumes
    # recorded); broadcast keeps the blocked side's partitioning.
    work = blocked.crossJoin(F.broadcast(staged_parts(spark, db_dir)))
    # the index cache keys on the staging identity (the content key,
    # or the fresh per-call dir) and the fields that shape the built
    # index: content-addressed volumes are immutable, so a keyed
    # database hits across independent jobs in the session, and a
    # fresh dir can never hit a stale index
    gen = hashlib.md5("|".join(map(str, (
        cache_key or db_dir, cfg.word_size, cfg.max_kmer_hits,
        cfg.subject_soft_mask, cfg.complexity_filter, cfg.task,
        cfg.mask_fold_case))).encode()).hexdigest()[:12]
    # the runtime filter (see module section above) keeps only (block,
    # volume) pairs with possible exact-seed overlap. Silently a no-op
    # under blastp -threshold (neighborhood seeding makes exact-k-mer
    # pruning unsound — documented boundary, full work-item set is the
    # conservative answer).
    bloom = None
    if seed_prune and cfg.threshold is None:
        bloom = (_bloom_dir(db_dir, cfg.word_size, SEED_PRUNE_BITS),
                 cfg.word_size, SEED_PRUNE_BITS)
    # ONE format job builds what each volume lacks: the index pickle
    # (only for a content-addressed gen — the makeblastdb analog; a
    # fresh dir's gen can never be hit again) and the seed-Bloom sidecar
    index = (gen, _index_kw(cfg)) if cache_key is not None else None
    fills = (_format_volumes(spark, db_dir, index, bloom)
             if index or bloom else {})
    # saturation gate (r11): at per-volume fill f a single k-mer
    # false-passes with ~f^K, so a block of n k-mers passes a
    # share-nothing volume with 1-(1-f^K)^n — ~1 for any
    # realistically-sized block once f >= SEED_PRUNE_MAX_FILL.
    # Probing then costs (k-mer hash + join per block) without ever
    # pruning; skip it on the SPARSEST volume's fill, which the format
    # job returned.
    if (bloom is not None and fills
            and min(fills.values()) / SEED_PRUNE_BITS < SEED_PRUNE_MAX_FILL):
        keep = prune_work_items(blocked, _read_blooms(spark, bloom[0]),
                                cfg.word_size,
                                both_strands=cfg.task != "blastp")
        work = work.join(F.broadcast(keep), ["db_part", "block_id"],
                         "left_semi")
    # The explicit repartition (not the groupBy's own exchange) matters:
    # the shuffle carries only query rows — a few MB even when the
    # kernel stage is hours of compute — so AQE's size-based coalescing
    # would shrink it to one task and serialize the kernel. A
    # user-specified repartition is exempt from AQE coalescing, and its
    # hash partitioning on the grouping keys satisfies applyInPandas's
    # required distribution, so no second exchange is planned.
    target = spark.sparkContext.defaultParallelism
    work = work.repartition(target, F.col("db_part"), F.col("block_id"))
    kernel = make_lazy_block_kernel(db_dir, cfg, gen=gen,
                                    disk_cache=cache_key is not None)
    if log_dir:
        # W7: per-rank timing log (TIMING=1 analog, mrblast.cpp:900-935)
        from mr_mpi_blast_spark.runlog import timed_kernel
        kernel = timed_kernel(kernel, log_dir)
    # db_part FIRST in the grouping key: applyInPandas sorts each task's
    # rows by the grouping columns in order, so any task holding several
    # volumes runs each volume's groups consecutively and the per-worker
    # index cache (capacity 1, like the reference's single resident DB
    # handle, mrblast.cpp:838-845) rebuilds once per volume per task —
    # the Spark analog of the reference sorting work items by DB file
    # (mrblast.cpp:462-476) for handle reuse.
    raw = work.groupBy("db_part", "block_id").applyInPandas(
        kernel, schema=RAW_HITS)
    return raw, dbsize, n_seqs


def search_from_raw(raw: DataFrame, dbsize: int, n_seqs: int,
                    cfg: BlastConfig | None = None) -> DataFrame:
    """The pipeline's relational tail: RAW_HITS -> canonical HITS.
    Projections (P3-P9), e-value filter (F1), optional
    max_target_seqs cap (F2), per-query top-k (O2+O3). Pure DataFrame
    composition over the kernel's integer output — callers may hand it
    a live kernel DataFrame or raw hits re-read from storage (the
    reference's converter runs over persisted hit files the same way,
    load_csv.py:93-152)."""
    cfg = cfg or BlastConfig()
    from mr_mpi_blast_spark.kernel.builtin import scoring_params
    hits = project_hits(raw, dbsize=dbsize, classifier=cfg.is_classifier,
                        ka=scoring_params(cfg), n_seqs=n_seqs,
                        length_adjust=cfg.length_adjust)
    hits = hits.filter(F.col("evalue") <= cfg.evalue)        # F1

    if cfg.max_target_seqs > 0:                              # F2
        hits = apply_max_target_seqs(hits, cfg.max_target_seqs)

    return top_hits(hits, cfg.num_hit_cutoff)                # O2+O3


def apply_max_target_seqs(hits: DataFrame, cap: int) -> DataFrame:
    """F2 (-max_target_seqs, doc/USERGUIDE:48-50,357-371): rank
    subjects per query by their best HSP (evalue asc, bitscore desc,
    sid tiebreak) and keep EVERY HSP of the top ``cap`` subjects.
    search_from_raw's F2 step; the catalog's blast_capped_tail
    value-checks it through that tail."""
    # best HSP per subject by HASH AGGREGATE, not a rank window: only
    # (evalue, bitscore) of the best HSP matter for the subject
    # ranking, and min(struct(evalue, -bitscore)) == ORDER BY evalue
    # ASC, bitscore DESC — partial aggregation combines map-side, so
    # the full hit table is never sort-shuffled (negation is exact, so
    # the order is too)
    best_per_subject = (
        hits.groupBy("qid", "sid")
        .agg(F.min(F.struct(F.col("evalue").alias("be"),
                            (-F.col("bitscore")).alias("nb"))).alias("b"))
        .select("qid", "sid", F.col("b.be").alias("evalue"),
                (-F.col("b.nb")).alias("bitscore")))
    subj_rank = topk_per_key(
        best_per_subject,
        ["qid"],
        [F.col("evalue").asc(), F.col("bitscore").desc(),
         F.col("sid").asc()],
        cap, rank_col="_tr").select("qid", "sid")
    return hits.join(subj_rank, ["qid", "sid"], "left_semi")


def run_search(queries: DataFrame, subjects: DataFrame,
               cfg: BlastConfig | None = None,
               log_dir: str | None = None,
               cache_key: str | None = None,
               seed_prune: bool = True) -> DataFrame:
    """queries(qid, seq, ...) x subjects(sid|defline, db_part, seq)
    -> canonical HITS DataFrame. log_dir enables the reference's
    TIMING per-rank log files (runlog.py). seed_prune (DEFAULT ON,
    r12) skips work items with zero possible seed overlap —
    value-identical output by construction (one-sided Bloom, both
    strands probed), a no-op under saturation and under blastp
    -threshold, and its cold cost is one sidecar per volume written by
    the format job that also builds the index pickles; pass False to
    force the full work-item set (the escape hatch, e.g. for an A/B
    parity replay)."""
    cfg = cfg or BlastConfig()
    raw, dbsize, n_seqs = run_kernel_raw(queries, subjects, cfg,
                                         log_dir=log_dir, cache_key=cache_key,
                                         seed_prune=seed_prune)
    return search_from_raw(raw, dbsize, n_seqs, cfg)


def attach_deflines(hits: DataFrame, deflines: DataFrame) -> DataFrame:
    """J3 (load_csv.py:104-142): re-attach query deflines — the
    reference's sorted sequential merge-join becomes a hash join;
    qids missing from the sidecar yield null qdef (the reference
    raises; we keep the row, SURVEY FIXTURES §4).

    No forced broadcast (r10, the triangle_counts lesson): the query
    sidecar is small in the common search mode, and Catalyst/AQE
    broadcasts it automatically under the threshold — but in the
    reference's all-vs-all mode (examples/refseq-all-vs-all) the
    query set IS the corpus, and a hard-coded F.broadcast would ship
    a corpus-sized table to every executor. Letting the optimizer
    choose gives broadcast when it fits and sort-merge when it
    doesn't, with zero change at the bounded sizes."""
    d = deflines.select(F.col("qid"), F.col("defline").alias("_qdef"))
    return (hits.join(d, "qid", "left")
                .withColumn("qdef", F.col("_qdef"))
                .drop("_qdef"))
