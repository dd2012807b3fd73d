#!/usr/bin/env python
"""Round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (round-5 hygiene):
- Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3); the
  reported per-query number and the total are MEDIANS, so a one-off GC
  pause or page-cache miss can't masquerade as a regression. All raw
  reps are emitted under "reps" for post-hoc inspection.
- Reps are INTERLEAVED round-robin (pass 1 over every query, then
  pass 2, ...), not consecutive: this box's noise arrives in
  multi-second bursts, and three back-to-back reps of one query sit
  inside the same burst — the median absorbs it wholesale (observed:
  a query stable at 1.5 s benched [2.6, 7.6, 6.7] while a standalone
  probe minutes later measured [1.85, 1.5, 1.44]). Round-robin
  decorrelates the burst across the suite; per-pass totals are
  emitted under "pass_totals" so a noisy pass is visible directly.
- blast_pipeline's persisted raw-hits cache for the timed scale factor
  is cleared before its first rep: rep 1 is a deterministic COLD run
  (kernel executes), later reps are warm (persisted-parquet reuse, the
  reference's hit-files-then-convert read path). The cold time is
  reported separately under "cold" — the median reflects the warm
  steady state. Round 4's 4.3->6.0 s "regression" was exactly this
  ambiguity: an unkeyed cache made coldness depend on the warmup's
  write order.
- The same discipline applies to the content-addressed bucketed
  layouts (r13): $SPARK_GRAFT_SCRATCH/spark_graft_buckets is cleared
  before pass 1, so every BUCKET_STAGED query's rep 1 pays the full
  staging shuffle+write (reported under "cold") and the median is the
  warm amortized-layout read path those queries declare.
- The JSON line echoes cpus / master / default_parallelism (r13), so
  a lower-core scaling run is attributable from the output alone.
- Timing forces full materialization via the noop sink (count() would
  let Catalyst prune the output projection and under-measure). Before
  timing, every query executes once at sf0.001 (untimed) to warm JVM
  JIT + Whole-Stage Codegen; since the raw-hits cache is keyed by
  scale factor, this warmup can no longer evict the timed sf's kernel
  output."""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Correctness-only queries: each is the exact (deliberately exhaustive)
# baseline twin of a scale-path query that IS timed. Timing the
# exhaustive form as a headline number would misstate the engine's
# cost — the contract is answered by the scale twin:
#   dedup_ngram_jaccard -> dedup_minhash_lsh (LSH candidates + verify)
#   ann_cosine_topk (expression-form crossJoin) -> ann_cosine_topk_numpy
#     (BLAS mapInPandas, 4x) and ann_ivf_topk/_nprobe2 (bucketed)
#   run_summary re-runs a small kernel purely to exercise the W7
#     per-rank timing-log facility — instrumentation, not a workload
#   similarity_join_topk -> dedup_minhash_lsh for the pair SEARCH
#     (any exact Jaccard search is quadratic in shingle df on this
#     shared-vocabulary corpus; the top-k layer itself is output-sized)
CORRECTNESS_ONLY = {"blast_gapped_tail", "blast_gapped_nucl_tail",
                    "dedup_ngram_jaccard", "ann_cosine_topk",
                    "similarity_join_topk",
                    "run_summary"}


def _clear_raw_cache(sf_dir: str) -> None:
    """Delete the persisted raw-hits cache for this sf so the first
    blast_pipeline rep is a deterministic cold kernel run."""
    try:
        from mr_mpi_blast_spark.entry_queries import _blast_raw_path
        shutil.rmtree(_blast_raw_path(sf_dir), ignore_errors=True)
    except Exception as ex:
        # a failed clear would silently mislabel rep 1 as "cold" — the
        # exact ambiguity the methodology exists to remove; make it loud
        print(f"bench: raw-cache clear failed ({ex}); 'cold' rep may "
              f"actually be warm", file=sys.stderr)


# Queries whose write-once bucketed layout is staged content-addressed
# under $SPARK_GRAFT_SCRATCH/spark_graft_buckets (operators/bucketing.py).
# The scratch is cleared before pass 1 (below), so rep 1 pays the full
# staging shuffle+write deterministically and is reported under "cold",
# exactly like blast_pipeline's raw-hits cache; the median stays the
# warm steady state — the amortized-layout read path these queries
# exist to demonstrate — but now honestly labeled (r13, VERDICT item 3).
BUCKET_STAGED = {"blast_pipeline", "graph_pagerank",
                 "graph_triangles_bucketed", "bucketed_orders_join"}


def _clear_bucket_scratch() -> None:
    """Delete every content-addressed bucketed layout so pass 1 stages
    them from the parquet inputs — no cross-run persisted intermediate
    survives into the timed region (r13, VERDICT item 3). The bench
    session has not touched the timed sf yet (warmup runs sf0.001 and
    re-stages its own tables AFTER this clear would — so the clear
    happens before pass 1 only; the sf0.001 tables registered by the
    warmup are never read again once the timed passes start)."""
    try:
        from mr_mpi_blast_spark.operators.bucketing import _bucket_root
        root = os.path.dirname(_bucket_root("probe"))
        shutil.rmtree(root, ignore_errors=True)
    except Exception as ex:
        print(f"bench: bucket-scratch clear failed ({ex}); bucketed "
              f"queries' rep 1 may not be cold", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 5 interleaved reps (was 3): this box's noise arrives in multi-
    # second bursts wider than a 3-pass window — observed pass totals
    # of [57, 34, 49] s for identical work in one run. The median of 5
    # spans ~3-4 min of wall clock and absorbs a full burst.
    reps_n = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as e
    from mr_mpi_blast_spark.session import get_spark

    spark = get_spark("bench")
    qs = {k: v for k, v in e.queries().items() if k not in CORRECTNESS_ONLY}

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name, fn in qs.items():
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass  # the timed run below reports the failure

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    failed: set[str] = set()
    pass_totals: list[float] = []
    _clear_raw_cache(sf_dir)  # pass-1 blast_pipeline = deterministic cold
    _clear_bucket_scratch()   # pass-1 bucketed queries = cold staging
    for r in range(reps_n):
        pass_t0 = time.time()
        for name, fn in qs.items():
            if name in failed:
                continue
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                reps.setdefault(name, []).append(round(time.time() - t0, 3))
            except Exception as ex:  # a failing query must not hide the rest
                failed.add(name)
                print(f"bench: {name} rep {r} failed: {ex}", file=sys.stderr)
            # queries are independent; drop intra-query persists so
            # earlier reps' cached blocks don't tax later ones
            spark.catalog.clearCache()
        pass_totals.append(round(time.time() - pass_t0, 3))
    for name in qs:
        runs = reps.get(name, [])
        if name in failed or not runs:
            timings[name] = -1.0
            reps.pop(name, None)
            continue
        if name in BUCKET_STAGED and len(runs) > 1:
            # pass-1 rep = deterministic cold run (kernel execution /
            # bucketed-layout staging); steady state is the warm
            # persisted-layout read path
            cold[name] = runs[0]
            timings[name] = round(statistics.median(runs[1:]), 3)
        else:
            timings[name] = round(statistics.median(runs), 3)

    # Correctness-only twins get one timed rep AFTER the headline
    # passes — never in the headline total (they are deliberately
    # exhaustive baselines), but recorded in the sidecar so a timing
    # regression in an untimed query is still visible round over round.
    co_timings: dict[str, float] = {}
    for name, fn in e.queries().items():
        if name not in CORRECTNESS_ONLY:
            continue
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            co_timings[name] = round(time.time() - t0, 3)
        except Exception as ex:
            co_timings[name] = -1.0
            print(f"bench: correctness-only {name} failed: {ex}",
                  file=sys.stderr)
        spark.catalog.clearCache()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Round-5 lesson: the driver keeps only a bounded TAIL of stdout, and
    # embedding the per-rep arrays in the one JSON line pushed the leading
    # "metric"/"value" fields past the capture window (BENCH_r05.json
    # "parsed": null). The raw evidence (reps, pass totals) goes to a
    # sidecar file; stdout gets ONLY the compact summary, as the LAST line.
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_reps.json")
    tmp = f"{sidecar}.{os.getpid()}.tmp"
    try:
        # tmp + os.replace: a bench killed mid-dump must not leave a
        # torn sidecar or destroy the previous run's evidence
        with open(tmp, "w") as f:
            json.dump({"reps": reps, "pass_totals": pass_totals,
                       "cold": cold, "sf": sf, "bench_reps": reps_n,
                       "rep_order": "interleaved",
                       "correctness_only_s": co_timings}, f)
        os.replace(tmp, sidecar)
    except OSError as ex:
        print(f"bench: sidecar write failed ({ex})", file=sys.stderr)
    finally:
        try:
            os.unlink(tmp)            # leftover only when dump failed
        except FileNotFoundError:
            pass
    print(json.dumps({
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # the catalog GROWS round over round — compare totals only over
        # the intersection of query names (scripts/bench_delta.py does
        # this); n_queries makes the growth visible next to the total
        "n_queries": len(timings),
        "bench_reps": reps_n,
        "aggregation": "median",
        "cold": cold,
        "correctness_only": sorted(CORRECTNESS_ONLY),
        # echo the parallelism the run ACTUALLY used (r13, VERDICT
        # item 2): an 8-core scaling run is attributable from the JSON
        # alone, and "ignored $SPARK_GRAFT_CPUS" can never again be
        # inferred from ambiguous ~1.0 timing ratios. Read off the
        # live session, not re-parsed from $SPARK_GRAFT_CPUS: nothing
        # after the timed passes may raise and lose this line.
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }))


if __name__ == "__main__":
    main()
