"""Search benchmark: generated FASTA in, hits out.

    python3 searchbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each search goes FASTA on disk -> ``sources`` -> ``plans.pipeline.run_search``
-> ``sinks``, through the public calls ``python -m mr_mpi_blast_spark``
makes (the CLI itself cannot run these workloads: its option parser
ignores ``-task``). One client, closed loop: the next search starts when
the previous one has been written and checked. Spark runs as
``local[nproc / 2]``: on a shared 4-core VM, five seeds run in turn at
each setting gave ``search_s`` an interquartile range of 0.07 of the
median at local[2], against 0.15 at local[1] and 0.18 at local[4]
(at local[4] the JVM's compiler and GC threads and the driver compete
with busy Python workers). Every search is cold: the benchmark's
scratch root is cleared first and a fresh content key is used, so volumes, seed Blooms
and index pickles are built again, and the check asserts they were.

``--trace 0`` gives the end-to-end metrics. Set-up (session start and
input generation) runs five times, restarting the session, and its
median is ``setup_s``. One warm-up search follows: the first search
of a session also pays the JVM's compilation of its code paths (on a
4-core box about 25-35 s, against 10-15 s for a repeat). Then searches
run back to back until ``--seconds`` have passed, at least one, and
their median is ``search_s``; garbage is collected in the driver and
the JVM before each. The run budget (48 runs of both workloads within
an hour) allows one timed search per run, at the one-second window
BENCHMARK.json sets.

``--trace 1`` gives the per-layer metrics. With the Spark event log on,
it runs an untraced warm-up search, an untraced reference search, and
one search split at its layer boundaries: each layer is timed from
outside around its public calls and runs under its own Spark job
group. Spans are kept in memory and written once, with self times, to
``.searchbench/results/<workload>-seed<n>-spans.json``.

Every search's output is checked (``check.py``); a failed search or
check is counted in ``attempted``/``failed``, never dropped. The last
stdout line is the result JSON; the line before it echoes the pinned
environment. Results are also written atomically, as they accumulate,
to ``.searchbench/results/``; everything else the run writes goes to
``.searchbench/tmp/`` and is removed at the end.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zlib
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(ROOT, ".searchbench")
TMP = os.path.join(WORK, "tmp")
RESULTS = os.path.join(WORK, "results")
GRAFT = os.path.join(TMP, "graft")          # SPARK_GRAFT_SCRATCH

SETUP_REPS = 5
VOLUMES = 4                                 # the CLI's --volumes default
SINK_FILES = {"parquet": "hits.parquet", "csv": "hits.csv",
              "bin": "hits.bin", "hdf5": "hits.hd5",
              "sqlite": "hits.sqlite"}
BIN_RECORD = 104                            # legacy generic struct size
HDF5_RECORD = 140                           # /blhits/blhitstab row size
# layers whose Spark jobs run under their own job group
LAYERS = ("sources", "blocks", "pipeline.stage", "pipeline.prune",
          "pipeline.map", "pipeline.tail", "sinks")


def _mem_total_gb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except (OSError, ValueError, IndexError):
        pass
    return 4


def pin_env() -> dict:
    """Environment every run uses, set before the JVM starts: workers
    import the package from the repo root whatever the working
    directory, Spark uses half the cores of the box (see the module
    docstring), driver memory fits the box (a quarter of RAM, 1-8 GB),
    and all scratch lives under the benchmark's own root, away from the
    shared temp dir."""
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(8, _mem_total_gb() // 4))}g",
        "SPARK_GRAFT_SCRATCH": GRAFT,
        "SPARK_LOCAL_DIRS": os.path.join(TMP, "spark-local"),
        "TMPDIR": os.path.join(TMP, "tmp"),
    }
    os.environ.update(env)
    for d in (GRAFT, env["SPARK_LOCAL_DIRS"], env["TMPDIR"], RESULTS):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    cfg: object                               # BlastConfig
    sinks: tuple[str, ...]
    generate: Callable                        # (seed, out_dir) -> Inputs
    split: tuple[int, int] | None = None      # query windows (len, overlap)


def workloads() -> dict[str, Workload]:
    from mr_mpi_blast_spark.config import BlastConfig
    from searchbench import gen
    blastp = BlastConfig(task="blastp", word_size=4, evalue=1e-3,
                         num_hit_cutoff=100, block_size=10_000)
    wls = [
        # the paper's all-vs-all: the only workload that runs gapped
        # Gotoh; one-window blocks spread the work items over the cores
        Workload("allvsall_blastn_gapped",
                 BlastConfig(task="blastn", reward=2, penalty=-3,
                             gapped=True, gap_open=5, gap_extend=2,
                             word_size=11, evalue=1e-4, num_hit_cutoff=50,
                             block_size=1_000),
                 ("parquet",), gen.allvsall_blastn_gapped,
                 split=gen.AVA_WINDOW),
        # skewed hits per query: raw hits cross Arrow, then the tail
        # (projection, F1, shuffle by qid, top-k) and all five sinks
        Workload("blastp_hot_families", blastp,
                 ("parquet", "csv", "bin", "hdf5", "sqlite"),
                 lambda seed, d: gen.blastp_hot_families(
                     seed, d, blastp.num_hit_cutoff)),
    ]
    return {w.name: w for w in wls}


def volume_of(defline: str) -> str:
    """Python twin of ``load_subjects``' db_part column."""
    return f"vol{zlib.crc32(defline.encode()) % VOLUMES}"


# ---------------------------------------------------------------------------
# one search, as the CLI composes it
# ---------------------------------------------------------------------------


def get_session(extra_conf: dict | None = None):
    """The program's session, with console progress bars off and the
    JVM's temp files kept under the benchmark's root."""
    from mr_mpi_blast_spark.session import get_spark
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            **(extra_conf or {})}
    return get_spark("searchbench", extra_conf=conf)


def load_queries(spark, path: str, split):
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.sources.fasta import read_fasta
    from mr_mpi_blast_spark.sources.splitter import split_sequences
    raw = read_fasta(spark, path)
    if split:
        win = split_sequences(raw, query_len=split[0], overlap=split[1])
        return win.select(
            (F.col("qid") * 100 + F.col("chunk_idx")).alias("qid"),
            F.col("header").alias("defline"),
            F.col("header").alias("defline_part"),
            F.col("chunk").alias("seq"),
            F.col("chunk_len").cast("int").alias("length"))
    return raw.select("qid", "defline", "defline_part", "seq",
                      F.length("seq").cast("int").alias("length"))


def load_subjects(spark, path: str):
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.sources.fasta import read_fasta
    part = F.concat(F.lit("vol"),
                    F.pmod(F.crc32("defline"), F.lit(VOLUMES)).cast("string"))
    return read_fasta(spark, path).select(
        F.col("defline_part").alias("sid"), "defline", part.alias("db_part"),
        "seq", F.length("seq").cast("int").alias("length"))


def write_sinks(wl: Workload, hits, queries, out_dir: str,
                layer=lambda name: nullcontext()) -> None:
    from mr_mpi_blast_spark.plans.pipeline import attach_deflines
    from mr_mpi_blast_spark.sinks import (write_csv, write_legacy_bin,
                                          write_parquet, write_sqlite)
    from mr_mpi_blast_spark.sinks.writers import write_hdf5
    deflines = queries.select("qid", "defline")
    classifier = wl.cfg.is_classifier
    for fmt in wl.sinks:
        path = os.path.join(out_dir, SINK_FILES[fmt])
        with layer(f"sinks.{fmt}"):
            if fmt == "parquet":
                write_parquet(hits, path)
            elif fmt == "csv":
                write_csv(hits, path, deflines=deflines)
            elif fmt == "sqlite":
                write_sqlite(hits, path)
            elif fmt == "bin":
                write_legacy_bin(attach_deflines(hits, deflines), path,
                                 classifier=classifier)
            elif fmt == "hdf5":
                write_hdf5(hits, path, classifier=classifier)


def search(spark, wl: Workload, inputs, out_dir: str, cache_key: str) -> None:
    from mr_mpi_blast_spark.plans.pipeline import run_search
    queries = load_queries(spark, inputs.query_fasta, wl.split)
    subjects = load_subjects(spark, inputs.db_fasta)
    hits = run_search(queries, subjects, wl.cfg, cache_key=cache_key).cache()
    hits.count()
    write_sinks(wl, hits, queries, out_dir)
    hits.unpersist()


# ---------------------------------------------------------------------------
# checks around a search
# ---------------------------------------------------------------------------


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def index_pickles() -> list[str]:
    d = os.path.join(GRAFT, f"spark_graft_idx_cache_{os.getuid()}")
    return ([f for f in os.listdir(d) if f.endswith(".pkl")]
            if os.path.isdir(d) else [])


def clear_scratch() -> None:
    """Drop staged volumes, seed Blooms and index pickles, so the next
    search starts cold."""
    shutil.rmtree(GRAFT, ignore_errors=True)
    os.makedirs(GRAFT, exist_ok=True)


def cold_built(cache_key: str, volumes: int) -> list[str]:
    """Problems if a cold search did not stage its volumes and build an
    index pickle per volume."""
    from mr_mpi_blast_spark.plans.pipeline import staged_volume_dir
    problems = []
    if not os.path.exists(os.path.join(staged_volume_dir(cache_key),
                                       "_SUCCESS")):
        problems.append("cold search did not stage its volumes")
    if len(index_pickles()) < volumes:
        problems.append(f"cold search built {len(index_pickles())} index "
                        f"pickles for {volumes} volumes")
    return problems


def sink_row_problems(wl: Workload, out_dir: str, rows: int) -> list[str]:
    """Every sink holds the rows the parquet sink holds."""
    import sqlite3
    problems = []
    for fmt in wl.sinks:
        path = os.path.join(out_dir, SINK_FILES[fmt])
        if fmt == "csv":
            n = 0
            for f in os.listdir(path):
                if f.endswith(".csv"):
                    with open(os.path.join(path, f)) as fh:
                        n += max(0, sum(1 for _ in fh) - 1)
        elif fmt == "bin":
            n = _du(path) // BIN_RECORD
        elif fmt == "sqlite":
            con = sqlite3.connect(path)
            try:
                n = con.execute("SELECT count(*) FROM hits").fetchone()[0]
            finally:
                con.close()
        elif fmt == "hdf5":
            n = rows if _du(path) >= rows * HDF5_RECORD else -1
        else:
            continue
        if n != rows:
            problems.append(f"sink {fmt} holds {n} rows, parquet {rows}")
    return problems


def sample_check(wl: Workload, inputs, hits):
    """Compare a fixed sample of queries (the first query and the one
    with most output rows) with an in-process ``align_block`` over
    every volume plus a pandas top-k. Returns (problems, seconds spent
    in align_block)."""
    import pandas as pd

    from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, align_block,
                                                   scoring_params)
    from searchbench.check import compare_sample, reference_topk
    cfg = wl.cfg
    queries = dict(inputs.queries)
    sample = {min(queries)}
    if len(hits):
        sample.add(int(hits.groupby("qid").size().idxmax()))
    items = [(q, queries[q]) for q in sorted(sample)]
    vols: dict[str, list[tuple[str, str]]] = {}
    for sid, defline, seq in inputs.subjects:
        vols.setdefault(volume_of(defline), []).append((sid, seq))
    raws, serial = [], 0.0
    for part in sorted(vols):
        idx = SubjectIndex(vols[part], cfg.word_size, cfg.max_kmer_hits,
                           soft_mask=cfg.subject_soft_mask,
                           complexity=cfg.complexity_filter,
                           protein=cfg.task == "blastp",
                           fold_case=cfg.mask_fold_case)
        t0 = time.perf_counter()
        raws.append(align_block(items, idx, cfg))
        serial += time.perf_counter() - t0
    dbsize = sum(len(s) for _, _, s in inputs.subjects)
    ref = reference_topk(pd.concat(raws, ignore_index=True), dbsize,
                         len(inputs.subjects), scoring_params(cfg),
                         cfg.evalue, cfg.num_hit_cutoff)
    return compare_sample(hits, ref, sorted(sample)), serial


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def quiesce(spark) -> None:
    """Collect garbage in the driver and the JVM before a timed search,
    so no search pays for the garbage of the one before."""
    gc.collect()
    if spark is not None:
        spark.sparkContext._jvm.System.gc()


class Run:
    """One benchmark invocation: the session, the inputs, the counters,
    the per-search records and the results file, rewritten atomically
    after every change."""

    def __init__(self, wl: Workload, seed: int, trace: int, env: dict):
        from searchbench.check import DigestBook
        self.wl, self.seed, self.trace, self.env = wl, seed, trace, env
        self.attempted = 0
        self.failed = 0
        self.found = 0
        self.planted = 0
        self.searches: list[dict] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.book = DigestBook(os.path.join(RESULTS, "digests.json"))
        self.path = os.path.join(
            RESULTS, f"{wl.name}-seed{seed}-trace{trace}.json")
        self.spark = None
        self.inputs = None
        self.first_output = None

    def save(self) -> None:
        doc = {"env": self.env, "attempted": self.attempted,
               "failed": self.failed, "searches": self.searches,
               "metrics": {k: {"value": v, "unit": u}
                           for k, (v, u) in self.metrics.items()}}
        tmp = f"{self.path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1)
        os.replace(tmp, self.path)

    def set_up(self, rep: int, extra_conf: dict | None = None) -> None:
        """(Re)start the session and generate the inputs."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session(extra_conf)
        sc = self.spark.sparkContext
        self.env.update(master=sc.master,
                        default_parallelism=sc.defaultParallelism)
        in_dir = os.path.join(TMP, f"inputs{rep}")
        shutil.rmtree(in_dir, ignore_errors=True)
        os.makedirs(in_dir)
        self.inputs = self.wl.generate(self.seed, in_dir)

    def one_search(self, kind: str, fn=None) -> float:
        """Run, time and check one cold search; count it, whatever
        happens. ``fn(out_dir, cache_key)`` replaces the plain search
        (the traced pass)."""
        import pandas as pd

        from searchbench.check import check_hits
        wl, inputs = self.wl, self.inputs
        key = f"searchbench:{wl.name}:{self.seed}:{len(self.searches)}"
        out_dir = os.path.join(TMP, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        clear_scratch()
        rec = {"kind": kind, "problems": []}
        self.attempted += 1
        self.planted += len(inputs.planted)
        quiesce(self.spark)
        t0 = time.perf_counter()
        try:
            if fn is None:
                search(self.spark, wl, inputs, out_dir, key)
            else:
                fn(out_dir, key)
            rec["search_s"] = time.perf_counter() - t0
            hits = pd.read_parquet(os.path.join(out_dir, "hits.parquet"))
            res = check_hits(hits, inputs.planted, wl.cfg.num_hit_cutoff,
                             wl.cfg.evalue)
            rec.update(rows=res.rows, recall=res.recall, digest=res.digest)
            rec["problems"] += res.problems
            bad = self.book.check(f"{wl.name}:{self.seed}", res.digest)
            if bad:
                rec["problems"].append(bad)
            rec["problems"] += sink_row_problems(wl, out_dir, res.rows)
            rec["problems"] += cold_built(key, len({
                volume_of(d) for _, d, _ in inputs.subjects}))
            self.found += round(res.recall * len(inputs.planted))
            if self.first_output is None:
                self.first_output = (hits, rec)
        except Exception as exc:    # a failed search is counted, not fatal
            rec.setdefault("search_s", time.perf_counter() - t0)
            rec["problems"].append(f"{type(exc).__name__}: {exc}"[:2000])
            rec["traceback"] = traceback.format_exc()[-8000:]
        if rec["problems"]:
            self.failed += 1
        self.searches.append(rec)
        self.save()
        return rec["search_s"]

    def run_sample_check(self) -> float:
        """The sample check on the first checked output; a failure marks
        that search failed. Returns the serial align_block seconds."""
        if self.first_output is None:
            return 0.0
        hits, rec = self.first_output
        try:
            problems, serial = sample_check(self.wl, self.inputs, hits)
        except Exception as exc:    # counted like any failed check
            problems, serial = [f"sample check: {exc}"], 0.0
            rec["traceback"] = traceback.format_exc()[-8000:]
        if problems and not rec["problems"]:
            self.failed += 1
        rec["problems"] += problems
        self.save()
        return serial


def untraced(run: Run, seconds: float) -> None:
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        run.set_up(rep)
        setups.append(time.perf_counter() - t0)
    run.one_search("warmup")
    times = []
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        times.append(run.one_search("timed"))
    run.run_sample_check()
    run.metrics.update({
        "search_s": (statistics.median(times), "s"),
        "setup_s": (statistics.median(setups), "s"),
        "ok_ratio": ((run.attempted - run.failed) / run.attempted, "1"),
        "planted_recall": (run.found / run.planted, "1"),
    })
    run.env["setup_reps_s"] = setups
    run.save()


def traced(run: Run) -> None:
    from searchbench.spans import Tracer, event_log_counters
    event_dir = os.path.join(TMP, "events")
    os.makedirs(event_dir, exist_ok=True)
    t0 = time.perf_counter()
    run.set_up(0, {"spark.eventLog.enabled": "true",
                   "spark.eventLog.dir": "file://" + event_dir,
                   "spark.eventLog.compress": "false"})
    start_s = time.perf_counter() - t0
    run.one_search("warmup")
    ref_s = run.one_search("reference")
    tr = Tracer(f"{run.wl.name}:{run.seed}:traced", run.spark)
    m: dict[str, tuple[float, str]] = {}
    run.one_search("traced",
                   lambda out_dir, key: m.update(
                       traced_search(run, tr, out_dir, key)))
    with tr.span("check"):
        m["kernel.align.serial_s"] = (run.run_sample_check(), "s")
    run.spark.stop()
    run.spark = None
    counters = event_log_counters(event_dir)
    root = next(s for s in tr.spans if s.name == "search")
    m["session.start_s"] = (start_s, "s")
    for layer in LAYERS:
        agg = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0}
        for group, c in counters.items():
            if group == layer or group.startswith(layer + "."):
                for k in agg:
                    agg[k] += c[k]
        for k, v in agg.items():
            m[f"{layer}.{k}"] = (v, "count" if k in ("jobs", "tasks")
                                 else "bytes")
    m["trace.overhead_s"] = (root.duration - ref_s, "s")
    m["trace.uncovered_s"] = (tr.self_times()[root.span_id], "s")
    run.metrics.update(m)
    tr.write(os.path.join(RESULTS, f"{run.wl.name}-seed{run.seed}-spans.json"),
             {"counters": counters, "reference_search_s": ref_s})
    run.save()


def traced_search(run: Run, tr, out_dir: str,
                  key: str) -> dict[str, tuple[float, str]]:
    """One search split at its layer boundaries: each layer's output is
    materialised before the next layer starts, so each span holds its
    own layer's work. Counters that need extra jobs run after the
    search span, under their own span."""
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.functions.projections import project_hits
    from mr_mpi_blast_spark.kernel.builtin import (ensure_index_on_disk,
                                                   get_subject_index_lazy,
                                                   index_cache_key,
                                                   index_cache_path,
                                                   read_staged_part,
                                                   scoring_params)
    from mr_mpi_blast_spark.operators.blocks import assign_blocks
    from mr_mpi_blast_spark.plans.pipeline import (SEED_PRUNE_BITS,
                                                   prune_work_items,
                                                   run_kernel_raw,
                                                   search_from_raw,
                                                   stage_volumes,
                                                   staged_parts,
                                                   volume_seed_blooms)
    from mr_mpi_blast_spark.runlog import read_run_logs
    from searchbench.spans import kernel_calls

    spark, wl, cfg = run.spark, run.wl, run.wl.cfg
    log_dir = os.path.join(TMP, "ranklogs")
    raw_path = os.path.join(TMP, "raw.parquet")
    shutil.rmtree(log_dir, ignore_errors=True)
    m: dict[str, tuple[float, str]] = {}
    with tr.span("search"):
        with tr.span("sources") as sp:
            queries = load_queries(spark, run.inputs.query_fasta,
                                   wl.split).cache()
            subjects = load_subjects(spark, run.inputs.db_fasta).cache()
            counts = [df.agg(F.count(F.lit(1)), F.sum("length")).first()
                      for df in (queries, subjects)]
        m["sources.busy_s"] = (sp.duration, "s")
        m["sources.records"] = (sum(c[0] for c in counts), "count")
        m["sources.residues"] = (sum(c[1] for c in counts), "count")

        with tr.span("blocks") as sp:
            blocked = (assign_blocks(queries, cfg.block_size)
                       .select("block_id", "qid", "seq").cache())
            n_blocks = blocked.select("block_id").distinct().count()
        m["blocks.busy_s"] = (sp.duration, "s")
        m["blocks.count"] = (n_blocks, "count")

        with tr.span("pipeline.stage") as sp:
            db_dir, _, _ = stage_volumes(subjects, cache_key=key)
            parts = sorted(r[0] for r in
                           staged_parts(spark, db_dir).collect())
        m["pipeline.stage.busy_s"] = (sp.duration, "s")
        m["pipeline.stage.volumes"] = (len(parts), "count")
        m["pipeline.stage.bytes"] = (_du(db_dir), "bytes")

        with tr.span("pipeline.prune") as sp:
            blooms = volume_seed_blooms(spark, db_dir, cfg.word_size)
            fill = (blooms.groupBy("db_part").count()
                    .agg(F.min("count")).first()[0] or 0) / SEED_PRUNE_BITS
            kept = prune_work_items(blocked, blooms, cfg.word_size,
                                    both_strands=cfg.task != "blastp").count()
        items = n_blocks * len(parts)
        m["pipeline.prune.busy_s"] = (sp.duration, "s")
        m["pipeline.prune.items_in"] = (items, "count")
        m["pipeline.prune.items_out"] = (kept, "count")
        m["pipeline.prune.kept_ratio"] = (kept / items if items else 0.0, "1")
        m["pipeline.prune.bloom_fill"] = (fill, "1")

        # in-process build and load of each volume's index, under keys
        # of its own so the pipeline's format pass still runs cold
        idx_args = (cfg.word_size, cfg.max_kmer_hits)
        idx_kw = dict(soft_mask=cfg.subject_soft_mask,
                      complexity=cfg.complexity_filter,
                      protein=cfg.task == "blastp",
                      fold_case=cfg.mask_fold_case)
        idx_bytes = 0
        with tr.span("kernel.index"):
            for part in parts:
                vkey = f"{key}:inprocess:{part}"

                def loader(part=part):
                    return read_staged_part(db_dir, part)
                with tr.span("kernel.index.build"):
                    ensure_index_on_disk(vkey, loader, *idx_args, **idx_kw)
                with tr.span("kernel.index.load"):
                    get_subject_index_lazy(vkey, loader, *idx_args,
                                           disk_cache=True, **idx_kw)
                path = index_cache_path(index_cache_key(vkey, *idx_args,
                                                        **idx_kw))
                idx_bytes += os.path.getsize(path) if path else 0
        m["kernel.index.build_s"] = (tr.total("kernel.index.build"), "s")
        m["kernel.index.load_s"] = (tr.total("kernel.index.load"), "s")
        m["kernel.index.bytes"] = (idx_bytes, "bytes")

        with tr.span("pipeline.map"):
            with tr.span("pipeline.map.build") as build:
                raw, dbsize, n_seqs = run_kernel_raw(
                    queries, subjects, cfg, log_dir=log_dir, cache_key=key)
            with tr.span("pipeline.map.run") as map_run:
                raw.write.mode("overwrite").parquet(raw_path)
        m["pipeline.map.build_s"] = (build.duration, "s")
        m["pipeline.map.wall_s"] = (map_run.duration, "s")

        with tr.span("pipeline.tail") as sp:
            hits = search_from_raw(spark.read.parquet(raw_path), dbsize,
                                   n_seqs, cfg).cache()
            n_hits = hits.count()
        m["pipeline.tail.busy_s"] = (sp.duration, "s")
        m["pipeline.tail.hits_out"] = (n_hits, "count")

        with tr.span("sinks") as sp:
            write_sinks(wl, hits, queries, out_dir, tr.span)
        m["sinks.busy_s"] = (sp.duration, "s")
        m["sinks.bytes"] = (_du(out_dir), "bytes")
        m["sinks.rows"] = (n_hits, "count")
        # per format only in the results file: a format a workload does
        # not write would print a constant 0
        for fmt in wl.sinks:
            m[f"sinks.{fmt}.busy_s"] = (tr.total(f"sinks.{fmt}"), "s")
            m[f"sinks.{fmt}.bytes"] = (
                _du(os.path.join(out_dir, SINK_FILES[fmt])), "bytes")

    with tr.span("trace.counters"):
        raw_df = spark.read.parquet(raw_path)
        m["pipeline.tail.hits_in"] = (raw_df.count(), "count")
        projected = project_hits(raw_df, dbsize=dbsize,
                                 classifier=cfg.is_classifier,
                                 ka=scoring_params(cfg), n_seqs=n_seqs,
                                 length_adjust=cfg.length_adjust)
        m["pipeline.tail.hits_after_evalue"] = (
            projected.filter(F.col("evalue") <= cfg.evalue).count(), "count")
        m["pipeline.tail.max_hits_per_qid"] = (
            raw_df.groupBy("qid").count().agg(F.max("count")).first()[0]
            or 0, "count")
        calls = kernel_calls([r.asDict() for r in
                              read_run_logs(spark, log_dir).collect()])
    for c in calls:
        tr.add("kernel.align", c["start"], c["end"], map_run.span_id)
    busy = [c["busy_s"] for c in calls]
    m["kernel.align.busy_s"] = (sum(busy), "s")
    m["kernel.align.calls"] = (len(busy), "count")
    m["kernel.align.item_p50_s"] = (
        statistics.median(busy) if busy else 0.0, "s")
    m["kernel.align.item_max_s"] = (max(busy, default=0.0), "s")
    m["kernel.align.raw_hits"] = (sum(c["raw_hits"] for c in calls), "count")
    cores = spark.sparkContext.defaultParallelism
    m["pipeline.map.efficiency"] = (
        sum(busy) / (cores * map_run.duration) if map_run.duration else 0.0,
        "1")
    for df in (hits, blocked, queries, subjects):
        df.unpersist()
    return m


def result(spec: dict, trace: int, attempted: int, failed: int,
           metrics: dict[str, tuple[float, str]]) -> dict:
    """The result object: every metric BENCHMARK.json names for this
    mode, with the unit it names. A metric that was not measured, or
    was measured in another unit, is an error, not a silent gap."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in metrics:
            raise KeyError(f"metric {m['name']} was not measured")
        value, unit = metrics[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"metric {m['name']} measured in {unit}, "
                             f"BENCHMARK.json says {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": out}


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it
    to exit (PySpark leaves it running until the interpreter exits)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:   # do not leave it behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mr_mpi_blast_spark")):
        print(f"error: no mr_mpi_blast_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    shutil.rmtree(TMP, ignore_errors=True)
    env = pin_env()
    wls = workloads()
    if args.workload not in wls:
        print(f"error: unknown workload {args.workload}; "
              f"known: {sorted(wls)}", file=sys.stderr)
        return 2
    env.update(seed=args.seed, workload=args.workload, trace=args.trace,
               nproc=len(os.sched_getaffinity(0)),
               cpus=int(env["SPARK_GRAFT_CPUS"]),
               driver_memory=env["SPARK_GRAFT_DRIVER_MEM"])
    run = Run(wls[args.workload], args.seed, args.trace, env)
    try:
        if args.trace:
            traced(run)
        else:
            untraced(run, args.seconds)
        run.book.save()
    finally:
        if run.spark is not None:
            run.spark.stop()
        stop_jvm()
        shutil.rmtree(TMP, ignore_errors=True)
    out = result(spec, args.trace, run.attempted, run.failed, run.metrics)
    print(json.dumps({"env": env}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
