"""Tests of the search benchmark itself; none needs a Spark session.

    python3 -m pytest searchbench/tests -q
"""

import json
import os

import pandas as pd
import pytest

from mr_mpi_blast_spark.config import BlastConfig
from searchbench import check, gen, run, spans


def _read(d):
    return {f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("name", sorted(run.workloads()))
def test_generator_is_deterministic_for_a_seed(tmp_path, name):
    wl = run.workloads()[name]
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    for d in (a, b, c):
        d.mkdir()
    ia, ib = wl.generate(7, str(a)), wl.generate(7, str(b))
    ic = wl.generate(8, str(c))
    assert _read(a) == _read(b)
    assert (ia.planted, ia.subjects, ia.queries) == \
        (ib.planted, ib.subjects, ib.queries)
    assert _read(a) != _read(c)
    assert ia.planted and ia.queries and ia.subjects


def test_blastp_families_are_skewed(tmp_path):
    inputs = gen.blastp_hot_families(3, str(tmp_path), 100)
    families = {}
    for _, defline, _ in inputs.subjects:
        fam = defline.split("family=")[1]
        families[fam] = families.get(fam, 0) + 1
    sizes = sorted(families.values())
    assert sizes[-1] >= 20 * sizes[0]


def _spec():
    with open(run.SPEC) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_printed_with_its_unit(trace):
    named = _spec()["per_layer" if trace else "end_to_end"]
    metrics = {m["name"]: (1.5, m["unit"]) for m in named}
    out = run.result(_spec(), trace, 3, 0, metrics)
    assert out["correct"] and set(out) == {"correct", "attempted", "failed",
                                           "metrics"}
    assert out["metrics"] == {m["name"]: {"value": 1.5, "unit": m["unit"]}
                              for m in named}
    missing = dict(metrics)
    missing.pop(named[0]["name"])
    with pytest.raises(KeyError):
        run.result(_spec(), trace, 3, 0, missing)
    wrong = dict(metrics)
    wrong[named[0]["name"]] = (1.5, "furlongs")
    with pytest.raises(ValueError):
        run.result(_spec(), trace, 3, 0, wrong)


def test_a_failed_count_makes_the_result_incorrect():
    named = _spec()["end_to_end"]
    metrics = {m["name"]: (1.0, m["unit"]) for m in named}
    out = run.result(_spec(), 0, 4, 1, metrics)
    assert not out["correct"] and out["failed"] == 1 and out["attempted"] == 4


def _hits(rows):
    base = dict(ident=99.0, align_len=100, mismatches=1, gaps=0, qstart=1,
                qend=100, sstart=1, send=100, bitscore=180.0)
    return pd.DataFrame([dict(base, qid=q, sid=s, evalue=e)
                         for q, s, e in rows])[check.HIT_COLS]


PLANTED = {(1, "a"), (1, "b"), (2, "c")}
ROWS = [(1, "a", 1e-50), (1, "b", 1e-40), (1, "x", 1e-5), (2, "c", 1e-30)]


def test_check_passes_on_good_output():
    res = check.check_hits(_hits(ROWS), PLANTED, cutoff=3, evalue=1e-3)
    assert res.ok and res.recall == 1.0 and res.rows == 4


def test_check_fails_when_one_planted_hit_is_dropped():
    res = check.check_hits(_hits(ROWS[1:]), PLANTED, cutoff=3, evalue=1e-3)
    assert not res.ok
    assert res.recall == pytest.approx(2 / 3)


@pytest.mark.parametrize("rows,cutoff,evalue", [
    (ROWS, 2, 1e-3),                          # query 1 has 3 rows > 2
    (ROWS + [(2, "y", 0.5)], 3, 1e-3),        # evalue above the cutoff
    (ROWS + [(2, "c", 1e-30)], 3, 1e-3),      # tie on the full hit order
])
def test_check_fails_on_cap_evalue_and_order(rows, cutoff, evalue):
    assert not check.check_hits(_hits(rows), PLANTED, cutoff, evalue).ok


def test_digest_ignores_row_order_and_sees_values():
    h = _hits(ROWS)
    assert check.digest(h) == check.digest(h.iloc[::-1])
    h2 = h.copy()
    h2.loc[0, "evalue"] = 2e-50
    assert check.digest(h) != check.digest(h2)


def test_digest_book_flags_a_changed_digest_across_instances(tmp_path):
    path = str(tmp_path / "d" / "digests.json")
    book = check.DigestBook(path)
    assert book.check("w:1", "aaa") is None
    book.save()
    again = check.DigestBook(path)
    assert again.check("w:1", "aaa") is None
    assert again.check("w:1", "bbb") is not None


def test_sample_comparison_matches_reference_topk():
    raw = pd.DataFrame({
        "qid": [1, 1, 1], "sid": ["a", "b", "c"], "score": [90, 60, 12],
        "align_len": [50, 40, 12], "ident_count": [48, 36, 12],
        "gaps": [0, 1, 0], "qstart0": [0, 5, 1], "qend0": [49, 44, 12],
        "sstart0": [3, 9, 0], "send0": [52, 48, 11], "qstrand": [1, 1, -1],
        "sstrand": [1, 1, 1], "qlen": [60, 60, 60]})
    ref = check.reference_topk(raw, 10_000, 20, (0.625, 0.41, 0.78),
                               evalue=1.0, cutoff=2)
    assert list(ref["sid"]) == ["a", "b"]
    assert check.compare_sample(ref, ref, [1]) == []
    off = ref.copy()
    off.loc[1, "qend"] += 1
    assert check.compare_sample(off, ref, [1])
    assert check.compare_sample(ref.iloc[:1], ref, [1])


# --- the run loop counts every failure ------------------------------------


@pytest.fixture
def fake_run(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "TMP", str(tmp_path / "tmp"))
    monkeypatch.setattr(run, "RESULTS", str(tmp_path / "results"))
    monkeypatch.setattr(run, "GRAFT", str(tmp_path / "graft"))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "graft"))
    os.makedirs(run.RESULTS)
    wl = run.Workload("fake", BlastConfig(num_hit_cutoff=3, evalue=1e-3),
                      ("parquet",), generate=None)
    r = run.Run(wl, 1, 0, {})
    r.inputs = gen.Inputs("db.fa", "q.fa", PLANTED,
                          [("a", "a v", "ACGT"), ("b", "b v", "ACGT")],
                          [(1, "ACGT"), (2, "ACGT")])
    return r


def _good_search(rows):
    """A stand-in search: writes the parquet sink and the cold
    artifacts (staged volumes, one index pickle per volume)."""
    def fn(out_dir, key):
        from mr_mpi_blast_spark.plans.pipeline import staged_volume_dir
        _hits(rows).to_parquet(os.path.join(out_dir, "hits.parquet"))
        vol = staged_volume_dir(key)
        os.makedirs(vol)
        open(os.path.join(vol, "_SUCCESS"), "w").close()
        idx = os.path.join(run.GRAFT, f"spark_graft_idx_cache_{os.getuid()}")
        os.makedirs(idx, exist_ok=True)
        for i in range(4):
            open(os.path.join(idx, f"{i}.pkl"), "w").close()
    return fn


def test_a_good_search_is_counted_as_passing(fake_run):
    fake_run.one_search("timed", _good_search(ROWS))
    assert (fake_run.attempted, fake_run.failed) == (1, 0)
    assert fake_run.found == fake_run.planted == len(PLANTED)


def test_a_raising_search_is_counted_not_dropped(fake_run):
    def boom(out_dir, key):
        raise RuntimeError("executor lost")
    fake_run.one_search("timed", boom)
    fake_run.one_search("timed", _good_search(ROWS))
    assert (fake_run.attempted, fake_run.failed) == (2, 1)
    assert "RuntimeError" in fake_run.searches[0]["problems"][0]
    with open(fake_run.path) as fh:
        assert json.load(fh)["failed"] == 1


def test_a_failed_check_is_counted(fake_run):
    fake_run.one_search("timed", _good_search(ROWS[1:]))
    assert (fake_run.attempted, fake_run.failed) == (1, 1)
    assert fake_run.found < fake_run.planted


def test_a_search_that_skips_cold_staging_is_counted(fake_run):
    def warm_only(out_dir, key):
        _hits(ROWS).to_parquet(os.path.join(out_dir, "hits.parquet"))
    fake_run.one_search("timed", warm_only)
    assert fake_run.failed == 1
    assert any("stage" in p for p in fake_run.searches[0]["problems"])


def test_a_changed_digest_fails_the_later_search(fake_run):
    fake_run.one_search("timed", _good_search(ROWS))
    changed = [(q, s, e * 2) for q, s, e in ROWS]
    fake_run.one_search("timed", _good_search(changed))
    assert (fake_run.attempted, fake_run.failed) == (2, 1)


# --- spans -----------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    tr = spans.Tracer("s")
    tr.add("root", 0.0, 10.0, None)
    tr.add("a", 1.0, 4.0, 0)
    tr.add("b", 3.0, 5.0, 0)          # overlaps a: union is 1..5
    tr.add("c", 9.0, 12.0, 0)         # clipped to the parent: 9..10
    assert tr.self_times()[0] == pytest.approx(10 - 4 - 1)


def test_kernel_calls_pair_start_and_end_per_rank():
    rows = [
        {"rank": "h:1", "event": "blast call starts", "wtime": 1.0,
         "wall_us": 1_000_000, "detail": "vol0,1,h,0,n_queries=2"},
        {"rank": "h:1", "event": "blast call ends", "wtime": 3.0,
         "wall_us": 3_000_000, "detail": "2.0,vol0,1,h,0,n_hits=7"},
        {"rank": "h:2", "event": "blast call starts", "wtime": 2.0,
         "wall_us": 2_000_000, "detail": "vol1,1,h,0,n_queries=2"},
        {"rank": "h:2", "event": "blast call ends", "wtime": 2.5,
         "wall_us": 2_500_000, "detail": "0.5,vol1,1,h,0,n_hits=0"},
    ]
    calls = sorted(spans.kernel_calls(rows), key=lambda c: c["start"])
    assert [(c["start"], c["end"], c["busy_s"], c["raw_hits"])
            for c in calls] == [(1.0, 3.0, 2.0, 7), (2.0, 2.5, 0.5, 0)]


def test_event_log_counters_group_jobs_and_tasks(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "sinks.csv"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": {}},
    ]
    (d / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    c = spans.event_log_counters(str(tmp_path))
    assert c["sinks.csv"] == {"jobs": 1, "tasks": 2,
                              "shuffle_write_bytes": 100, "spill_bytes": 6}
    assert c["untagged"]["tasks"] == 1
