"""W7 per-rank timing logs (reference TIMING=1, mrblast.cpp:454-483,
900-935): worker-local log files, reference line shape, DataFrame
read-back, and end-to-end wiring through run_search(log_dir=...)."""

import glob
import os

import pandas as pd

from mr_mpi_blast_spark.runlog import (log_event, read_run_logs,
                                       run_summary, timed_kernel)


def test_log_line_shape(tmp_path):
    d = str(tmp_path / "logs")
    log_event(d, "mr-mpi-blast starts")
    files = glob.glob(os.path.join(d, "output-*.log"))
    assert len(files) == 1
    line = open(files[0]).read().strip()
    # Rank:{host}:{pid} {event},{wtime},{wall_us},{user_us},{sys_us}
    assert line.startswith("Rank:")
    head, rest = line.split(" ", 1)
    fields = rest.split(",")
    assert fields[0] == "mr-mpi-blast starts"
    assert float(fields[1]) >= 0
    assert all(int(x) > 0 for x in fields[2:5])


def test_timed_kernel_logs_call_pair(tmp_path):
    d = str(tmp_path / "logs")

    def kernel(pdf):
        return pd.DataFrame({"x": [1, 2, 3]})

    wrapped = timed_kernel(kernel, d)
    out = wrapped(pd.DataFrame({"db_part": ["p0"], "block_id": [7],
                                "qid": [1], "seq": ["ACGT"]}))
    assert len(out) == 3
    text = open(glob.glob(os.path.join(d, "*.log"))[0]).read()
    assert "blast call starts" in text and "blast call ends" in text
    assert "n_queries=1" in text and "n_hits=3" in text
    assert ",p0," in text and ",7," in text


def test_read_back_and_summary(spark, tmp_path):
    d = str(tmp_path / "logs")

    def kernel(pdf):
        return pd.DataFrame({"x": list(range(len(pdf)))})

    wrapped = timed_kernel(kernel, d)
    for block in (1, 2):
        wrapped(pd.DataFrame({"db_part": ["p0"], "block_id": [block],
                              "qid": [1], "seq": ["ACGT"]}))
    logs = read_run_logs(spark, d)
    rows = logs.collect()
    assert len(rows) == 4                       # 2 calls x start+end
    assert {r.event for r in rows} == {"blast call starts",
                                       "blast call ends"}
    assert all(r.wall_us > 0 and r.user_us > 0 for r in rows)
    s = run_summary(logs).collect()
    assert len(s) == 1
    assert s[0].n_calls == 2
    assert s[0].busy_s >= 0


def test_run_search_writes_rank_logs(spark, tmp_path):
    from mr_mpi_blast_spark.config import BlastConfig
    from mr_mpi_blast_spark.plans.pipeline import run_search

    seq = "ACGTTGACCTGATCGATACGGATCCATG"
    qdf = spark.createDataFrame([(1, seq, len(seq))],
                                ["qid", "seq", "length"])
    sdf = spark.createDataFrame(
        [("s1", "TTACGTTGACCTGATCGATACGGATCCATGTT", "p0")],
        ["sid", "seq", "db_part"])
    d = str(tmp_path / "ranklogs")
    hits = run_search(qdf, sdf, BlastConfig(word_size=8, min_score=8),
                      log_dir=d)
    assert hits.count() >= 1
    logs = read_run_logs(spark, d)
    ends = logs.filter(logs.event == "blast call ends").count()
    assert ends >= 1


def test_run_summary_stages_its_database_once(spark, tmp_path, monkeypatch):
    """The catalog's run_summary keys its database on the documents
    table, so repeated calls reuse one staged copy instead of leaving
    a fresh blast_db_<uuid> dir per call; the call totals (blocks x
    volumes) are unchanged."""
    import __spark_entry__ as entry

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    q = entry.queries()["run_summary"]
    totals = [q(spark, "/root/testdata/sf0.001").collect()[0].n_calls_total
              for _ in range(2)]
    assert totals == [2, 2]
    assert not glob.glob(str(tmp_path / "blast_db_*"))
    assert len(glob.glob(str(tmp_path / "spark_graft_volumes" / "*"
                             / "_stage_meta.json"))) == 1


def test_read_run_logs_logs_no_java_stack_trace(tmp_path, capfd):
    """read_run_logs hands Spark the listed rank files, not a glob, so
    Spark's metadata-dir probe logs no FileNotFoundException. The JVM
    writes its log to the stderr it was started with, so the calls run
    in a fresh process whose stderr is the captured one."""
    import subprocess
    import sys

    d = str(tmp_path / "logs")
    wrapped = timed_kernel(lambda pdf: pd.DataFrame({"x": [0]}), d)
    wrapped(pd.DataFrame({"db_part": ["p0"], "block_id": [1],
                          "qid": [1], "seq": ["ACGT"]}))
    code = ("import sys\n"
            "from mr_mpi_blast_spark.runlog import read_run_logs, run_summary\n"
            "from mr_mpi_blast_spark.session import get_spark\n"
            "spark = get_spark('runlog', shuffle_partitions=1)\n"
            "rows = run_summary(read_run_logs(spark, sys.argv[1])).collect()\n"
            "print(len(rows), rows[0].n_calls)\n"
            "spark.stop()\n")
    capfd.readouterr()
    subprocess.run([sys.executable, "-c", code, d], check=True,
                   cwd=os.path.dirname(os.path.dirname(
                       os.path.abspath(__file__))))
    out, err = capfd.readouterr()
    assert out.split() == ["1", "1"]
    assert "FileNotFoundException" not in err, err
