"""Semantics tests for the round-3 operators: connected components
(deep chains, multiple components), salted join (row multiplicity),
and quality-filter thresholds — edges the corpus oracle queries don't
reach (near-dup components in the testdata are near-cliques; real
chains need diameter > 2 to exercise convergence)."""

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from mr_mpi_blast_spark.operators.dedup import connected_components
from mr_mpi_blast_spark.operators.skew import salted_join


def test_cc_path_graph_converges(spark):
    """A 6-node path (diameter 5) needs several propagation rounds —
    min label must still reach every node."""
    edges = spark.createDataFrame(
        [Row(da=i, db=i + 1) for i in range(10, 15)])
    got = {r.node: r.cluster
           for r in connected_components(edges, "da", "db").collect()}
    assert got == {i: 10 for i in range(10, 16)}


def test_cc_multiple_components_and_determinism(spark):
    edges = spark.createDataFrame([
        Row(da=1, db=2), Row(da=2, db=3),     # component min=1
        Row(da=7, db=9),                       # component min=7
        Row(da=20, db=21), Row(da=21, db=20),  # dup/reversed edges
    ])
    got = {r.node: r.cluster
           for r in connected_components(edges, "da", "db").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 20: 20, 21: 20}
    again = {r.node: r.cluster
             for r in connected_components(edges, "da", "db").collect()}
    assert again == got


def test_salted_join_preserves_multiplicity(spark):
    """Salting must reproduce the plain join exactly — including
    duplicate fact rows for the same key (exceptAll is bag
    semantics)."""
    fact = spark.createDataFrame(
        [Row(fk=1, rid=i, v=float(i)) for i in range(20)]   # hot key 1
        + [Row(fk=2, rid=100, v=1.0)])
    dim = spark.createDataFrame([Row(dk=1, name="a"), Row(dk=2, name="b")])
    salted = salted_join(fact, dim, "fk", "dk", row_key="rid", salt_mod=4)
    plain = fact.join(dim, fact.fk == dim.dk)
    assert salted.count() == 21
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_quality_filter_thresholds(spark):
    """Boundary semantics: exactly 10 words is kept (< 10 drops);
    alpha ratio below 0.6 flags low_alpha; precedence too_short first."""
    from mr_mpi_blast_spark.entry_queries import q_quality_filter
    import mr_mpi_blast_spark.entry_queries as eq

    rows = [
        Row(doc_id=1, text="one two three four five six seven eight nine ten"),
        Row(doc_id=2, text="only nine words here so it is too short"),
        Row(doc_id=3, text="1 2 3 4 5 6 7 8 9 10 11 12"),  # digits: low alpha
    ]
    df = spark.createDataFrame(rows)
    orig = eq._t
    try:
        eq._t = lambda spark_, sf_, name: df
        got = {r.doc_id: r.verdict
               for r in q_quality_filter(spark, "unused").collect()}
    finally:
        eq._t = orig
    assert got == {1: "keep", 2: "too_short", 3: "low_alpha"}


def test_stratified_sample_matches_naive_window_form(spark):
    """The hierarchical sampler must select exactly the rows the
    naive per-stratum row_number form selects (bucket order by md5
    prefix is consistent with the full md5 sort)."""
    from pyspark.sql import Window
    from mr_mpi_blast_spark.operators.sampling import stratified_sample_exact

    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}") for i in range(211)])
    got = {(r.doc_id, r.source)
           for r in stratified_sample_exact(df, "source", "doc_id", 0.17,
                                            n_buckets=8).collect()}
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    wn = Window.partitionBy("source")
    want = {(r.doc_id, r.source) for r in
            df.select("doc_id", "source",
                      F.row_number().over(w).alias("rn"),
                      F.count(F.lit(1)).over(wn).alias("n"))
            .filter(F.col("rn") <= F.ceil(0.17 * F.col("n")))
            .collect()}
    assert got == want and len(got) > 0


def test_stratified_sample_empty_input(spark):
    from mr_mpi_blast_spark.operators.sampling import stratified_sample_exact
    df = spark.createDataFrame([], "doc_id long, source string")
    assert stratified_sample_exact(df, "source", "doc_id", 0.5).count() == 0


def test_ann_ivf_recall_warm_cache_rerun(spark):
    """r6 regression pin: the second run in one session hits the warm
    /tmp artifact store (pre-populated by the first run — the exact
    shape the correctness driver executes) and must return the same
    rows, not crash. The r6 bug reloaded cached parquet via pandas,
    which resurfaced array columns as numpy.float64 and blew up
    createDataFrame's row verifier."""
    from mr_mpi_blast_spark.entry_queries import QUERIES
    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    cold = sorted(map(tuple, QUERIES["ann_ivf_recall"](spark, sf).collect()))
    warm = sorted(map(tuple, QUERIES["ann_ivf_recall"](spark, sf).collect()))
    assert cold == warm
    assert len(warm) == 3  # nprobe 1/2/4
    assert all(0.0 <= r[2] <= 1.0 for r in warm)


def test_skyline_2d_edges(spark):
    """Skyline semantics the table data can't guarantee to exercise:
    exact duplicates on both dims ALL survive (ties dominate nothing
    strictly); a row equal on one dim but worse on the other is
    dominated; an equal-d2 row at strictly smaller d1 dominates; NULL
    dims are excluded; a single Pareto-dominant row collapses the
    skyline to itself plus its duplicates."""
    from mr_mpi_blast_spark.operators.skyline import skyline_2d

    rows = [(1, 1.0, 5), (2, 1.0, 5),      # duplicate pair: both stay
            (3, 1.0, 6),                    # same d1, worse d2: out
            (4, 2.0, 5),                    # same d2 as 1 at larger d1: out
            (5, 0.5, 9),                    # frontier (cheaper, bigger)
            (6, 3.0, 1),                    # frontier (pricier, smaller)
            (7, None, 1),                   # NULL dim: excluded
            (8, 3.0, None)]                 # NULL dim: excluded
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = {r.id for r in skyline_2d(df, "price", "size").collect()}
    assert got == {1, 2, 5, 6}

    # one strictly dominant row eats everything but its duplicate
    rows2 = [(1, 0.0, 0), (2, 0.0, 0), (3, 0.1, 0), (4, 0.0, 1)]
    df2 = spark.createDataFrame(rows2, "id long, price double, size int")
    assert {r.id for r in skyline_2d(df2, "price", "size").collect()} == {1, 2}


def test_skyline_nan_excluded_and_int64_precision(spark):
    """Review-pass regressions (r9): NaN dims are excluded like NULLs
    (NaN ordering differs between numpy and DuckDB, so admitting them
    would split engine and oracle); and the sweep's prefix-min stays
    in the NATIVE dtype — an inf sentinel upcast int64 minima to
    float64, where 2^53+1 rounds to 2^53 and a genuine skyline row at
    exactly 2^53 was dropped."""
    import pandas as pd
    from mr_mpi_blast_spark.operators.skyline import _sweep, skyline_2d

    rows = [(1, 1.0, 5), (2, float("nan"), 1), (3, 2.0, 1)]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    assert {r.id for r in skyline_2d(df, "price", "size").collect()} == {1, 3}

    big = 2 ** 53
    pdf = pd.DataFrame({"d1": pd.array([1, 2], dtype="int64"),
                        "d2": pd.array([big + 1, big], dtype="int64")})
    kept = _sweep(pdf, "d1", "d2")
    assert len(kept) == 2          # (2, 2^53) is NOT dominated by 2^53+1


def test_table_profile_exact_counts_and_validation(spark):
    """table_profile on a fixture with NULLs and duplicates: exact
    row/NULL/distinct counts, native-typed min/max rendered as
    strings, sorted column order; unknown columns and empty column
    lists raise; the approx (HLL) variant runs and is near-exact at
    this cardinality."""
    from mr_mpi_blast_spark.operators.profile import table_profile

    rows = [(1, "b", None), (2, "a", 10), (3, "a", 30), (4, None, 30),
            (5, "c", None)]
    df = spark.createDataFrame(rows, "id long, s string, v long")
    out = {r.col_name: r for r in table_profile(df).collect()}
    assert list(out) == ["id", "s", "v"]  # sorted report order
    assert all(r.n_rows == 5 for r in out.values())
    assert (out["s"].n_nulls, out["s"].n_distinct) == (1, 3)
    assert (out["v"].n_nulls, out["v"].n_distinct) == (2, 2)
    assert (out["id"].min_val, out["id"].max_val) == ("1", "5")
    # native-typed min/max: numeric ordering then string render
    assert (out["v"].min_val, out["v"].max_val) == ("10", "30")
    assert (out["s"].min_val, out["s"].max_val) == ("a", "c")

    approx = {r.col_name: r.n_distinct
              for r in table_profile(df, exact=False).collect()}
    assert approx["id"] in range(4, 7)  # HLL estimate, tiny input

    import pytest as _pytest
    with _pytest.raises(ValueError):
        table_profile(df, ["nope"])
    with _pytest.raises(ValueError):
        table_profile(df, [])


def test_table_profile_reports_in_sorted_column_order(spark):
    """Both paths, with and without quantile columns, report the
    columns in sorted name order — also when the exact path's per-
    column aggregate comes back through a shuffle."""
    from mr_mpi_blast_spark.operators.profile import table_profile

    names = [f"c{i:02d}" for i in range(12)]
    df = spark.createDataFrame(
        [tuple(i * (j + 1) for j in range(12)) for i in range(20)],
        ", ".join(f"{c} long" for c in reversed(names)))
    for kw in ({}, {"exact": False}, {"quantile_cols": ["c03", "c07"]}):
        assert [r.col_name for r in table_profile(df, **kw).collect()] \
            == names, kw


def test_table_profile_empty_input_shape(spark):
    """An empty table still gets one row per profiled column, counts 0
    and min/max NULL — the exact path matches the approx path."""
    from mr_mpi_blast_spark.operators.profile import table_profile

    df = spark.createDataFrame([], "id long, s string, v long")
    want = [(c, 0, 0, 0, None, None) for c in ("id", "s", "v")]
    for exact in (True, False):
        got = [tuple(r) for r in table_profile(df, exact=exact).collect()]
        assert got == want, exact
    q = table_profile(df, quantile_cols=["v"]).collect()
    assert [(r.col_name, r.n_rows, r.p500_est) for r in q] == \
        [("id", 0, None), ("s", 0, None), ("v", 0, None)]


def test_ccnet_buckets_ordering_and_sizes(spark):
    """ccnet_buckets semantics on the real table: within each lang,
    every head doc scores >= every middle doc >= every tail doc (on
    the exact rank key), and tile sizes follow the NTILE contract
    (larger tiles first, sizes differ by <= 1)."""
    import __spark_entry__ as entry

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    rows = entry.queries()["ccnet_buckets"](spark, sf).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(
            r.avg_logp)
    for lang, bs in by_lang.items():
        sizes = [len(bs.get(k, [])) for k in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1 and sorted(
            sizes, reverse=True) == sizes, (lang, sizes)
        if bs.get("head") and bs.get("middle"):
            # rank key is floor(micro/nbg): docs sharing one micro-unit
            # cell can straddle a bucket edge with avg_logp within 1e-6
            assert min(bs["head"]) >= max(bs["middle"]) - 2e-6
        if bs.get("middle") and bs.get("tail"):
            assert min(bs["middle"]) >= max(bs["tail"]) - 2e-6


def test_table_profile_hdr_quantile_columns(spark):
    """r12: quantile_cols adds p<q>_est columns — present and
    error-bounded for listed integer columns, NULL for the rest;
    NULL values are excluded (not raised — n_nulls reports them);
    negatives fail loudly; unlisted/unknown quantile cols raise."""
    import math

    import pytest as _pytest

    from mr_mpi_blast_spark.operators.profile import (HDR_SUB_BITS,
                                                      table_profile)

    vals = [((i * 2654435761) % 90_001) for i in range(4000)]
    rows = [(v, v if v % 7 else None, str(v)) for v in vals]
    df = spark.createDataFrame(rows, "a long, b long, s string")
    out = {r.col_name: r
           for r in table_profile(df, quantile_cols=["a", "b"],
                                  qs_permille=(500, 990)).collect()}
    assert set(out) == {"a", "b", "s"}
    assert out["s"].p500_est is None and out["s"].p990_est is None
    sa = sorted(vals)
    sb = sorted(v for v in vals if v % 7)
    for col, sv in (("a", sa), ("b", sb)):
        for q in (500, 990):
            exact = sv[math.ceil(q * len(sv) / 1000) - 1]
            est = getattr(out[col], f"p{q}_est")
            assert est <= exact
            assert exact <= est * (1 + 2 ** -(HDR_SUB_BITS - 1)) + 1, \
                (col, q, est, exact)
    # the base profile columns are unchanged by the quantile arm
    base = {r.col_name: (r.n_rows, r.n_nulls, r.n_distinct,
                         r.min_val, r.max_val)
            for r in table_profile(df).collect()}
    got = {c: (r.n_rows, r.n_nulls, r.n_distinct, r.min_val, r.max_val)
           for c, r in out.items()}
    assert got == base

    neg = spark.createDataFrame([(1,), (-5,)], "a long")
    with _pytest.raises(Exception, match="non-negative"):
        table_profile(neg, quantile_cols=["a"]).collect()
    with _pytest.raises(ValueError, match="quantile_cols"):
        table_profile(df, ["a", "s"], quantile_cols=["b"])


def test_table_profile_sketch_scan_is_column_pruned(spark, tmp_path):
    """r12 plan pin: the HDR quantile arm's extra pass reads ONLY the
    quantile columns from the parquet scan (ReadSchema pruned) — at
    100 TB the second scan must not re-read the fat payload columns
    the base profile already aggregated."""
    from mr_mpi_blast_spark.operators.profile import \
        _hdr_profile_quantiles
    p = str(tmp_path / "t")
    rows = [(i, i * 7 % 100, "x" * 50) for i in range(200)]
    spark.createDataFrame(rows, "a long, b long, fat string") \
        .write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    plan = _hdr_profile_quantiles(df, ["a", "b"], [500]) \
        ._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    assert all("fat" not in ln for ln in scans), scans
    assert any("a" in ln and "b" in ln for ln in scans), scans
