"""In-repo DuckDB oracle checks for the FULL query catalog, plus the
driver recording-window contract.

Since r10 the driver's 50-slot recording window is the explicit
``entry_queries.RECORDED_WINDOW`` list (rotated each round to the
strongest currently-unrecorded operators; slots are not wasted on
queries already green in a prior CORRECTNESS_rN). That makes THIS
suite the complete in-repo safety net: every value-oracled query —
windowed or tail — is compared against its own ``oracle_sql()`` entry
executed by DuckDB over the same parquet tables at sf0.001, with the
driver's comparison semantics (order-insensitive, name-sorted columns;
integer/float dtype drift is a failure because the driver's value-hash
is representation-sensitive). scripts/check_correctness.py replays the
same catalog at sf0.01.
"""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry
from mr_mpi_blast_spark.entry_queries import RECORDED_WINDOW

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

# Tail-registered entries with NO value oracle by nature (the driver
# records them rows-only): run_summary's values are wall-clock
# timings; its deterministic evidence lives in tests/test_runlog.py.
TAIL_NO_ORACLE = ["run_summary"]

ALL_ORACLED = sorted(entry.oracle_sql())

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _veq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


@pytest.mark.parametrize("name", ALL_ORACLED)
def test_query_matches_oracle(spark, oracle_con, name):
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert name in qs and name in oracles
    sdf = qs[name](spark, SF_DIR).toPandas()
    odf = oracle_con.execute(oracles[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    for c in sdf.columns:
        si = pd.api.types.is_integer_dtype(sdf[c])
        oi = pd.api.types.is_integer_dtype(odf[c])
        sf = pd.api.types.is_float_dtype(sdf[c])
        of = pd.api.types.is_float_dtype(odf[c])
        assert not ((si and of) or (sf and oi)), (
            f"{name}.{c}: dtype drift spark={sdf[c].dtype} "
            f"oracle={odf[c].dtype} (driver-hash risk)")
    sdf, odf = _canon(sdf), _canon(odf)
    for c in sdf.columns:
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), odf[c].tolist())):
            assert _veq(x, y), f"{name}.{c}[{i}]: spark={x!r} oracle={y!r}"


def test_recorded_window_contract():
    """The driver records the first 50 queries() entries; the window
    list is the contract. Invariants: exactly the RECORDED_WINDOW
    names, in its order; every windowed query value-oracled (a
    rows-only entry would waste a recorded slot); the four kernel
    tails present every round (reference-parity flagships); nothing
    rows-only inside; and the catalog's no-oracle set is exactly
    TAIL_NO_ORACLE, registered in the tail."""
    names = list(entry.queries())
    assert names[:50] == RECORDED_WINDOW
    oracles = entry.oracle_sql()
    assert all(n in oracles for n in RECORDED_WINDOW)
    for tail_name in ["blast_pipeline", "blast_gapped_tail",
                      "blast_gapped_nucl_tail", "blast_capped_tail"]:
        assert tail_name in RECORDED_WINDOW
    no_oracle = [n for n in names if n not in oracles]
    assert no_oracle == TAIL_NO_ORACLE
    assert all(names.index(n) >= 50 for n in TAIL_NO_ORACLE)


def test_catalog_is_fully_covered():
    """Every query is either driver-recorded (window) or in-repo
    oracle-checked here (ALL_ORACLED) — and the two overlap on the
    window, so no operator's value evidence depends on a single
    mechanism. run_summary alone is rows-only by nature."""
    names = set(entry.queries())
    covered = set(ALL_ORACLED) | set(TAIL_NO_ORACLE)
    assert names == covered
