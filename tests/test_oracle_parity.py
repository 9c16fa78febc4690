"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, and compare them with gate_sim's one
comparator: column names, row count, pandas dtypes and float widths,
and values with floats at 15 significant digits. Runs at sf0.001 so
the sf0.01 correctness gate is a scale-up of a check that already
passed.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from gate_sim import compare  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

# 15 significant digits: strict enough to catch per-row rounding-mode
# divergence (a 10-digit comparison once masked a double->decimal
# HALF_UP-vs-half-even difference), loose enough to absorb the final
# double ulp; the values must then agree exactly
DIGITS = 15


@pytest.fixture(scope="module")
def duck():
    """One DuckDB connection with the TABLES views for every entry."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    spd = QUERIES[name](spark, SF_DIR).toPandas()
    dpd = duck.execute(ORACLES[name]).df()
    issues = compare(spd, dpd, digits=DIGITS, exact=True)
    assert not issues, f"{name}: " + "; ".join(issues)


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )


@pytest.mark.parametrize(
    "gap_us,n_sessions",
    [
        (1_800_500_000, 2),  # 1800.5 s > 30 min -> new session
        (1_800_000_001, 2),  # 1 us over the boundary
        (1_800_000_000, 1),  # exactly 30 min: strict >, same session
        (1_799_500_000, 1),  # under
    ],
)
def test_sessionization_subsecond_boundary(spark, tmp_path, gap_us, n_sessions):
    """window_sessionization's gap test once compared second-TRUNCATED
    epochs against the oracle's full-precision interval comparison: a
    true gap of 1800.5 s truncates to exactly 1800 and fails the strict
    > 1800 test the SQL side passes. Every ts in the events table
    carries sub-second parts, so the entry and its DuckDB oracle
    must agree on a crafted boundary-gap events file."""
    base = dt.datetime(2024, 3, 1, 12, 0, 0, 250000)
    rows = [
        (1, base, 7, "view", 1.0, "{}"),
        (2, base + dt.timedelta(microseconds=gap_us), 7, "click", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)

    q = QUERIES["window_sessionization"]
    got = {r["user_id"]: r["n_sessions"] for r in q(spark, str(tmp_path)).collect()}
    assert got == {7: n_sessions}

    con = duckdb.connect()
    con.execute(
        f"create view events as select * from "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    oracle = con.execute(ORACLES["window_sessionization"]).fetchall()
    assert {(r[0], r[1]) for r in oracle} == {(7, n_sessions)}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
