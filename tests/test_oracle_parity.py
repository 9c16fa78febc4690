"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, compare row count + sorted-column value
multisets. Runs at sf0.001 so the sf0.01 driver gate is a scale-up of
a check that already passed.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


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


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 15 significant digits: strict enough to catch per-row
        # rounding-mode divergence (a %.10g norm once masked a
        # double->decimal HALF_UP-vs-half-even difference), loose
        # enough to absorb the final double ulp
        return f"{v:.15g}"
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s.replace("+00:00", "").replace("T", " ")
    if isinstance(v, bool):
        return str(v)
    if v is None:
        return "<null>"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    fn = QUERIES[name]
    sdf = fn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    sset, dset = _rowset(s_cols, s_rows), _rowset(d_cols, d_rows)
    mism = [
        (a, b) for a, b in zip(sset, dset) if a != b
    ][:5]
    assert sset == dset, f"{name}: value mismatch, first diffs: {mism}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
