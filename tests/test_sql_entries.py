"""SQL-only registry entries: the callable runs the entry's DuckDB twin
through ``spark.sql``, with each source table bound as a DataFrame
argument, and leaves the caller's session as it found it."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import DataFrame, SparkSession

import __spark_entry__ as entry_mod
from mssql_dataframe_spark import queries as Q

ORACLES = entry_mod.oracle_sql()


def _temp_views(spark):
    return sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "window_sessionization", "q14_promo_revenue"]
)
def test_sql_entry_runs_exactly_its_twin(spark, sf_dir, monkeypatch, name):
    calls = []
    real = SparkSession.sql

    def spy(self, text, args=None, **kwargs):
        calls.append((text, kwargs))
        return real(self, text, args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", spy)
    entry_mod.queries()[name](spark, sf_dir)
    monkeypatch.undo()

    assert len(calls) == 1
    text, frames = calls[0]
    # each source table is a {name} placeholder bound to a DataFrame;
    # with the names written back, the text is the oracle's, byte for byte
    assert frames and all(isinstance(f, DataFrame) for f in frames.values())
    assert text.format(**{t: t for t in frames}) == ORACLES[name]


def test_sql_entry_leaves_no_temp_view(spark, sf_dir):
    # a session of its own: views other tests leave behind can't hide one
    session = spark.newSession()
    before = _temp_views(session)
    df = entry_mod.queries()["q1_pricing_summary"](session, sf_dir)
    assert _temp_views(session) == before
    df.collect()
    assert _temp_views(session) == before


def test_sql_entry_ignores_a_callers_view_named_like_a_source(spark, sf_dir):
    """A caller's temp view ``lineitem`` holding other rows is neither
    read by q1 nor replaced or dropped by the call."""
    few = Q._t(spark, sf_dir, "lineitem").orderBy("l_orderkey", "l_linenumber").limit(3)
    few.createOrReplaceTempView("lineitem")
    try:
        got = sorted(
            tuple(r)
            for r in entry_mod.queries()["q1_pricing_summary"](spark, sf_dir)
            .select("l_returnflag", "l_linestatus", "count_order")
            .collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet')"
        )
        want = sorted(
            con.execute(
                "SELECT l_returnflag, l_linestatus, count_order FROM ("
                + ORACLES["q1_pricing_summary"]
                + ")"
            ).fetchall()
        )
        assert got == want
        assert sum(r[2] for r in got) > 3
        assert spark.table("lineitem").count() == 3
    finally:
        spark.catalog.dropTempView("lineitem")
