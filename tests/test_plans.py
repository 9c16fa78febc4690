"""Physical-plan regression guards: the scale properties SCALE.md
claims (pushdown, pruning, broadcast joins, partial aggregation,
single-shuffle as-of join) are asserted against explain() output so a
refactor cannot silently regress them. Plus error-contract tests for
the identifier/where grammar (reference: dynamic.py, custom_errors.py).
"""

from __future__ import annotations

import pytest

from mssql_dataframe_spark import errors
from mssql_dataframe_spark import queries as Q
from mssql_dataframe_spark.identifiers import compile_where, escape

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = Q.REGISTRY[name]["fn"](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unreferenced columns must not reach the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_q3_broadcasts_dimensions(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter reached the scan


def test_plan_audit_shows_which_side_a_join_builds_on(spark):
    """q3's twin as Spark SQL has the body's join and scan counts, but
    its FROM order builds the broadcast on lineitem: only the audit's
    scan order and build sides tell the two plans apart."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import audit

    def facts(df):
        return audit(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )

    body = facts(Q.REGISTRY["q3_shipping_priority"]["fn"](spark, SF))
    twin = facts(Q._sql_entry(Q.REGISTRY["q3_shipping_priority"]["sql"])(spark, SF))
    assert body["scan_order"] == ["lineitem", "orders", "customer"]
    assert body["build_sides"] == ["orders", "customer"]
    assert "lineitem" in twin["build_sides"]
    counts = ("exchanges", "bhj", "smj", "scans", "pushed_nonempty")
    assert [body[k] for k in counts] == [twin[k] for k in counts]


def test_q19_disjunctive_filter_pushdown(spark):
    plan = _plan(spark, "q19_disjunctive_filter")
    # the OR-of-ANDs brand/size predicate is pushed into the part scan
    assert "Or(And(" in plan or "PushedFilters: [Or(" in plan


def test_asof_join_single_shuffle(spark):
    plan = _plan(spark, "asof_join_events_orders")
    # one exchange for the window over the union (plus the daily-agg
    # exchange); crucially NO join operator in the as-of itself
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_shuffle(spark):
    # With broadcast disabled (the 100 TB case: neither side fits), the
    # bucket-aligned tables must merge-join with NO exchange on either
    # join leg — the only shuffle left is the final groupBy.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "bucketed_join_no_shuffle")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    # exactly one shuffle in the plan tree: the aggregation's; zero on
    # the join inputs (formatted explain = tree, blank line, details)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "BroadcastHashJoin" not in plan


def test_partitioned_read_prunes(spark):
    df = Q.REGISTRY["source_partitioned_pruning"]["fn"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [isnotnull(o_year" in plan
    assert "(o_year" in plan and "1997" in plan


def test_where_grammar_neutralizes_injection(spark):
    # the reference passes "'; select true; --" through parameterization
    # (tests/test_core/test_dynamic.py:22-93): hostile text after an
    # operator becomes ONE escaped literal, never executable SQL
    out = compile_where("name = 'a'; DROP TABLE t; --")
    assert "'''a''; DROP TABLE t; --'" in out  # quotes doubled: inert
    # structurally invalid predicates are refused outright
    for bad in [
        "1=1) OR (SELECT 1",
        "name LIKE 'x%'",  # LIKE is outside the reference grammar
    ]:
        with pytest.raises((errors.SQLInvalidSyntax, ValueError)):
            compile_where(bad)


def test_identifier_length_contract():
    escape("a" * 128)  # boundary ok (reference: SYSNAME 128)
    with pytest.raises(errors.SQLInvalidLengthObjectName):
        escape("a" * 129)


def test_chunking_and_quantize_are_narrow(spark):
    """Fan-out operators (doc chunking, int8 quantize) must not
    shuffle: sequence/posexplode are narrow — a shuffle here would be
    a regression that costs a full data movement at 100 TB."""
    for name in ("doc_chunking", "embedding_int8_quantize"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name


def test_per_source_cap_single_shuffle(spark):
    """One exchange (for the per-source window), and Spark's
    WindowGroupLimit pushdown must prune beyond-cap rows map-side
    BEFORE the exchange — the property that makes the cap cheap on a
    corpus where most rows are over the cap."""
    import re

    plan = _plan(spark, "per_source_cap")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "WindowGroupLimit" in plan.split("Exchange")[0]


def test_char_entropy_partial_aggregation(spark):
    """The (doc, char) count must partial-aggregate map-side before
    its exchange — without the combine, the explode's full fan-out
    (every character as a row) crosses the network."""
    plan = _plan(spark, "char_entropy_quality")
    assert "partial_count" in plan or "partial_sum" in plan


def test_mv_delta_is_broadcast(spark):
    """apply_agg_delta joins the (small) delta against the MV: the
    existing-keys path must be a broadcast LEFT join (full-outer can't
    broadcast in Spark — it would shuffle the whole MV for a handful
    of changed keys), with the new-keys anti join touching only the
    MV's key projection."""
    plan = _plan(spark, "mv_incremental_update")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    # The injected runtime bloom filter must appear as a
    # might_contain(...) predicate on the FACT side (lineitem), i.e.
    # rows die at the scan before the join shuffle. Mirrors the
    # bloom_filter_join_prune entry's conf setup.
    from pyspark.sql import functions as F

    old = {}
    for k in Q._BLOOM_CONFS:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in Q._BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        l = Q._t(spark, SF, "lineitem")
        p = Q._t(spark, SF, "part").filter(F.col("p_brand") == "Brand#13")
        df = (
            l.join(p, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("l_returnflag")
            .count()
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # and the filter guards the fact-side key, not the part side
    assert "l_partkey" in plan.split("might_contain")[1].splitlines()[0]


def test_nested_schema_pruning_reads_one_leaf(spark):
    df = Q.REGISTRY["source_nested_struct_pruning"]["fn"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_acctbal" in read_schema
    # sibling leaf and the whole geo struct must be pruned away
    assert "c_name" not in read_schema
    assert "geo" not in read_schema


def test_global_topn_avoids_total_sort(spark):
    plan = _plan(spark, "global_topn_orders")
    assert "TakeOrderedAndProject" in plan
    # no full-table sort exchange: the only movement is the top-N merge
    tree = plan.split("\n\n")[0]
    assert "Exchange rangepartitioning" not in tree


def test_parquet_aggregate_pushdown_hits_footers(spark):
    from pyspark.sql import functions as F

    old = {}
    for k in Q._AGG_PUSHDOWN_CONFS:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in Q._AGG_PUSHDOWN_CONFS.items():
        spark.conf.set(k, v)
    try:
        o = Q._t(spark, SF, "orders")
        df = o.agg(F.min("o_orderkey"), F.max("o_orderkey"), F.count("*"))
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """The automatic complement of salted_join_user_events: with AQE
    skew handling on (thresholds scaled down to sandbox volumes), a
    hot-key partition is SPLIT at runtime — the final plan shows
    SortMergeJoin(skew=true) over an AQEShuffleRead marked 'skewed'.
    At 100 TB this is the default defense when the skew isn't known
    in advance; explicit salting remains the deterministic form."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(200000).select(
            F.when(F.col("id") < 150000, 0)
            .otherwise((F.col("id") % 100) + 1)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 101).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        df = big.join(right, "k")
        assert len(df.collect()) == 200000
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan
    assert "skewed" in plan  # the AQEShuffleRead split the hot partition


def test_arrow_python_udf_uses_arrow_eval(spark):
    plan = _plan(spark, "arrow_python_udf_reverse")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # the legacy pickled-row path
