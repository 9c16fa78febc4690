"""Tests of the benchmark itself: event-log parsing, the percentile
rule, op-log determinism, span accounting, layer wrapping, the
correctness checks rejecting corrupted results, and the clean-up of
every process a run starts. None starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import os
import time

import pandas as pd
import pyarrow as pa
import pytest

from perfbench import datagen, oracle
from perfbench.layers import event_log_files, metric_names
from perfbench.run import _alive, _descendants, highest_percentile, percentile, stop_processes
from perfbench.spans import Tracer, interval_union_ms, parse_event_log, self_times

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_event_log_parser_groups_by_job_group():
    with open(os.path.join(DATA, "eventlog_tiny.jsonl")) as f:
        groups = parse_event_log(f)
    assert set(groups) == {"op7", "op8/operators.dedup", ""}
    g = groups["op7"]
    assert (g.jobs, len(g.stages), g.tasks) == (2, 2, 5)
    assert g.run_ms == 1932
    assert g.cpu_ms == pytest.approx(540.3, abs=0.1)
    assert (g.shuffle_read, g.shuffle_write, g.input_bytes) == (921, 921, 0)
    assert interval_union_ms(g.intervals) == (1741713 - 1740530) + (1742297 - 1741963)
    d = groups["op8/operators.dedup"]
    assert (d.jobs, len(d.stages), d.tasks, d.run_ms) == (2, 2, 5, 620)
    assert (groups[""].jobs, groups[""].tasks) == (1, 4)


def test_event_log_files_skip_checksums_and_status(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for name in ("events_2_local-1", "events_1_local-1", ".events_1_local-1.crc",
                 "appstatus_local-1"):
        (app / name).write_text("")
    assert [os.path.basename(p) for p in event_log_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1"]


def test_interval_union_merges_overlaps_and_clips():
    iv = [(0, 10), (5, 20), (30, 40)]
    assert interval_union_ms(iv) == 30
    assert interval_union_ms(iv, 8, 35) == 17


@pytest.mark.parametrize("n,q", [(19, None), (20, 50), (39, 50), (40, 75),
                                 (99, 75), (100, 90), (999, 95), (1000, 99)])
def test_highest_percentile_keeps_ten_samples_beyond(n, q):
    assert highest_percentile(n) == q
    if q is not None:
        rank = -(-n * q // 100)
        assert n - rank >= 10


def test_stop_processes_ends_children_and_orphaned_grandchildren():
    import subprocess
    import sys

    # a child that starts a grandchild, the way the Spark JVM starts
    # Python workers, then both wait
    child = subprocess.Popen([sys.executable, "-c", (
        "import subprocess, sys, time; "
        "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(120)']); "
        "time.sleep(120)")])
    deadline = time.monotonic() + 30
    while len(_descendants()) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    started = _descendants()
    assert child.pid in started and len(started) >= 2
    stop_processes(timeout=6)
    assert not _alive(started)
    assert child.wait(timeout=5) is not None


def test_percentile_is_nearest_rank():
    v = list(range(1, 41))
    assert percentile(v, 50) == 20
    assert percentile(v, 75) == 30
    assert percentile([3.0], 90) == 3.0


def _small_maint():
    return datagen.MaintenanceSpec(n_orders=400, n_cust=50, merge_keys=20,
                                   update_keys=10, delete_keys=5, insert_rows=10,
                                   reads_per_round=4, mv_rows=50, n_users=30)


def test_op_log_is_deterministic_per_seed():
    spec = _small_maint()
    _, a = datagen.maintenance_inputs(5, 2, spec)
    _, b = datagen.maintenance_inputs(5, 2, spec)
    _, c = datagen.maintenance_inputs(6, 2, spec)
    assert datagen.op_log_hash(a) == datagen.op_log_hash(b)
    assert datagen.op_log_hash(a) != datagen.op_log_hash(c)
    bulk = datagen.BulkSpec(n_orders=300, n_cust=30, n_docs=40, n_near_dups=4,
                            n_exact_dups=2, n_vecs=20)
    x = datagen.bulk_inputs(9, 2, bulk)
    y = datagen.bulk_inputs(9, 2, bulk)
    assert datagen.op_log_hash(x[-1]) == datagen.op_log_hash(y[-1])
    assert x[0]["lineitem"].equals(y[0]["lineitem"])
    assert x[1].equals(y[1]) and x[3] == y[3]


def test_op_log_shape():
    _, ops = datagen.maintenance_inputs(1, 3, _small_maint())
    kinds = [o.kind for o in ops]
    assert kinds.count("merge") == 1 + 2 * 3
    assert kinds.count("mv") == 4
    assert [o.params["batch_id"] for o in ops if o.kind == "mv"] == [0, 1, 2, 3]
    *_, bops = datagen.bulk_inputs(1, 2, datagen.BulkSpec(
        n_orders=300, n_docs=40, n_near_dups=4, n_exact_dups=2, n_vecs=20))
    assert [o.kind for o in bops].count("curate") == 1
    warm = {o.params["shape"] for o in bops if o.kind == "scan" and o.params["round"] == 0}
    assert warm == set(datagen.SCAN_SHAPES)


def _replay_maintenance(base, ops):
    """What a correct engine returns: each read's rows and the final
    tables, produced by the oracle's own replay helpers."""
    state = base.to_pandas().set_index("o_orderkey")
    results, events = {}, []
    for i, op in enumerate(ops):
        if op.kind in ("merge", "insert"):
            b = op.data.to_pandas().set_index("o_orderkey")
            state = pd.concat([state.drop(b.index, errors="ignore"), b])
        elif op.kind == "update":
            b = op.data.to_pandas().set_index("o_orderkey")
            for c in b.columns:
                state.loc[b.index, c] = b[c]
        elif op.kind == "delete":
            state = state.drop(op.data.column("o_orderkey").to_pylist())
        elif op.kind == "mv":
            events.append(op.data.to_pandas())
        else:
            results[i] = oracle.read_expected(state, op.params)
    ev = pd.concat(events)
    ev["value"] = ev["value"].map(lambda v: decimal.Decimal(f"{v:.4f}"))
    mv = ev.groupby("user_id").agg(n_rows=("event_id", "count"),
                                   sum_value=("value", "sum")).reset_index()
    return results, state.reset_index(), mv


def test_maintenance_check_accepts_correct_and_rejects_corrupted():
    base, ops = datagen.maintenance_inputs(2, 2, _small_maint())
    results, final, mv = _replay_maintenance(base, ops)
    assert oracle.check_maintenance(base, ops, results, final, mv) == []

    read_idx = next(i for i, rows in results.items() if rows)
    bad = dict(results)
    bad[read_idx] = bad[read_idx][:-1]
    assert any("read" in e for e in oracle.check_maintenance(base, ops, bad, final, mv))

    corrupted = final.copy()
    corrupted.loc[corrupted.index[3], "o_orderstatus"] = "X"
    errs = oracle.check_maintenance(base, ops, results, corrupted, mv)
    assert errs == ["orders: column o_orderstatus differs from the replay"]

    mv_bad = mv.copy()
    mv_bad.loc[0, "n_rows"] += 1
    assert any("mv" in e for e in oracle.check_maintenance(base, ops, results, final, mv_bad))


def test_bulk_check_rejects_a_corrupted_scan_and_table():
    import duckdb

    spec = datagen.BulkSpec(n_orders=300, n_cust=30, n_docs=40, n_near_dups=4,
                            n_exact_dups=2, n_vecs=20)
    tables, *_, ops = datagen.bulk_inputs(4, 2, spec)
    li = tables["lineitem"]
    li = li.add_column(0, "_pk", pa.array(range(1, li.num_rows + 1), pa.int32()))
    # a correct engine's answers, from an independent DuckDB replay
    con = duckdb.connect()
    con.register("li", li)
    con.register("o", tables["orders"])
    con.execute("CREATE TABLE lineitem AS SELECT * FROM li")
    con.execute("CREATE TABLE orders AS SELECT * FROM o")
    results = {}
    for i, op in enumerate(ops):
        if op.kind == "merge":
            con.register("b", op.data)
            con.execute("DELETE FROM orders USING b WHERE orders.o_orderkey = b.o_orderkey")
            con.execute("INSERT INTO orders SELECT * FROM b")
        elif op.kind == "scan":
            results[i] = con.execute(oracle.scan_sql(op.params)).fetchall()
    final = {"orders": con.execute("SELECT * FROM orders").arrow(),
             "lineitem": con.execute("SELECT * FROM lineitem").arrow()}
    con.close()
    assert oracle.check_bulk(tables, ops, results, final) == []

    scan_idx = next(i for i, r in results.items() if r and len(r[0]) > 1)
    bad = dict(results)
    row = list(bad[scan_idx][0])
    j = next(j for j, v in enumerate(row) if isinstance(v, (int, float, decimal.Decimal)))
    row[j] = row[j] + 1
    bad[scan_idx] = [tuple(row)] + bad[scan_idx][1:]
    errs = oracle.check_bulk(tables, ops, bad, final)
    assert errs and errs[0].startswith(f"scan #{scan_idx}")

    orders = final["orders"].to_pandas()
    orders.loc[0, "o_orderpriority"] = "9-NONE"
    errs = oracle.check_bulk(tables, ops, results, {
        "orders": pa.Table.from_pandas(orders, preserve_index=False),
        "lineitem": final["lineitem"]})
    assert errs == ["orders: final table differs from the DuckDB replay"]


def test_curated_keep_ids():
    got = {"exact": [(1, 2), (3, 1), (4, 1)],
           "quality": [(1, 9, True, False, True), (3, 9, True, False, True),
                       (4, 9, False, False, False), (5, 9, True, False, True)],
           "survivors": [(1, 1, True, 2), (3, 1, False, 2)]}
    assert oracle.curated_keep_ids(got) == {1}


def test_self_times_sum_to_the_root_span():
    tr = Tracer()

    def inner():
        time.sleep(0.01)

    def outer():
        w_inner()
        time.sleep(0.005)

    w_inner = tr.wrap(inner, "core.write.stage")
    w_outer = tr.wrap(outer, "core.write")
    with tr.op_span(0) as root:
        w_outer()
        w_outer()
    st = self_times(tr.spans, root)
    assert set(st) == {"op", "core.write", "core.write.stage"}
    assert sum(st.values()) == pytest.approx(root.t1 - root.t0, rel=1e-9)
    assert st["core.write.stage"] >= 0.02
    # outside an op span a wrapper records nothing
    w_outer()
    assert len(tr.spans) == 5


def test_install_wraps_every_import_site_and_uninstalls():
    pytest.importorskip("pyspark")
    import mssql_dataframe_spark.core.write.delete as DEL
    import mssql_dataframe_spark.core.write.merge as MRG
    import mssql_dataframe_spark.core.write.scd2 as SCD
    import mssql_dataframe_spark.core.write.update as UPD
    import mssql_dataframe_spark.operators.dedup as D

    orig = UPD.stage_validated_source
    tr = Tracer()
    tr.install()
    try:
        for mod in (UPD, MRG, SCD, DEL):
            assert mod.stage_validated_source.__perfbench_original__ is orig
        assert hasattr(D.exact_dedup, "__perfbench_original__")
    finally:
        tr.uninstall()
    for mod in (UPD, MRG, SCD, DEL):
        assert mod.stage_validated_source is orig


def test_per_layer_names_fit_the_contract():
    names = metric_names()
    assert len(names) == len(set(names)) <= 128
    assert all(len(n) <= 64 for n in names)


def test_benchmark_json_matches_the_runner():
    import json

    from perfbench.layers import unit_of
    from perfbench.run import end_to_end
    from perfbench.workloads import OpRecord, OpRunner

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == metric_names()
    assert all(m["unit"] == unit_of(m["name"]) for m in bench["per_layer"])
    runner = OpRunner(None, "")
    for i, kind in enumerate(["merge", "update", "read", "mv"]):
        runner.records.append(OpRecord(i, kind, "timed", wall=1.0 + i, submitted=10,
                                    rows_added=20))
    e2e, _ = end_to_end({"runner": runner, "setups": [1.0, 2.0, 3.0],
                         "load_rows_per_s": 5.0, "space_amp": 1.5}, 10.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}
    assert e2e["setup_s"]["value"] == 12.0 and e2e["write_amp"]["value"] == 2.0
    assert all(v["value"] for v in e2e.values())


def test_timed_reads_and_scans_cover_every_shape_equally():
    from collections import Counter

    spec = _small_maint()
    spec.reads_per_round = 6
    _, ops = datagen.maintenance_inputs(3, 2, spec)
    shapes = Counter(o.params["shape"] for o in ops if o.kind == "read" and o.params["round"])
    assert len(set(shapes.values())) == 1 and set(shapes) == set(datagen.READ_SHAPES)
    *_, bops = datagen.bulk_inputs(3, 2, datagen.BulkSpec(
        n_orders=300, n_docs=40, n_near_dups=4, n_exact_dups=2, n_vecs=20))
    shapes = Counter(o.params["shape"] for o in bops if o.kind == "scan" and o.params["round"])
    assert len(set(shapes.values())) == 1 and set(shapes) == set(datagen.SCAN_SHAPES)
