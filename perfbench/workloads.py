"""The two workloads, driven through the engine's public API.

Each workload loads its base tables (the set-up, repeated
``SETUP_REPS`` times in fresh store roots), runs one untimed warm-up
round of every op type, then a fixed number of timed rounds sized from
``--seconds``. One client thread issues every op and waits for it
(closed loop). Every op's wall time and the store files it added,
dropped and carried are recorded; results of reads, scans and curation
passes are kept for the correctness check.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen, oracle

SETUP_REPS = 3
# nominal seconds per timed round on a 4-core host; only used to turn
# ``--seconds`` into a fixed round count, so a run's op log depends on
# the seed and ``--seconds`` alone
MAINT_ROUND_S = 9.0
BULK_ROUND_S = 10.0
OP_CLASS = {"merge": "write", "update": "write", "delete": "write",
            "insert": "write", "read": "read", "scan": "read",
            "mv": "pipeline", "curate": "pipeline"}
REWRITE_OPS = ("merge", "update", "delete")


@dataclass
class OpRecord:
    idx: int
    kind: str
    phase: str
    wall: float = 0.0
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    ok: bool = True
    submitted: int = 0
    changed: int = 0
    rows_added: int = 0
    files_added: int = 0
    files_removed: int = 0
    files_carried: int = 0
    candidates: int = 0
    steal: float = 0.0

    @property
    def cls(self) -> str:
        return OP_CLASS[self.kind]


class OpRunner:
    """Runs ops against one engine, timing them and (when a tracer is
    given) opening one root span per op."""

    def __init__(self, spark, run_dir: str, tracer=None):
        self.spark = spark
        self.run_dir = run_dir
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.results: dict[int, list] = {}
        self.errors: list[str] = []
        self._n_inputs = 0
        self.t_timed0 = None

    def frame(self, table: pa.Table):
        """Hand an input batch to Spark as a parquet file, the way
        batches arrive at a table store."""
        self._n_inputs += 1
        path = os.path.join(self.run_dir, "inputs", f"in{self._n_inputs}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return self.spark.read.parquet(path)

    def load_span(self, rep: int, k: int):
        """Root span for the ``k``-th bulk insert of set-up ``rep``; its
        id is negative so it never collides with an op's."""
        return self.tracer.op_span(-(rep * 10 + k + 1)) if self.tracer else nullcontext()

    def run(self, idx: int, kind: str, phase: str, fn, eng=None, tables=()):
        rec = OpRecord(idx, kind, phase)
        if phase == "timed" and self.t_timed0 is None:
            self.t_timed0 = time.perf_counter()
        before = snapshot(eng, tables) if eng is not None else None
        ctx = self.tracer.op_span(idx) if self.tracer else nullcontext()
        cpu0 = cpu_ticks()
        rec.t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        out = None
        try:
            with ctx:
                out = fn()
        except Exception as exc:  # an op that raises counts as failed
            rec.ok = False
            self.errors.append(f"op #{idx} {kind} raised {type(exc).__name__}: {exc}")
        rec.wall = time.perf_counter() - t0
        rec.t1_ms = time.time() * 1000
        rec.steal = steal_share(cpu0, cpu_ticks())
        if before is not None:
            after = snapshot(eng, tables)
            for t in tables:
                old, new = before[t], after[t]
                rec.files_added += len(new.keys() - old.keys())
                rec.files_removed += len(old.keys() - new.keys())
                rec.files_carried += len(old.keys() & new.keys())
                rec.rows_added += sum(new[p]["rows"] or 0 for p in new.keys() - old.keys())
                if kind in REWRITE_OPS:
                    rec.candidates += len(old)
        self.records.append(rec)
        return rec, out


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def snapshot(eng, tables) -> dict[str, dict[str, dict]]:
    out = {}
    for t in tables:
        meta = eng.store.meta(t)
        out[t] = {e["path"]: e for e in eng.store.manifest(t, meta.version)}
    return out


def space_amp(eng, root: str, tables) -> float:
    """Bytes under the store root ÷ bytes of the live snapshots' files."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    live = sum(e["bytes"] for files in snapshot(eng, tables).values()
               for e in files.values())
    return total / live


def _engine(spark, root):
    from mssql_dataframe_spark import SparkEngine

    return SparkEngine(spark=spark, store_root=root)


# ---------------------------------------------------------------------------
# table_maintenance
# ---------------------------------------------------------------------------

ORDERS, FACT, MV = "dbo.orders", "dbo.events_fact", "dbo.user_mv"


def _read_op(eng, p: dict):
    where = f"o_orderkey >= {p['lo']} AND o_orderkey < {p['hi']}"
    if p["shape"] == "point":
        where = f"o_orderkey = {p['lo']}"
    elif p["shape"] == "filtered":
        where += f" AND o_orderstatus = '{p['status']}'"
    return eng.read.table(
        ORDERS,
        column_names=None if p["shape"] == "point" else oracle.READ_COLS[p["shape"]],
        where=where,
        order_column=None if p["shape"] == "point" else "o_orderkey",
        order_direction=None if p["shape"] == "point" else (
            "DESC" if p["shape"] == "filtered" else "ASC"),
        limit=oracle.READ_LIMIT[p["shape"]],
    )


def table_maintenance(spark, run_dir: str, seed: int, seconds: int, tracer=None) -> dict:
    from mssql_dataframe_spark.streaming import events

    rounds = max(2, round(seconds / MAINT_ROUND_S))
    spec = datagen.MaintenanceSpec()
    base, ops = datagen.maintenance_inputs(seed, rounds, spec)
    runner = OpRunner(spark, run_dir, tracer)
    base_df = runner.frame(base)
    setups, loads = [], []
    for rep in range(SETUP_REPS):
        root = os.path.join(run_dir, f"store{rep}")
        t0 = time.perf_counter()
        eng = _engine(spark, root)
        eng.create.table_from_dataframe(ORDERS, base_df, primary_key="o_orderkey")
        t1 = time.perf_counter()
        # one commit of ``n_files`` disjoint key-range files, the layout
        # a key-range-partitioned bulk load leaves behind
        with runner.load_span(rep, 0):
            eng.write.insert(ORDERS, base_df.repartitionByRange(spec.n_files, "o_orderkey"))
        loads.append(time.perf_counter() - t1)
        eng.create.table(FACT, {"event_id": "bigint", "user_id": "bigint",
                                "value": "decimal(18,4)"},
                         primary_key_column="event_id")
        eng.create.table(MV, {"user_id": "bigint", "n_rows": "bigint",
                              "sum_value": "decimal(18,4)"},
                         primary_key_column="user_id")
        setups.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(root, ignore_errors=True)
    tables = (ORDERS, FACT, MV)
    amps = []
    t_ops = time.perf_counter()
    for i, op in enumerate(ops):
        phase = "warm" if op.params["round"] == 0 else "timed"
        if op.kind == "read":
            rec, rows = runner.run(i, "read", phase,
                                lambda p=op.params: [tuple(r) for r in _read_op(eng, p).collect()])
            if rec.ok:
                runner.results[i] = rows
            continue
        df = runner.frame(op.data)
        if op.kind == "merge":
            fn = lambda df=df: eng.write.merge(ORDERS, df, upsert=True)  # noqa: E731
        elif op.kind == "update":
            fn = lambda df=df: eng.write.update(ORDERS, df)  # noqa: E731
        elif op.kind == "delete":
            fn = lambda df=df: eng.write.delete(ORDERS, df)  # noqa: E731
        elif op.kind == "insert":
            fn = lambda df=df: eng.write.insert(ORDERS, df)  # noqa: E731
        else:
            fn = lambda df=df, b=op.params["batch_id"]: events.incremental_mv_sink(  # noqa: E731
                eng, FACT, MV, df, b)
        rec, _ = runner.run(i, op.kind, phase, fn, eng, tables)
        rec.submitted = rec.changed = op.data.num_rows
        if phase == "timed":
            amps.append(space_amp(eng, root, tables))
    t_done = time.perf_counter()
    final_orders = eng.read.table(ORDERS).toPandas()
    final_mv = eng.read.table(MV).toPandas()
    runner.errors += oracle.check_maintenance(base, ops, runner.results, final_orders, final_mv)
    return {
        "runner": runner, "ops": ops, "setups": setups,
        "load_rows_per_s": base.num_rows / statistics.median(loads[1:]),
        "space_amp": statistics.mean(amps), "extra": {},
        "phases": _phases(setups, t_ops, runner.t_timed0, t_done),
    }


# ---------------------------------------------------------------------------
# bulk_load_scan
# ---------------------------------------------------------------------------

BULK_TABLES = {
    # store name: (source, primary key, live view)
    "dbo.lineitem": ("lineitem", None, "lineitem"),
    "dbo.orders": ("orders", "o_orderkey", "orders"),
}


def _curation_pass(runner: OpRunner, eng, idx: int, docs, embeddings) -> dict:
    """Dedup a corpus drop exactly and by MinHash, gate it on quality,
    flag semantic duplicates among the embeddings, and insert the
    surviving documents into a new store table."""
    from pyspark.sql import functions as F

    from mssql_dataframe_spark.operators import curation as C
    from mssql_dataframe_spark.operators import dedup as D
    from mssql_dataframe_spark.operators import similarity as S

    tr = runner.tracer

    def stage(label):
        return tr.span(label, group=f"op{idx}/{label}") if tr else nullcontext()

    target = f"dbo.curated_{idx}"
    got = {}
    with stage("operators.dedup"):
        got["exact"] = [tuple(r) for r in D.exact_dedup(docs, ["text"], "doc_id").collect()]
        got["survivors"] = [tuple(r) for r in D.dedup_cluster_survivors(
            docs, "doc_id", "text", 8, 8, 0.5, rows_per_band=2).collect()]
    with stage("operators.curation"):
        got["quality"] = [tuple(r) for r in C.quality_filter(docs).collect()]
    with stage("operators.similarity"):
        got["semantic"] = [tuple(r) for r in S.semantic_dedup(
            embeddings, k=8, tau_sq_bp=1200, quant=1024).collect()]
    keep = sorted(oracle.curated_keep_ids(got))
    keep_df = runner.spark.createDataFrame([(k,) for k in keep], "doc_id bigint")
    eng.create.table_from_dataframe(target, docs, primary_key="doc_id")
    eng.write.insert(target, docs.join(F.broadcast(keep_df), "doc_id", "left_semi"))
    got["curated"] = keep
    return got


def bulk_load_scan(spark, run_dir: str, seed: int, seconds: int, tracer=None) -> dict:
    spec = datagen.BulkSpec()
    rounds = max(2, round(seconds / BULK_ROUND_S))
    tables, documents, embeddings, near_pairs, ops = datagen.bulk_inputs(seed, rounds, spec)
    runner = OpRunner(spark, run_dir, tracer)
    frames = {name: runner.frame(t) for name, t in tables.items()}
    docs_df, emb_df = runner.frame(documents), runner.frame(embeddings)
    n_rows = sum(t.num_rows for t in tables.values())
    setups, loads = [], []
    for rep in range(SETUP_REPS):
        root = os.path.join(run_dir, f"store{rep}")
        t0 = time.perf_counter()
        eng = _engine(spark, root)
        load = 0.0
        for k, (name, (src, pk, view)) in enumerate(BULK_TABLES.items()):
            df = frames[src]
            if pk is None:
                # a fact table without a natural key gets an identity _pk
                eng.create.table_from_dataframe(name, df, sql_primary_key=True)
            else:
                eng.create.table_from_dataframe(name, df, primary_key=pk)
            t1 = time.perf_counter()
            with runner.load_span(rep, k):
                eng.write.insert(name, df)
            load += time.perf_counter() - t1
            eng.register_view(name, view)
        loads.append(load)
        setups.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(root, ignore_errors=True)
    curation, live, amps = None, list(BULK_TABLES), []
    t_ops = time.perf_counter()
    for i, op in enumerate(ops):
        phase = "warm" if op.params["round"] == 0 else "timed"
        if op.kind == "scan":
            sql = oracle.scan_sql(op.params)
            rec, rows = runner.run(i, "scan", phase,
                                lambda sql=sql: [tuple(r) for r in spark.sql(sql).collect()])
            if rec.ok:
                runner.results[i] = rows
        elif op.kind == "curate":
            rec, got = runner.run(i, "curate", phase,
                               lambda i=i: _curation_pass(runner, eng, i, docs_df, emb_df))
            if rec.ok:
                curation = (i, got)
                live.append(f"dbo.curated_{i}")
                rec.submitted = documents.num_rows
                rec.changed = len(got["curated"])
        else:
            df = runner.frame(op.data)
            rec, _ = runner.run(i, "merge", phase,
                             lambda df=df: eng.write.merge("dbo.orders", df, upsert=True),
                             eng, ("dbo.orders",))
            rec.submitted = rec.changed = op.data.num_rows
        if phase == "timed" and op.kind != "scan":
            amps.append(space_amp(eng, root, live))
    t_done = time.perf_counter()
    recall = 0.0
    if curation:
        i, got = curation
        rec = next(r for r in runner.records if r.idx == i)
        # the table is new: every file in it was written by the pass
        snap = snapshot(eng, live[-1:])[live[-1]]
        rec.rows_added = sum(e["rows"] or 0 for e in snap.values())
        rec.files_added = len(snap)
        errs, recall = oracle.check_curation(documents, embeddings, near_pairs, got)
        runner.errors += errs
        stored = {r[0] for r in eng.read.table(f"dbo.curated_{i}").select("doc_id").collect()}
        if stored != set(got["curated"]):
            runner.errors.append("curation: survivors table differs from the keep set")
    final = {
        "orders": eng.read.table("dbo.orders").toArrow(),
        "lineitem": eng.read.table("dbo.lineitem").toArrow(),
    }
    runner.errors += oracle.check_bulk(tables, ops, runner.results, final)
    return {
        "runner": runner, "ops": ops, "setups": setups,
        "load_rows_per_s": n_rows / statistics.median(loads[1:]),
        "space_amp": statistics.mean(amps), "extra": {"near_dup_recall": recall},
        "phases": _phases(setups, t_ops, runner.t_timed0, t_done),
    }


def _phases(setups, t_ops, t_timed0, t_done) -> dict:
    t_timed0 = t_timed0 or t_done
    return {"setup": round(sum(setups), 2), "warm": round(t_timed0 - t_ops, 2),
            "timed": round(t_done - t_timed0, 2),
            "check": round(time.perf_counter() - t_done, 2)}


WORKLOADS = {"table_maintenance": table_maintenance, "bulk_load_scan": bulk_load_scan}
