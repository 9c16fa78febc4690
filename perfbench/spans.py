"""Spans around the engine's layers, py4j round trips, and the Spark
event log, joined per benchmark op.

The tracer wraps each layer's public functions from outside the
package: every module of ``mssql_dataframe_spark`` that holds a binding
to a target function gets the wrapper, so a name imported into several
modules (``stage_validated_source`` is used by update, merge, SCD2 and
delete) is traced at every call site. Spans stay in memory; per-layer
figures are computed once the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from dataclasses import dataclass, field

# (module, attribute, layer label). "Class.method" patches the class.
TARGETS = [
    ("mssql_dataframe_spark.validation", "precheck_dataframe", "validation.precheck"),
    ("mssql_dataframe_spark.validation", "precheck_dataframe_deferred", "validation.precheck"),
    ("mssql_dataframe_spark.validation", "enforce_check_constraints", "validation.enforce"),
    ("mssql_dataframe_spark.validation", "enforce_foreign_keys", "validation.enforce"),
    ("mssql_dataframe_spark.validation", "enforce_unique_constraints", "validation.enforce"),
    ("mssql_dataframe_spark.core.write.update", "stage_validated_source", "core.write.stage"),
    ("mssql_dataframe_spark.core.write.update", "discover_matched_files", "core.write.discover"),
    ("mssql_dataframe_spark.core.write.update", "bloom_narrow_entries", "core.write.discover"),
    ("mssql_dataframe_spark.core.write.update", "stats_candidates", "core.write.discover"),
    ("mssql_dataframe_spark.core.write.insert", "insert", "core.write"),
    ("mssql_dataframe_spark.core.write.merge", "merge_op", "core.write"),
    ("mssql_dataframe_spark.core.write.update", "update_op", "core.write"),
    ("mssql_dataframe_spark.core.write.delete", "delete_op", "core.write"),
    ("mssql_dataframe_spark.store", "TableStore.append", "store.commit"),
    ("mssql_dataframe_spark.store", "TableStore.replace_files", "store.commit"),
    ("mssql_dataframe_spark.store", "TableStore.overwrite", "store.commit"),
    ("mssql_dataframe_spark.store", "TableStore.read", "store.read"),
    ("mssql_dataframe_spark.store", "TableStore.read_files", "store.read"),
    ("mssql_dataframe_spark.store", "TableStore.meta", "store.manifest"),
    ("mssql_dataframe_spark.store", "TableStore.manifest", "store.manifest"),
    ("mssql_dataframe_spark.core.read", "read.table", "core.read"),
    ("mssql_dataframe_spark.streaming.events", "incremental_mv_sink", "streaming"),
]
# every public function of these modules is wrapped
MODULE_LAYERS = [
    ("mssql_dataframe_spark.operators.incremental", "operators.incremental"),
    ("mssql_dataframe_spark.operators.dedup", "operators.dedup"),
    ("mssql_dataframe_spark.operators.similarity", "operators.similarity"),
    ("mssql_dataframe_spark.operators.curation", "operators.curation"),
    ("mssql_dataframe_spark.operators.text", "operators.text"),
]
PACKAGE = "mssql_dataframe_spark"


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    label: str
    t0: float
    t1: float = 0.0
    rt0: int = 0
    rt1: int = 0
    e0_ms: float = 0.0
    e1_ms: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Records nested spans and counts py4j round trips.

    ``op_span`` opens a root span for one benchmark op and makes its id
    the Spark job group, so event-log jobs join back to the op.
    """

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.round_trips = 0
        self.wrapped_calls = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _open(self, label: str, op: int | None) -> Span:
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), parent.sid if parent else None,
                  op if op is not None else (parent.op if parent else None),
                  label, time.perf_counter(), rt0=self.round_trips,
                  e0_ms=time.time() * 1000)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.sid)
        self.stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        sp.e1_ms = time.time() * 1000
        sp.rt1 = self.round_trips
        self.stack.pop()

    def span(self, label: str, group: str | None = None):
        """Context manager for one nested span; ``group`` also sets the
        Spark job group for jobs started inside it."""
        return _SpanCtx(self, label, None, group)

    def op_span(self, op: int):
        return _SpanCtx(self, "op", op, f"op{op}")

    # -- wrapping ----------------------------------------------------------
    def wrap(self, fn, label: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.stack:
                return fn(*a, **kw)
            tracer.wrapped_calls += 1
            sp = tracer._open(label, None)
            try:
                out = fn(*a, **kw)
            finally:
                tracer._close(sp)
            if fn.__name__ == "precheck_dataframe_deferred":
                # the deferred precheck finishes inside the caller's
                # staging write; trace that step under the same label
                out = (out[0], tracer.wrap(out[1], label))
            return out

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> None:
        """Patch every binding of every target, and the py4j client."""
        import importlib
        import py4j.java_gateway as jg

        originals: dict[int, tuple[object, str]] = {}
        for mod_name, attr, label in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self.wrap(getattr(cls, meth), label))
            else:
                originals[id(getattr(mod, attr))] = (getattr(mod, attr), label)
        for mod_name, label in MODULE_LAYERS:
            mod = importlib.import_module(mod_name)
            for name, fn in vars(mod).items():
                if (inspect.isfunction(fn) and not name.startswith("_")
                        and fn.__module__ == mod_name):
                    originals[id(fn)] = (fn, label)
        wrappers = {k: self.wrap(fn, label) for k, (fn, label) in originals.items()}
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                continue
            for name, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and originals[id(val)][0] is val:
                    self._patch(mod, name, w)
        orig_send = jg.GatewayClient.send_command
        tracer = self

        def counting_send(client, *a, **kw):
            tracer.round_trips += 1
            return orig_send(client, *a, **kw)

        self._patch(jg.GatewayClient, "send_command", counting_send)

    def _patch(self, obj, name, new) -> None:
        self._patches.append((obj, name, getattr(obj, name)))
        setattr(obj, name, new)

    def uninstall(self) -> None:
        for obj, name, old in reversed(self._patches):
            setattr(obj, name, old)
        self._patches.clear()

    def wrapper_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of one wrapped call on top of the call itself."""
        def noop():
            return None

        w = self.wrap(noop, "calibrate")
        root = self._open("calibrate", None)
        t0 = time.perf_counter()
        for _ in range(n):
            w()
        traced = time.perf_counter() - t0
        self._close(root)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        plain = time.perf_counter() - t0
        del self.spans[root.sid:]
        self.wrapped_calls -= n
        return max(traced - plain, 0.0) / n


class _SpanCtx:
    def __init__(self, tracer: Tracer, label: str, op: int | None, group: str | None):
        self.tracer, self.label, self.op, self.group = tracer, label, op, group
        self.sp = None
        self.prev_group = None

    def __enter__(self):
        self.sp = self.tracer._open(self.label, self.op)
        if self.group is not None and self.tracer.sc is not None:
            self.prev_group = self.tracer.sc.getLocalProperty("spark.jobGroup.id")
            self.tracer.sc.setJobGroup(self.group, self.label)
        return self.sp

    def __exit__(self, *exc):
        if self.group is not None and self.tracer.sc is not None:
            if self.prev_group:
                self.tracer.sc.setJobGroup(self.prev_group, "")
            else:
                self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer._close(self.sp)
        return False


def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Self time per label under ``root``: each span's duration minus
    its children's. The values sum to the root's duration."""
    out: dict[str, float] = {}
    todo = [root.sid]
    while todo:
        sp = spans[todo.pop()]
        child = sum(spans[c].t1 - spans[c].t0 for c in sp.children)
        out[sp.label] = out.get(sp.label, 0.0) + (sp.t1 - sp.t0) - child
        todo.extend(sp.children)
    return out


def span_counts(spans: list[Span], root: Span) -> dict[str, int]:
    """Calls per label under ``root``, counting only the outermost span
    of a label (a commit inside a commit is one commit)."""
    out: dict[str, int] = {}
    todo = [(root.sid, ())]
    while todo:
        sid, above = todo.pop()
        sp = spans[sid]
        if sp.label not in above:
            out[sp.label] = out.get(sp.label, 0) + 1
        todo.extend((c, above + (sp.label,)) for c in sp.children)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    intervals: list = field(default_factory=list)
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_bytes: int = 0


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Per ``spark.jobGroup.id``: jobs, stages that ran tasks, tasks,
    job intervals (epoch ms), executor run and CPU ms, shuffle and input
    bytes. Jobs without a group are keyed by ``""``."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev.get("Submission Time", 0)
            for s in ev.get("Stage IDs", []):
                stage_group.setdefault(s, g)
            out.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid, "")
            out.setdefault(g, GroupStats()).intervals.append(
                (job_start.get(jid, ev["Completion Time"]), ev["Completion Time"])
            )
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            g = stage_group.get(sid, "")
            st = out.setdefault(g, GroupStats())
            st.tasks += 1
            st.stages.add(sid)
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out


def interval_union_ms(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
