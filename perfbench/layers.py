"""Per-layer metrics of a traced run.

Each timed op contributes its spans' self times, its py4j round trips,
its store file counts and the Spark jobs of its job group. Figures are
means per op within an op class (``write``, ``read``, ``pipeline``);
ratios are ratios of sums. Every metric is emitted for every class so a
traced run always reports the same names; a layer an op class never
enters reads 0.
"""

from __future__ import annotations

import os

from .spans import GroupStats, interval_union_ms, parse_event_log, self_times, span_counts

CLASSES = ("write", "read", "pipeline")
# set-up bulk inserts (all reps, cold one included), per insert
LOAD_METRICS = ("validation.precheck_s", "validation.enforce_s", "core.write.self_s",
                "store.commit_s", "spark.job_wall_ms", "spark.executor_cpu_ms",
                "driver.self_ms", "py4j.round_trips")
# metric -> span labels whose self time it sums
SELF_TIME = {
    "validation.precheck_s": ("validation.precheck",),
    "validation.enforce_s": ("validation.enforce",),
    "core.write.stage_s": ("core.write.stage",),
    "core.write.discover_s": ("core.write.discover",),
    "core.write.self_s": ("core.write",),
    "store.commit_s": ("store.commit",),
    "store.read_s": ("store.read", "store.manifest"),
    "core.read.table_s": ("core.read",),
    "streaming.mv_sink_s": ("streaming",),
    "operators.incremental_s": ("operators.incremental",),
    "operators.dedup_s": ("operators.dedup",),
    "operators.similarity_s": ("operators.similarity",),
    "operators.curation_s": ("operators.curation",),
    "operators.text_s": ("operators.text",),
    "op.self_s": ("op",),
}
CALLS = {
    "validation.calls": ("validation.precheck", "validation.enforce"),
    "store.commits": ("store.commit",),
    "store.manifest_reads": ("store.manifest",),
}
UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_frac": "ratio",
         "_min": "ratio", "_util": "ratio", "_recall": "ratio",
         "_per_changed_row": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def metric_names() -> list[str]:
    per_class = list(SELF_TIME) + list(CALLS) + [
        "store.files_added", "store.files_removed", "store.files_carried",
        "store.carry_frac", "store.rows_rewritten_per_changed_row",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_ms",
        "spark.executor_run_ms", "spark.executor_cpu_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.input_bytes", "spark.slot_util", "driver.self_ms",
        "py4j.round_trips",
    ]
    return [f"{c}.{m}" for c in CLASSES for m in per_class] + [
        f"load.{m}" for m in LOAD_METRICS] + [
        "session.connect_s", "operators.near_dup_recall",
        "trace.coverage_min", "trace.overhead_est_frac",
        "trace.write_p50_s", "trace.read_p50_s", "trace.pipeline_s",
    ]


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files in write order. Spark 4 writes a directory per
    application (``eventlog_v2_*``) of numbered ``events_<n>_*`` parts."""
    def order(path):
        name = os.path.basename(path)
        part = name.split("_")[1] if name.startswith("events_") else "0"
        return (os.path.dirname(path), int(part) if part.isdigit() else 0)

    files = [os.path.join(d, f) for d, _s, fs in os.walk(log_dir) for f in fs
             if not f.startswith((".", "appstatus"))]
    return sorted(files, key=order)


def load_groups(log_dir: str) -> dict[str, GroupStats]:
    lines = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            lines.extend(f)
    return parse_event_log(lines)


def per_layer(res: dict, tracer, log_dir: str, cores: int, t_session: float,
              e2e: dict) -> dict:
    runner = res["runner"]
    groups = load_groups(log_dir)
    by_op: dict[int, GroupStats] = {}
    for g, st in groups.items():
        if not g.startswith("op"):
            continue
        i = int(g[2:].split("/")[0])
        acc = by_op.setdefault(i, GroupStats())
        acc.jobs += st.jobs
        acc.stages |= st.stages
        acc.tasks += st.tasks
        acc.intervals += st.intervals
        acc.run_ms += st.run_ms
        acc.cpu_ms += st.cpu_ms
        acc.shuffle_read += st.shuffle_read
        acc.shuffle_write += st.shuffle_write
        acc.input_bytes += st.input_bytes
    roots = {sp.op: sp for sp in tracer.spans if sp.parent is None and sp.op is not None}
    sums = {c: {} for c in CLASSES}
    n_ops = dict.fromkeys(CLASSES, 0)
    coverage = []
    for rec in runner.records:
        if rec.phase != "timed" or not rec.ok or rec.idx not in roots:
            continue
        c = rec.cls
        s = sums[c]
        n_ops[c] += 1
        root = roots[rec.idx]
        st = self_times(tracer.spans, root)
        calls = span_counts(tracer.spans, root)
        coverage.append(sum(st.values()) / rec.wall)

        def add(k, v):
            s[k] = s.get(k, 0.0) + v

        for m, labels in SELF_TIME.items():
            add(m, sum(st.get(lb, 0.0) for lb in labels))
        for m, labels in CALLS.items():
            add(m, sum(calls.get(lb, 0) for lb in labels))
        add("store.files_added", rec.files_added)
        add("store.files_removed", rec.files_removed)
        add("store.files_carried", rec.files_carried)
        if rec.candidates:
            add("_carried_of_candidates", rec.files_carried)
            add("_candidates", rec.candidates)
        add("_rows_added", rec.rows_added)
        add("_changed", rec.changed)
        g = by_op.get(rec.idx, GroupStats())
        wall_ms = interval_union_ms(g.intervals)
        add("spark.jobs", g.jobs)
        add("spark.stages", len(g.stages))
        add("spark.tasks", g.tasks)
        add("spark.job_wall_ms", wall_ms)
        add("spark.executor_run_ms", g.run_ms)
        add("spark.executor_cpu_ms", g.cpu_ms)
        add("spark.shuffle_read_bytes", g.shuffle_read)
        add("spark.shuffle_write_bytes", g.shuffle_write)
        add("spark.input_bytes", g.input_bytes)
        add("driver.self_ms", rec.wall * 1000 - interval_union_ms(
            g.intervals, rec.t0_ms, rec.t1_ms))
        add("py4j.round_trips", root.rt1 - root.rt0)
    out = {}
    for name in metric_names():
        cls, _, m = name.partition(".")
        if cls not in sums:
            continue
        s, n = sums[cls], n_ops[cls]
        if m == "store.carry_frac":
            v = s.get("_carried_of_candidates", 0) / s["_candidates"] if s.get("_candidates") else 0.0
        elif m == "store.rows_rewritten_per_changed_row":
            v = s.get("_rows_added", 0) / s["_changed"] if s.get("_changed") else 0.0
        elif m == "spark.slot_util":
            w = s.get("spark.job_wall_ms", 0)
            v = s.get("spark.executor_run_ms", 0) / (w * cores) if w else 0.0
        else:
            v = s.get(m, 0.0) / n if n else 0.0
        out[name] = {"value": v, "unit": unit_of(name)}
    loads = [sp for sp in roots.values() if sp.op < 0]
    for m in LOAD_METRICS:
        total = 0.0
        for sp in loads:
            g = by_op.get(sp.op, GroupStats())
            if m in SELF_TIME:
                total += sum(self_times(tracer.spans, sp).get(lb, 0.0) for lb in SELF_TIME[m])
            elif m == "spark.job_wall_ms":
                total += interval_union_ms(g.intervals)
            elif m == "spark.executor_cpu_ms":
                total += g.cpu_ms
            elif m == "driver.self_ms":
                total += (sp.t1 - sp.t0) * 1000 - interval_union_ms(
                    g.intervals, sp.e0_ms, sp.e1_ms)
            else:
                total += sp.rt1 - sp.rt0
        out[f"load.{m}"] = {"value": total / len(loads) if loads else 0.0,
                            "unit": unit_of(m)}
    est = tracer.wrapper_cost_s() * tracer.wrapped_calls / max(
        sum(r.wall for r in runner.records if r.ok), 1e-9)
    run_wide = {
        "session.connect_s": t_session,
        "operators.near_dup_recall": res["extra"].get("near_dup_recall", 0.0),
        "trace.coverage_min": min(coverage) if coverage else 0.0,
        "trace.overhead_est_frac": est,
        **{f"trace.{k}": e2e[k]["value"]
           for k in ("write_p50_s", "read_p50_s", "pipeline_s")},
    }
    for name, v in run_wide.items():
        out[name] = {"value": v, "unit": unit_of(name)}
    return out
