"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload table_maintenance --seed 1 \
        --seconds 20 --trace 0

``--workload all`` runs every workload in turn, each in its own process.

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the engine's layers, enables the Spark
event log and prints the per-layer metrics instead. Everything the run
writes lives under ``.perfbench_run/`` in the repository root and is
removed at exit. The last stdout line is the result; a correctness
mismatch prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("table_maintenance", "bulk_load_scan")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100)."""
    v = sorted(values)
    k = max(1, -(-len(v) * q // 100))
    return v[int(k) - 1]


def highest_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """The highest candidate percentile with at least ten of ``n``
    samples strictly beyond it: the tail a run of ``n`` samples can
    report without resting on a handful of values."""
    for q in candidates:
        rank = -(-n * q // 100)
        if n - rank >= 10:
            return q
    return None


def host_counters() -> dict:
    from perfbench.workloads import cpu_ticks

    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"cpu": cpu_ticks(), "loadavg": load}


def host_record(before: dict, after: dict) -> dict:
    from perfbench.workloads import steal_share

    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    idle = d[3] + (d[4] if len(d) > 4 else 0)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "busy_frac": round(1 - idle / (sum(d) or 1), 4),
        "steal_frac": round(steal_share(before["cpu"], after["cpu"]), 4),
    }


def _proc_stat(pid) -> tuple[str, int] | None:
    """(state, parent pid) of a process from ``/proc``, or None once it
    is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        return state, int(ppid)
    except (OSError, ValueError):
        return None


def _descendants() -> set[int]:
    """Live (non-zombie) descendants of this process."""
    children: dict[int, list[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        st = _proc_stat(d)
        if st and st[0] != "Z":
            children.setdefault(st[1], []).append(int(d))
    found, todo = set(), [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in found:
                found.add(c)
                todo.append(c)
    return found


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the Spark session, its JVM and every other process this run
    started, and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running until the Python
    process exits and the JVM reads EOF on its stdin; the JVM then
    ends on its own, after this process. So close that pipe here and
    wait for the JVM, then end whatever descendants remain (Python
    workers the JVM forked)."""
    left = _descendants()
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:  # noqa: BLE001 - a dead JVM cannot stop cleanly
                pass
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _alive(left | _descendants())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            left = _alive(left)
        if not left:
            return


def _alive(pids: set[int]) -> set[int]:
    """The members of ``pids`` that still run (zombies count as ended)."""
    return {pid for pid in pids if (_proc_stat(pid) or ("Z",))[0] != "Z"}


def _reap() -> None:
    """Collect the exit status of any ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_to_end(res: dict, t_session: float) -> tuple[dict, dict]:
    """End-to-end metrics, and per op class the sample count, median
    and (with at least 20 samples) the highest percentile that has ten
    samples beyond it."""
    recs = [r for r in res["runner"].records if r.phase == "timed" and r.ok]

    def walls(pred):
        return [r.wall for r in recs if pred(r)]

    writes = walls(lambda r: r.cls == "write")
    merges = walls(lambda r: r.kind == "merge")
    reads = walls(lambda r: r.cls == "read")
    pipes = walls(lambda r: r.cls == "pipeline")
    amp_recs = [r for r in res["runner"].records if r.ok and r.submitted]
    m = {
        "setup_s": (t_session + statistics.median(res["setups"]), "s"),
        "write_p50_s": (statistics.median(writes), "s"),
        "merge_p50_s": (statistics.median(merges), "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "pipeline_s": (statistics.median(pipes), "s"),
        "load_rows_per_s": (res["load_rows_per_s"], "rows/s"),
        "write_amp": (sum(r.rows_added for r in amp_recs)
                      / sum(r.submitted for r in amp_recs), "ratio"),
        "space_amp": (res["space_amp"], "ratio"),
    }
    counts = {}
    for name, v in (("write", writes), ("merge", merges), ("read", reads),
                    ("pipeline", pipes)):
        q = highest_percentile(len(v))
        counts[name] = {"n": len(v), "p50": statistics.median(v), "tail_q": q,
                        "tail": percentile(v, q) if q else None}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, counts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mssql_dataframe_spark", "__init__.py")):
        print("perfbench: the mssql_dataframe_spark package is not in this "
              f"checkout ({ROOT}); run from the repository root", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    # end through the cleanup below on SIGTERM too
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))
    sys.path.insert(0, ROOT)
    cpus = str(len(os.sched_getaffinity(0)))
    run_dir = os.path.join(ROOT, ".perfbench_run", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        return _run(args, cpus, run_dir)
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def _run_all(args) -> int:
    """Run every workload in its own process (each needs its own Spark
    session) and pass their output through; return the worst exit code."""
    rc = 0
    for w in WORKLOADS:
        print(f"== {w}", flush=True)
        done = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        sys.stdout.write(done.stdout)
        rc = max(rc, done.returncode)
    return rc


def _run(args, cpus: str, run_dir: str) -> int:
    from mssql_dataframe_spark import connect

    from perfbench import layers, workloads
    from perfbench.datagen import op_log_hash

    pkg = sys.modules["mssql_dataframe_spark"].__file__
    if not os.path.abspath(pkg).startswith(ROOT + os.sep):
        print(f"perfbench: imported the engine from {pkg}, not this checkout",
              file=sys.stderr)
        return 2
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "tmp"),
        # keep the JVM's scratch (and its perf-data file) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    host0 = host_counters()
    spark = connect(app_name=f"perfbench-{args.workload}",
                    master=f"local[{cpus}]", extra_conf=conf)
    try:
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t_session = time.perf_counter() - T_START
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        res = workloads.WORKLOADS[args.workload](
            spark, run_dir, args.seed, args.seconds, tracer)
    finally:
        t_stop = time.perf_counter()
        spark.stop()
        stop_processes()
    t_end = time.perf_counter()
    host = host_record(host0, host_counters())
    runner = res["runner"]
    e2e, counts = end_to_end(res, t_session)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "op_log_hash": op_log_hash(res["ops"]), "latency_s": counts,
        "host": host, "session_s": round(t_session, 4),
        "setup_reps_s": [round(s, 4) for s in res["setups"]],
        "phases_s": {"session": round(t_session, 2), **res["phases"],
                     "stop": round(t_end - t_stop, 2),
                     "total": round(t_end - T_START, 2)},
        "errors": runner.errors[:20], **res["extra"],
        "ops": [(r.kind, round(r.wall, 4), round(r.steal, 4))
                for r in runner.records if r.phase == "timed"],
    }
    if args.trace:
        metrics = layers.per_layer(res, tracer, log_dir, int(cpus), t_session, e2e)
    else:
        metrics = e2e
    print("PERFBENCH_DETAIL " + json.dumps(detail, default=str), flush=True)
    correct = not runner.errors
    print(json.dumps({
        "correct": correct,
        "attempted": len(runner.records),
        "failed": sum(1 for r in runner.records if not r.ok),
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
