"""Partitioning-invariance sweep: the cluster-size-independence claim,
made testable.

Every ``queries()`` entry is run TWICE on the same data under two
deliberately different execution layouts —

  run A: shuffle.partitions=7, maxPartitionBytes=1 MB, AQE OFF
         (many small input splits, few reducers, no runtime re-plan)
  run B: shuffle.partitions=32, maxPartitionBytes=128 MB, AQE ON
         (the session default layout)

— and the canonicalized results (sorted columns, sorted rows, floats at
12 significant digits) must be IDENTICAL. A mismatch means the entry's
output depends on physical partitioning: exactly the class of silent
nondeterminism (rand(), unordered listagg, first() without ordering,
double-sum accumulation order leaking past the output rounding) that a
1000-executor cluster surfaces and a single local run never does. The
repo's conventions exist to prevent it — deterministic tiebreaks on
every window, the decimal-cast _dsum idiom for order-insensitive
totals, content-keyed hashing instead of rand() — and this sweep checks
the whole registry against them empirically.

Streaming entries are excluded: their determinism story is replay/
exactly-once, pinned in tests/test_streaming.py, and their sinks make a
two-layout comparison a different experiment.

Usage:
    python tools/determinism_sweep.py [--sf DIR] [--names a,b,c] [--out]

Defaults: sf0.001 (layout variance needs rows in many splits, not
volume), full registry minus streaming. --out writes DETERMINISM.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from gate_sim import _canon  # noqa: E402  (the one result comparator)
from mssql_dataframe_spark import cache  # noqa: E402

LAYOUT_A = {
    # AQE disabled in layout A: runtime re-planning (partition
    # coalescing, skew splits, join demotions) is a second axis a real
    # cluster varies that a fixed local run never exercises — results
    # must not depend on it either.
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.adaptive.enabled": "false",
}
LAYOUT_B = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
}


def _run_layout(spark, fn, sf_dir: str, layout: dict) -> pd.DataFrame:
    saved = {}
    for k, v in layout.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        cache.release()
        spark.catalog.clearCache()
        return fn(spark, sf_dir).toPandas()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run(sf_dir: str, names: list[str], write_out: bool) -> int:
    from mssql_dataframe_spark.session import connect

    spark = connect(app_name="determinism_sweep")
    queries = entry_mod.queries()
    n_fail = 0
    results = []
    for name in names:
        t0 = time.time()
        try:
            a = _canon(_run_layout(spark, queries[name], sf_dir, LAYOUT_A))[0]
            b = _canon(_run_layout(spark, queries[name], sf_dir, LAYOUT_B))[0]
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            msg = " ".join(str(e).split())[:140]
            results.append((name, f"ERROR {type(e).__name__}: {msg}"))
            print(f"ERROR     {name}: {type(e).__name__}: {msg}")
            continue
        issue = None
        if list(a.columns) != list(b.columns):
            issue = f"cols A={list(a.columns)} B={list(b.columns)}"
        elif len(a) != len(b):
            issue = f"rows A={len(a)} B={len(b)}"
        else:
            for c in a.columns:
                av = a[c].map(lambda v: "<null>" if v is None else str(v))
                bv = b[c].map(lambda v: "<null>" if v is None else str(v))
                diff = (av != bv)
                if diff.any():
                    i = int(diff.idxmax())
                    issue = (
                        f"col {c} differs at row {i}: "
                        f"A={av.iloc[i]!r} B={bv.iloc[i]!r} "
                        f"(+{int(diff.sum()) - 1} more)"
                    )
                    break
        if issue:
            n_fail += 1
            results.append((name, f"VARIES {issue}"))
            print(f"VARIES    {name}: {issue}")
        else:
            results.append((name, None))
            print(f"STABLE    {name}: {len(a)} rows ({time.time() - t0:.1f}s)")
    print(f"# {len(names)} checked, {n_fail} varying/erroring")

    if write_out:
        lines = [
            "# DETERMINISM — partitioning-invariance sweep",
            "",
            "Generated by tools/determinism_sweep.py. Each entry ran twice "
            f"at {os.path.basename(sf_dir)} under two execution layouts "
            "(shuffle.partitions 7 vs 32, maxPartitionBytes 1 MB vs 128 MB, "
            "AQE off vs on); "
            "canonicalized results (sorted rows/columns, floats at 12 "
            "significant digits) must be identical. Streaming entries are "
            "excluded (replay determinism is pinned in "
            "tests/test_streaming.py).",
            "",
            f"**{len(names)} entries checked, "
            f"{n_fail} varying or erroring.**",
            "",
        ]
        varying = [(n, d) for n, d in results if d]
        if varying:
            lines.append("| entry | finding |")
            lines.append("|---|---|")
            for n, d in varying:
                lines.append(f"| {n} | {d.replace('|', '/')} |")
        else:
            lines.append("All checked entries produced byte-identical "
                         "canonical results under both layouts.")
        path = os.path.join(
            os.path.dirname(__file__), "..", "DETERMINISM.md"
        )
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {os.path.abspath(path)}")
    return n_fail


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--names", default=None)
    ap.add_argument("--out", action="store_true")
    args = ap.parse_args()
    queries = entry_mod.queries()
    if args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    else:
        names = [n for n in queries if not n.startswith("streaming_")]
    sys.exit(1 if run(args.sf, names, args.out) else 0)


if __name__ == "__main__":
    main()
