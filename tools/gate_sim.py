"""Dtype-strict driver-gate simulation.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet directory, then compares row count, sorted
column names, sorted row-value multisets AND pandas dtypes. The dtype
check is the part pytest's parity suite does not cover — the driver's
value hasher serializes dtype-sensitively (round 4's only red row was a
DuckDB HUGEINT vs int64 with values provably equal), so a values-equal/
dtype-differs entry here is a real gate risk.

Usage:
    python tools/gate_sim.py [--sf DIR] [--n N] [--names a,b,c]

Defaults: sf0.01 (the driver's grading scale), first 50 entries of
``queries()`` (the driver's grading window).
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame, digits: int = 12) -> tuple[pd.DataFrame, dict]:
    """Sort columns by name, canonicalize dtypes the driver treats as
    equivalent (datetime64 resolution, object-vs-string), round floats
    to ``digits`` significant digits, sort rows.
    Returns (frame, {col: original float width}) — the width map is
    compared separately, since the value-rounding path below coerces
    everything to float64."""
    widths: dict[str, str] = {}
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = df[c].dtype
        if str(dt).startswith("datetime64") and "UTC" in str(dt):
            df[c] = df[c].dt.tz_localize(None)
            dt = df[c].dtype
        if str(dt).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif str(dt) in ("string", "large_string[pyarrow]"):
            df[c] = df[c].astype(object)
        elif str(dt).startswith("float"):
            # driver hashes at repr precision; normalize -0.0 and round
            # (12 significant digits by default) so final-ulp noise
            # doesn't flag.
            # The ORIGINAL width is recorded first: coercing float32 to
            # float64 before the dtype check would silently mask the
            # exact values-equal/width-differs gate risk this tool
            # exists to catch (integer widths ARE flagged; float must
            # be too).
            widths[c] = str(dt)
            df[c] = df[c].map(
                lambda v: None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else float(f"{v + 0.0:.{digits}g}")
            )
            df[c] = df[c].astype("float64")
    key = [
        df[c].map(lambda v: "<null>" if v is None else str(v))
        for c in df.columns
    ]
    order = sorted(range(len(df)), key=lambda i: tuple(k.iloc[i] for k in key))
    return df.iloc[order].reset_index(drop=True), widths


def compare(
    spd: pd.DataFrame, dpd: pd.DataFrame, digits: int = 12, exact: bool = False
) -> list[str]:
    """The differences between a Spark result and its DuckDB twin's:
    column names, row count, pandas dtypes and float widths, and the
    values after :func:`_canon` at ``digits`` significant digits —
    equal to a relative 1e-9, or ``exact``ly. Empty when they agree."""
    issues = []
    try:
        if sorted(spd.columns) != sorted(dpd.columns):
            issues.append(
                f"cols spark={sorted(spd.columns)} "
                f"duck={sorted(dpd.columns)}"
            )
        elif len(spd) != len(dpd):
            issues.append(f"rows spark={len(spd)} duck={len(dpd)}")
        else:
            (s, sw), (d, dw) = _canon(spd, digits), _canon(dpd, digits)
            dtype_diff = [
                (c, str(s[c].dtype), str(d[c].dtype))
                for c in s.columns
                if str(s[c].dtype) != str(d[c].dtype)
            ]
            dtype_diff += [
                (c, sw.get(c, "—"), dw.get(c, "—"))
                for c in s.columns
                if sw.get(c) != dw.get(c)
            ]
            if dtype_diff:
                issues.append(f"DTYPE {dtype_diff}")
            try:
                pd.testing.assert_frame_equal(
                    s, d, check_dtype=False, check_exact=exact, rtol=1e-9
                )
            except AssertionError as e:
                issues.append(f"VALUES {str(e).splitlines()[-1][:160]}")
    except Exception as e:  # noqa: BLE001 - isolate per entry: one
        # uncanonicalizable frame (e.g. an exotic tz-aware dtype)
        # must not abort the rest of a 240-entry sweep unchecked
        issues.append(f"COMPARE-ERROR {type(e).__name__}: {e}")
    return issues


def run(sf_dir: str, names: list[str]) -> int:
    from mssql_dataframe_spark import cache
    from mssql_dataframe_spark.session import connect

    spark = connect(app_name="gate_sim")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_fail = 0
    for name in names:
        t0 = time.time()
        # entries may persist or checkpoint intermediates (LSH
        # signatures, shingle rows); free them between entries so a
        # long sweep doesn't accumulate cache pressure. clearCache()
        # alone misses the checkpoint blocks cache.release() frees.
        cache.release()
        spark.catalog.clearCache()
        try:
            sdf = queries[name](spark, sf_dir)
            spd = sdf.toPandas()
            if name not in oracles:
                print(f"ROWS-ONLY {name}: {len(spd)} rows "
                      f"({time.time() - t0:.1f}s)")
                continue
            dpd = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"ERROR     {name}: {type(e).__name__}: {e}")
            continue
        issues = compare(spd, dpd)
        el = time.time() - t0
        if issues:
            n_fail += 1
            print(f"FAIL      {name} ({el:.1f}s): " + "; ".join(issues))
        else:
            print(f"OK        {name}: {len(spd)} rows ({el:.1f}s)")
        sys.stdout.flush()
    return n_fail


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--names", default=None)
    a = ap.parse_args()
    all_names = list(entry_mod.queries())
    names = a.names.split(",") if a.names else all_names[: a.n]
    bad = run(a.sf, names)
    print(f"# {len(names)} checked, {bad} failing")
    sys.exit(1 if bad else 0)
