"""Independent expected results for every workload.

``table_maintenance`` is replayed op by op over a pandas frame (the
orders table) and DuckDB (the MV as a ``GROUP BY`` of every inserted
event). ``bulk_load_scan`` replays its merges in DuckDB and
re-runs each scan there at the same point of the op log. The curation
pass is checked against the operator registry's own DuckDB oracle SQL.
Any mismatch is reported as a message; the runner fails the run on it.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
READ_COLS = {
    "point": ORDER_COLS,
    "range": ["o_orderkey", "o_custkey", "o_totalprice"],
    "filtered": ["o_orderkey", "o_orderstatus", "o_totalprice"],
}
READ_LIMIT = {"point": None, "range": 100, "filtered": 50}


def norm_value(v):
    """Canonical comparable form: decimals and floats to float, dates
    to ISO strings, numpy scalars to Python."""
    if isinstance(v, (decimal.Decimal, np.floating)):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
        return str(v)[:10]
    return v


def rows_equal(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            a, b = norm_value(a), norm_value(b)
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not math.isclose(float(a), float(b), rel_tol=rel,
                                      abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


# ---------------------------------------------------------------------------
# table_maintenance
# ---------------------------------------------------------------------------

def read_expected(state: pd.DataFrame, p: dict) -> list[tuple]:
    lo, hi = p["lo"], p["hi"]
    shape = p["shape"]
    sel = state.loc[(state.index >= lo) & (state.index < hi)]
    if shape == "filtered":
        sel = sel[sel["o_orderstatus"] == p["status"]]
    sel = sel.sort_index(ascending=shape != "filtered")
    if READ_LIMIT[shape]:
        sel = sel.head(READ_LIMIT[shape])
    out = sel.reset_index()[READ_COLS[shape]]
    return [tuple(r) for r in out.itertuples(index=False)]


def check_maintenance(base: pa.Table, ops, results: dict, final_orders: pd.DataFrame,
                      final_mv: pd.DataFrame) -> list[str]:
    """Replay ``ops`` over ``base``; compare every read result, the
    final orders table and the MV. ``results`` maps op index to the
    rows a read returned."""
    errors = []
    state = base.to_pandas().set_index("o_orderkey")
    events = []
    for i, op in enumerate(ops):
        if op.kind in ("merge", "insert"):
            batch = op.data.to_pandas().set_index("o_orderkey")
            state = pd.concat([state.drop(batch.index, errors="ignore"), batch])
        elif op.kind == "update":
            batch = op.data.to_pandas().set_index("o_orderkey")
            hit = batch.index.intersection(state.index)
            for c in batch.columns:
                state.loc[hit, c] = batch.loc[hit, c]
        elif op.kind == "delete":
            state = state.drop(op.data.column("o_orderkey").to_pylist(),
                               errors="ignore")
        elif op.kind == "mv":
            events.append(op.data)
        elif op.kind == "read" and i in results:
            want = read_expected(state, op.params)
            if not rows_equal(results[i], want):
                errors.append(f"read #{i} {op.params}: {len(results[i])} rows "
                              f"differ from the replay's {len(want)}")
    want = state.reset_index()[ORDER_COLS].sort_values("o_orderkey")
    got = final_orders[ORDER_COLS].sort_values("o_orderkey")
    if len(got) != len(want):
        errors.append(f"orders: {len(got)} rows, replay has {len(want)}")
    elif not np.array_equal(got["o_orderkey"].to_numpy(),
                            want["o_orderkey"].to_numpy()):
        errors.append("orders: key set differs from the replay")
    else:
        for c in ORDER_COLS[1:]:
            a = [norm_value(v) for v in got[c]]
            b = [norm_value(v) for v in want[c]]
            if a != b:
                errors.append(f"orders: column {c} differs from the replay")
    if events:
        con = duckdb.connect()
        con.register("ev", pa.concat_tables(events))
        mv_want = con.execute(
            "SELECT user_id, COUNT(*) AS n_rows, "
            "SUM(CAST(value AS DECIMAL(18,4))) AS sum_value "
            "FROM ev GROUP BY user_id ORDER BY user_id"
        ).fetchall()
        con.close()
        mv_got = [tuple(r) for r in final_mv.sort_values("user_id")[
            ["user_id", "n_rows", "sum_value"]].itertuples(index=False)]
        if not rows_equal(mv_got, mv_want, rel=0):
            errors.append("mv: differs from the GROUP BY of inserted events")
    return errors


# ---------------------------------------------------------------------------
# bulk_load_scan
# ---------------------------------------------------------------------------

def _d(day: int) -> str:
    return str(np.datetime64("1992-01-01") + np.timedelta64(day, "D"))


def scan_sql(p: dict) -> str:
    """One TPC-H-shaped query in SQL both Spark and DuckDB accept."""
    s = p["shape"]
    if s == "q1":
        return f"""
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               COUNT(*) AS n
        FROM lineitem WHERE l_shipdate <= DATE '{_d(2400 - p["delta"])}'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""
    if s == "q3":
        return f"""
        SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '{p["priority"]}'
          AND o_orderdate < DATE '{_d(p["day"])}'
          AND l_shipdate > DATE '{_d(p["day"])}'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""
    if s == "q6":
        d = p["disc"]
        return f"""
        SELECT SUM(l_extendedprice * l_discount) AS revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '{p["year"]}-01-01'
          AND l_shipdate < DATE '{p["year"] + 1}-01-01'
          AND l_discount BETWEEN {(d - 1) / 100:.2f} AND {(d + 1) / 100:.2f}
          AND l_quantity < {p["qty"]}"""
    return f"""
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               SUM(l_quantity) AS qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > {p["qty"] * 8})
        GROUP BY o_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""


def check_bulk(tables: dict, ops, results: dict, final: dict) -> list[str]:
    """Replay the merges in DuckDB; compare each scan at its
    op-log position and the final ``orders`` and ``lineitem`` (Arrow
    tables read back from the store). The identity ``_pk`` each
    lineitem row received is taken from the final table by its unique
    ``(l_orderkey, l_linenumber)``."""
    errors = []
    con = duckdb.connect()
    con.register("li_src", tables["lineitem"])
    con.register("li_final", final["lineitem"])
    con.register("o_src", tables["orders"])
    con.execute("CREATE TABLE lineitem AS SELECT f._pk, s.* FROM li_src s "
                "JOIN li_final f USING (l_orderkey, l_linenumber)")
    con.execute("CREATE TABLE orders AS SELECT * FROM o_src")
    n, n_pk = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT _pk) FROM lineitem").fetchone()
    if n != tables["lineitem"].num_rows or n_pk != n or \
            final["lineitem"].num_rows != n:
        errors.append("lineitem: bulk-loaded rows or identity keys do not "
                      "match the source one to one")
    for i, op in enumerate(ops):
        if op.kind == "merge":
            con.register("batch", op.data)
            con.execute("DELETE FROM orders WHERE o_orderkey IN "
                        "(SELECT o_orderkey FROM batch)")
            con.execute("INSERT INTO orders SELECT * FROM batch")
            con.unregister("batch")
        elif op.kind == "scan" and i in results:
            want = con.execute(scan_sql(op.params)).fetchall()
            if not rows_equal(results[i], want, rel=1e-9):
                errors.append(f"scan #{i} {op.params['shape']}: result differs "
                              "from DuckDB at the same op-log position")
    for name, key in (("orders", "o_orderkey"), ("lineitem", "_pk")):
        tbl = final[name].sort_by(key)
        cols = tbl.column_names
        want = con.execute(f"SELECT {', '.join(cols)} FROM {name} ORDER BY {key}").fetchall()
        got = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
        if not rows_equal(got, want, rel=0):
            errors.append(f"{name}: final table differs from the DuckDB replay")
    con.close()
    return errors


def check_curation(documents: pa.Table, embeddings: pa.Table, near_pairs,
                   got: dict) -> tuple[list[str], float]:
    """Compare one curation pass with the registry's oracle SQL over the
    same corpus; return (errors, near-duplicate pair recall)."""
    from mssql_dataframe_spark.queries import REGISTRY

    errors = []
    con = duckdb.connect()
    con.register("documents", documents)
    con.register("embeddings", embeddings)
    for stage, entry in (("exact", "dedup_exact_text"),
                         ("survivors", "dedup_cluster_survivors"),
                         ("quality", "corpus_quality_filter"),
                         ("semantic", "embedding_semantic_dedup")):
        want = sorted(con.execute(REGISTRY[entry]["sql"]).fetchall())
        if not rows_equal(sorted(got[stage]), want, rel=0):
            errors.append(f"curation {stage}: differs from the "
                          f"{entry} oracle ({len(got[stage])} vs {len(want)} rows)")
    con.close()
    comp = {r[0]: r[1] for r in got["survivors"]}
    found = sum(1 for a, b in near_pairs
                if a in comp and b in comp and comp[a] == comp[b])
    return errors, found / max(len(near_pairs), 1)


def curated_keep_ids(got: dict) -> set[int]:
    """Documents that survive the pass: the exact-dedup representative,
    kept by the quality gate, and not a near-duplicate non-survivor."""
    exact = {r[0] for r in got["exact"]}
    keep = {r[0] for r in got["quality"] if r[4]}
    dropped = {r[0] for r in got["survivors"] if not r[2]}
    return (exact & keep) - dropped
