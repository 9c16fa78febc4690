"""Seeded input generation for the benchmark workloads.

Everything a run feeds the engine is built here from one
``numpy.random.Generator`` seeded by ``--seed``: the base tables, the
op log (every write batch, read parameter and micro-batch) and the
curation corpus with its injected near-duplicates. Generation never
touches Spark, so the same seed yields byte-identical inputs and an
identical op-log hash on any host.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["O", "F"])
# the vocabulary shape of the repo's synthetic ``documents`` table: a
# small word set, so exact and near duplicates come only from injection
VOCAB = np.array(
    "a the spark data table row column key value hash join merge sort "
    "filter group agg query scan stream window batch line part order "
    "customer vector fast slow big small index shard token corpus "
    "model train eval commit file snapshot".split()
)
DAY0 = np.datetime64("1992-01-01")


@dataclass
class Op:
    """One entry of the op log: ``kind`` names the verb, ``params``
    holds scalars, ``data`` the input batch (an Arrow table)."""

    kind: str
    params: dict = field(default_factory=dict)
    data: pa.Table | None = None


def _decimal_col(cents: np.ndarray, precision=12, scale=2) -> pa.Array:
    import decimal

    q = decimal.Decimal(1).scaleb(-scale)
    return pa.array(
        [decimal.Decimal(int(c)).scaleb(-scale).quantize(q) for c in cents],
        pa.decimal128(precision, scale),
    )


def orders_table(rng, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
        "o_totalprice": _decimal_col(rng.integers(100_000, 50_000_000, n)),
        "o_orderdate": pa.array(
            (DAY0 + rng.integers(0, 2400, n)).astype("datetime64[D]")
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def op_log_hash(ops: list[Op]) -> str:
    """SHA-256 over every op's kind, params and input bytes."""
    h = hashlib.sha256()
    for op in ops:
        h.update(op.kind.encode())
        h.update(json.dumps(op.params, sort_keys=True, default=str).encode())
        if op.data is not None:
            for col in op.data.columns:
                h.update(str(col.to_pylist()).encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# table_maintenance
# ---------------------------------------------------------------------------

@dataclass
class MaintenanceSpec:
    n_orders: int = 40_000
    n_files: int = 8
    n_cust: int = 4_000
    window_frac: float = 0.08
    merge_keys: int = 300
    merge_new: int = 10
    update_keys: int = 150
    delete_keys: int = 30
    insert_rows: int = 200
    reads_per_round: int = 6
    mv_rows: int = 2_000
    n_users: int = 1_500


def _hot_keys(rng, live: np.ndarray, window: int, n: int) -> np.ndarray:
    """``n`` draws from the newest ``window`` live keys, cubically
    skewed toward the newest so some keys recur across batches."""
    recent = live[-window:]
    idx = (len(recent) - 1 - np.floor(
        len(recent) * rng.random(n) ** 3
    ).astype(np.int64)).clip(0, len(recent) - 1)
    return np.unique(recent[idx])


def maintenance_inputs(seed: int, rounds: int, spec: MaintenanceSpec | None = None):
    """Base ``orders`` table plus the op log: one warm-up round then
    ``rounds`` timed rounds. Each timed round is two hot-key upsert
    merges, an update, a delete, an insert, ``reads_per_round`` reads
    (the shapes in turn) and one incremental-MV micro-batch, in a
    seeded order."""
    s = spec or MaintenanceSpec()
    rng = np.random.default_rng([seed, 1])
    base = orders_table(rng, np.arange(1, s.n_orders + 1), s.n_cust)
    live = np.arange(1, s.n_orders + 1)
    next_key = s.n_orders + 1
    next_event = 0
    ops: list[Op] = []
    window = int(s.n_orders * s.window_frac)
    for r in range(rounds + 1):
        # the warm-up round (r == 0) runs each op type once
        kinds = ["merge", "update", "delete", "insert", "mv", "read:range"]
        if r:
            kinds = ["merge", "merge", "update", "delete", "insert", "mv"] + [
                f"read:{READ_SHAPES[j % len(READ_SHAPES)]}"
                for j in range(s.reads_per_round)
            ]
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "merge":
                ks = _hot_keys(rng, live, window, s.merge_keys)
                new = np.arange(next_key, next_key + s.merge_new)
                next_key += s.merge_new
                batch = orders_table(rng, np.concatenate([ks, new]), s.n_cust)
                live = np.concatenate([live, new])
                ops.append(Op("merge", {"round": r}, batch))
            elif kind == "update":
                ks = _hot_keys(rng, live, window, s.update_keys)
                n = len(ks)
                ops.append(Op("update", {"round": r}, pa.table({
                    "o_orderkey": pa.array(ks, pa.int64()),
                    "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
                    "o_totalprice": _decimal_col(
                        rng.integers(100_000, 50_000_000, n)
                    ),
                })))
            elif kind == "delete":
                ks = _hot_keys(rng, live, window, s.delete_keys)
                live = np.setdiff1d(live, ks, assume_unique=True)
                ops.append(Op("delete", {"round": r}, pa.table({
                    "o_orderkey": pa.array(ks, pa.int64()),
                })))
            elif kind == "insert":
                new = np.arange(next_key, next_key + s.insert_rows)
                next_key += s.insert_rows
                live = np.concatenate([live, new])
                ops.append(Op("insert", {"round": r},
                              orders_table(rng, new, s.n_cust)))
            elif kind == "mv":
                n = s.mv_rows
                users = np.minimum(
                    rng.zipf(1.3, n) - 1, s.n_users - 1
                ).astype(np.int64)
                ops.append(Op("mv", {"round": r, "batch_id": len(
                    [o for o in ops if o.kind == "mv"])}, pa.table({
                        "event_id": pa.array(
                            np.arange(next_event, next_event + n), pa.int64()
                        ),
                        "user_id": pa.array(users, pa.int64()),
                        "value": pa.array(
                            rng.integers(0, 2_000_000, n) / 100.0, pa.float64()
                        ),
                    })))
                next_event += n
            else:
                ops.append(Op("read", {"round": r, **_read_params(
                    rng, kind[5:], live, window)}))
    return base, ops


READ_SHAPES = ("point", "range", "filtered")


def _read_params(rng, shape: str, live: np.ndarray, window: int) -> dict:
    """A point, range or filtered-range read; 3 in 4 land in the hot
    window (the recently written keys), the rest anywhere."""
    pool = live[-window:] if rng.random() < 0.75 else live
    k = int(pool[int(rng.integers(0, len(pool)))])
    if shape == "point":
        return {"shape": shape, "lo": k, "hi": k + 1}
    width = int(rng.integers(200, 2_000))
    return {"shape": shape, "lo": k - width // 2, "hi": k + width // 2,
            "status": str(rng.choice(STATUSES))}


# ---------------------------------------------------------------------------
# bulk_load_scan
# ---------------------------------------------------------------------------

@dataclass
class BulkSpec:
    n_orders: int = 10_000
    n_cust: int = 1_000
    n_docs: int = 600
    n_near_dups: int = 40
    n_exact_dups: int = 12
    n_vecs: int = 600
    dim: int = 32
    merge_frac: float = 0.10
    merges_per_round: int = 2
    scans_per_round: int = 4


SCAN_SHAPES = ("q1", "q3", "q6", "q18")


def bulk_base_tables(rng, s: BulkSpec) -> dict[str, pa.Table]:
    orders = orders_table(rng, np.arange(1, s.n_orders + 1), s.n_cust)
    n_lines = rng.integers(1, 8, s.n_orders)
    lk = np.repeat(np.arange(1, s.n_orders + 1), n_lines)
    n = len(lk)
    odate = np.repeat(
        orders.column("o_orderdate").to_numpy().astype("datetime64[D]"),
        n_lines,
    )
    ship = odate + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, m + 1) for m in n_lines]), pa.int32()
        ),
        "l_quantity": _decimal_col(rng.integers(1, 51, n) * 100),
        "l_extendedprice": _decimal_col(rng.integers(90_000, 10_000_000, n)),
        "l_discount": _decimal_col(rng.integers(0, 11, n)),
        "l_tax": _decimal_col(rng.integers(0, 9, n)),
        "l_returnflag": pa.array(rng.choice(RETURNFLAGS, n)),
        "l_linestatus": pa.array(rng.choice(LINESTATUS, n)),
        "l_shipdate": pa.array(ship.astype("datetime64[D]")),
    })
    return {"lineitem": lineitem, "orders": orders}


def corpus(rng, s: BulkSpec):
    """``documents`` with injected exact and near duplicates, plus
    ``embeddings``. Returns (documents, embeddings, near_pairs) where
    ``near_pairs`` lists (original_id, copy_id) by construction."""
    lens = rng.integers(12, 90, s.n_docs)
    texts = [" ".join(rng.choice(VOCAB, m)) for m in lens]
    near_pairs = []
    src = rng.choice(s.n_docs, s.n_near_dups + s.n_exact_dups, replace=False)
    for j, i in enumerate(src[: s.n_near_dups]):
        words = texts[i].split()
        for _ in range(int(rng.integers(1, 3))):
            a, b = rng.integers(0, len(words), 2)
            words[a], words[b] = words[b], words[a]
        if rng.random() < 0.5 and len(words) > 12:
            del words[int(rng.integers(0, len(words)))]
        near_pairs.append((int(i), s.n_docs + j))
        texts.append(" ".join(words))
    for i in src[s.n_near_dups:]:
        texts.append(texts[i])
    n = len(texts)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(np.array(["en", "de", "fr", "zh"]), n)),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
    })
    centers = rng.normal(size=(8, s.dim))
    lab = rng.integers(0, 8, s.n_vecs)
    vecs = (centers[lab] + rng.normal(scale=0.6, size=(s.n_vecs, s.dim))) / np.sqrt(s.dim)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(s.n_vecs), pa.int64()),
        "embedding": pa.array(
            [list(map(float, v)) for v in vecs.astype(np.float32)],
            pa.list_(pa.float32()),
        ),
        "label": pa.array(lab, pa.int32()),
    })
    return documents, embeddings, near_pairs


def _scan_params(rng, shape: str) -> dict:
    if shape == "q1":
        return {"shape": shape, "delta": int(rng.integers(60, 121))}
    if shape == "q3":
        return {"shape": shape, "priority": str(rng.choice(PRIORITIES)),
                "day": int(rng.integers(1000, 1400))}
    if shape == "q6":
        return {"shape": shape, "year": int(rng.integers(1993, 1998)),
                "disc": int(rng.integers(2, 10)),
                "qty": int(rng.integers(24, 26))}
    return {"shape": shape, "qty": int(rng.integers(24, 30))}


def bulk_inputs(seed: int, rounds: int, spec: BulkSpec | None = None):
    """Base tables, curation corpus and the op log: a warm-up round
    (each scan shape once, one merge), then ``rounds`` timed rounds of
    ``scans_per_round`` scans and ``merges_per_round`` uniform-key
    upsert merges of ``orders``. The last timed round also runs the
    one curation pass."""
    s = spec or BulkSpec()
    rng = np.random.default_rng([seed, 2])
    tables = bulk_base_tables(rng, s)
    documents, embeddings, near_pairs = corpus(rng, s)
    n_lines = tables["lineitem"].num_rows
    next_key = s.n_orders + 1
    ops: list[Op] = []
    for r in range(rounds + 1):
        if r == 0:
            kinds = ["merge"] + [f"scan:{q}" for q in SCAN_SHAPES]
        else:
            kinds = ["merge"] * s.merges_per_round + [
                f"scan:{SCAN_SHAPES[j % len(SCAN_SHAPES)]}"
                for j in range(s.scans_per_round)
            ]
        if r == rounds:
            kinds.append("curate")
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "merge":
                ks = np.unique(rng.integers(
                    1, s.n_orders + 1, int(s.n_orders * s.merge_frac)))
                new = np.arange(next_key, next_key + 10)
                next_key += 10
                ops.append(Op("merge", {"round": r}, orders_table(
                    rng, np.concatenate([ks, new]), s.n_cust)))
            elif kind == "curate":
                ops.append(Op("curate", {"round": r}))
            else:
                ops.append(Op("scan", {"round": r, **_scan_params(rng, kind[5:])}))
    return tables, documents, embeddings, near_pairs, ops
