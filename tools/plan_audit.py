"""Physical-plan audit for the headline queries.

For every bench.py headline entry, capture the executed plan and
extract the scale-relevant facts: shuffle (Exchange) count, join
strategies, parquet filter pushdown, and scan column pruning. Writes
PLAN_AUDIT.md at the repo root — the per-round evidence that plans
stay the plans we want (a new Exchange or a lost PushedFilter shows up
as a diff).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from mssql_dataframe_spark import cache, connect  # noqa: E402
from mssql_dataframe_spark import queries as Q  # noqa: E402

import bench  # noqa: E402  (HEADLINE list lives there)

# streaming/mutation entries run side effects per call; plan text for
# the final frame alone under-describes them — annotate instead of audit
# audit-only additions beyond the frozen bench HEADLINE list: the
# r8/r9 registry entries whose plans are worth pinning (line-dedup
# operators and their scale-path twins); mutation verbs among them
# are annotated like the other verbs below
EXTRA = [
    "doc_line_dedup",
    "doc_line_dedup_windowed",
    "corpus_boilerplate_line_removal",
    "corpus_boilerplate_antijoin",
    "corpus_line_dedup_global",
    "pq_codebook_encode",
    "pq_adc_search",
    "ivfpq_adc_search",
    "corpus_perplexity_buckets",
    "verb_composite_pk_pruned_ingest",
    "verb_scd2_composite_key",
    "verb_merge_partition_reload",
    # r11-continuation additions: the MV-maintenance family's returned
    # frame IS the maintained view's plan (CDC read + delta joins —
    # auditable); the bloom entry's plan shows the pruned scan; the
    # streaming loop is annotated like the other streaming sinks
    "mv_minmax_partial_rescan",
    "mv_distinct_count_two_level",
    "mv_topk_maintenance",
    "verb_bloom_index_read",
    "streaming_incremental_mv",
    # r12: the PIT LEFT contract entry — one equi-join shuffle on the
    # business key, interval containment post-join
    "pit_left_unmatched_facts",
    # r13: the moment aggregates (one hash-agg pass) and the two
    # scalable-distinct shapes (bitmap two-level agg; mergeable HLL
    # sketch agg — neither may plan a count-distinct Expand over the
    # sketch side)
    "stats_skew_kurtosis",
    "bitmap_exact_distinct",
    "hll_distinct_bounded",
    "hll_sketch_union_rollup",
    "ansi_safe_arithmetic",
    # r14: ordered listagg (one hash-agg shuffle, finalizer-local
    # sort), native mode/median (single agg pass, no Expand), the
    # width_bucket single-pass histogram (one scan + one tiny-group
    # agg), and the sketch top-k whose exact side is one agg + a
    # broadcast-sized verdict join
    "string_agg_listagg",
    "mode_median_functions",
    "histogram_width_bucket",
    "approx_topk_priorities",
    # r14 continuation: ACF runs its global window over the
    # pre-aggregated O(days) series only; Benford is one scan into a
    # 9-group agg; attribution is one user_id window shuffle + tiny
    # agg; seasonal anomaly joins the hourly frame to a broadcast
    # 7x24 baseline
    "events_acf_daily",
    "benford_first_digit",
    "attribution_last_touch",
    "events_seasonal_anomaly",
    # r14 continuation batch 2: adoption curve and peak finder window
    # only the aggregated O(days)/O(hours) series; the Gini ranks via
    # the range-partitioned two-pass (no single-partition window)
    "events_adoption_curve",
    "events_peak_hours",
    "customer_revenue_gini",
]

SKIP = {
    "streaming_tumbling_counts": "streaming: plan is the drained memory sink",
    "verb_composite_pk_pruned_ingest": "mutation verb: audited via store "
    "write path; zero-file collision probes pinned by "
    "tests/test_stats_pruning_composite.py scan taps",
    "verb_scd2_composite_key": "mutation verb: audited via store write "
    "path; composite-key content pruning pinned by scan-tap tests",
    "verb_merge_partition_reload": "mutation verb: audited via store "
    "write path; flat reload scaling pinned in THROUGHPUT.md",
    "verb_insert_read": "mutation verb: audited via store write path",
    "verb_merge_upsert": "mutation verb: audited via store write path",
    "verb_update": "mutation verb: audited via store write path",
    "verb_merge_scd2": "mutation verb: audited via store write path",
    "verb_delete_where": "mutation verb: audited via store write path; "
    "the slim file-discovery scan is pinned by delete_where tests — "
    "explaining the post-delete read-back here would mislabel a plain "
    "table read as the delete plan",
    "scd2_point_in_time_join": "builds its dimension via store merges; "
    "join shape = equi-join + interval filter (joins.py docstring)",
    "kmeans_codebook_train": "iterative: per-iteration plan is one "
    "broadcast cross join + two combiner aggs (similarity.py docstring)",
    "streaming_incremental_mv": "streaming foreachBatch loop: per-batch "
    "plan = insert + version-window CDC + broadcast delta merge; the "
    "exactly-once ledger contract is pinned by the crash-injection "
    "test in tests/test_streaming.py",
}


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _ops(plan: str, node: str) -> int:
    # formatted mode prints each operator in the tree AND as a
    # "(n) NodeName" details header — count only the details headers
    return len(re.findall(rf"\(\d+\) {node}", plan))


#: one operator line of a formatted plan's tree: the ``:- +- |``
#: connector prefix, an optional whole-stage-codegen ``*``, and the
#: node text ending in its ``(id)``
_TREE_LINE = re.compile(r"^([ :+|-]*)(?:\* )?([A-Za-z][^\n]*?) \((\d+)\)(?:,|$)")


def _scan_tables(plan: str) -> dict[int, str]:
    """Node id -> table name for every file scan: the last segment of
    its first Location path that is a plain name, format extension
    dropped. Generated names (a store's ``files/f_<hex>.parquet``) are
    skipped, so a store table reads as its directory and the audit
    stays the same from run to run."""
    tables = {}
    for m in re.finditer(
        r"^\((\d+)\) Scan (?:parquet|csv|json|orc|text)[^\n]*\n"
        r"(?:(?!\n)[^\n]*\n)*?Location: \w+[^\[\n]*\[([^,\]\n]*)",
        plan,
        re.M,
    ):
        names = [
            seg.split(".")[0]
            for seg in m.group(2).split("/")
            if re.fullmatch(r"[A-Za-z_]\w*(\.\w+)?", seg)
            and not re.search(r"[0-9a-f]{16}", seg)
            and seg != "files"
        ]
        tables[int(m.group(1))] = names[-1] if names else "?"
    return tables


def _build_sides(plan: str, tables: dict[int, str]) -> list[str]:
    """For each hash or nested-loop join in the plan trees, in id
    order, the leaves under its build child: scanned tables by name,
    other leaves (LocalTableScan, ReusedExchange, ...) by node name."""
    joins = {}
    for block in plan.split("\n\n"):
        nodes = []  # (indent, id, text)
        for line in block.splitlines():
            m = _TREE_LINE.match(line)
            if m and not line.startswith("("):
                nodes.append((len(m.group(1)), int(m.group(3)), m.group(2)))
        for i, (indent, nid, text) in enumerate(nodes):
            side = re.search(r"\bBuild(Left|Right)\b", text)
            if not side:
                continue
            # the node's subtree: the following lines indented deeper;
            # its children are the first level of them, left first
            sub = []
            for node in nodes[i + 1:]:
                if node[0] <= indent:
                    break
                sub.append(node)
            kids = [j for j, n in enumerate(sub) if n[0] == sub[0][0]]
            k = 0 if side.group(1) == "Left" else len(kids) - 1
            build = sub[kids[k]:(kids + [len(sub)])[k + 1]]
            leaves = [
                tables.get(nid2, " ".join(text2.split()))
                for j, (ind2, nid2, text2) in enumerate(build)
                if j + 1 == len(build) or build[j + 1][0] <= ind2
            ]
            joins[nid] = "+".join(leaves)
    return [joins[n] for n in sorted(joins)]


def audit(plan: str) -> dict:
    # field count = names-followed-by-colon (comma-split breaks on
    # decimal(p,s)); flat table schemas, so no nested-struct inflation
    read_cols = [
        len(re.findall(r"[\w#]+:", m.group(1)))
        for m in re.finditer(r"ReadSchema: struct<([^\n]*)>", plan)
    ]
    pushed = re.findall(r"PushedFilters: \[([^\]\n]*)\]", plan)
    tables = _scan_tables(plan)
    return {
        "exchanges": _ops(plan, "Exchange"),
        "bhj": _ops(plan, "BroadcastHashJoin"),
        "smj": _ops(plan, "SortMergeJoin"),
        "shj": _ops(plan, "ShuffledHashJoin"),
        "bnl": _ops(plan, "BroadcastNestedLoopJoin"),
        "codegen": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "python_eval": sum(
            _ops(plan, n)
            for n in (
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
            )
        ),
        # row-at-a-time pickled Python — the regression the header
        # calls a bug; counted SEPARATELY so an Arrow->Batch downgrade
        # changes the diff instead of hiding inside one lumped number
        "python_row_eval": _ops(plan, "BatchEvalPython"),
        "cached": _ops(plan, "InMemoryTableScan"),
        "scans": len(
            re.findall(r"\(\d+\) Scan (?:parquet|csv|json|orc|text)", plan)
        ),
        "read_cols": read_cols,
        "pushed_nonempty": sum(1 for p in pushed if p.strip()),
        # which relation each join builds on, and the order tables are
        # scanned in: equal counts can still hide a broadcast of the
        # wrong (large) side
        "scan_order": [tables[n] for n in sorted(tables)],
        "build_sides": _build_sides(plan, tables),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = connect(app_name="plan_audit")
    rows = []
    for name in [*bench.HEADLINE, *[n for n in EXTRA if n not in bench.HEADLINE]]:
        if name in SKIP:
            rows.append((name, None, SKIP[name]))
            continue
        try:
            df = Q.REGISTRY[name]["fn"](spark, sf_dir)
            plan = formatted_plan(spark, df)
            rows.append((name, audit(plan), None))
        except Exception as exc:  # noqa: BLE001 — audit harness boundary
            # single-line, pipe-free: this text lands in a markdown
            # table cell of a round-over-round-diffed artifact
            msg = " ".join(str(exc).split()).replace("|", "/")
            rows.append((name, None, f"ERROR {type(exc).__name__}: {msg}"[:160]))
        cache.release()
        spark.catalog.clearCache()

    out = [
        "# PLAN AUDIT — headline queries, physical-plan facts",
        "",
        f"Generated by tools/plan_audit.py at {os.path.basename(sf_dir)}. "
        "Per query: shuffle Exchange count, join strategies "
        "(broadcast/sort-merge/shuffled-hash/nested-loop), distinct "
        "WholeStageCodegen spans, Python eval nodes (Arrow-batched; a "
        "row-at-a-time BatchEvalPython in a hot path is a bug and would "
        "render as `N+M!` in the py column), InMemoryTableScan "
        "count (reads served from an explicit persist), file scan "
        "count (any format), columns read per scan (pruning), and scans with non-empty "
        "PushedFilters (pushdown). Caveats: AQE plans print codegen ids "
        "only once finalized, so codegen=0 means not-yet-finalized, not "
        "interpreted; queries with no row filter legitimately show 0 "
        "pushed filters. Scan order lists the scanned tables by plan "
        "node id; build sides list, per hash or nested-loop join, the "
        "tables under its build child (`+` joins the leaves of one side).",
        "",
        "| query | exch | joins (b/sm/sh/nl) | codegen | py | cache | scans | cols/scan | pushed | scan order | build sides |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a, note in rows:
        if a is None:
            out.append(f"| {name} | — | — | — | — | — | — | — | {note} | — | — |")
            continue
        joins = f"{a['bhj']}/{a['smj']}/{a['shj']}/{a['bnl']}"
        cols = ",".join(str(c) for c in a["read_cols"]) or "—"
        py = str(a["python_eval"])
        if a["python_row_eval"]:
            py += f"+{a['python_row_eval']}!"
        out.append(
            f"| {name} | {a['exchanges']} | {joins} | {a['codegen']} "
            f"| {py} | {a['cached']} | {a['scans']} | {cols} "
            f"| {a['pushed_nonempty']}/{a['scans']} "
            f"| {','.join(a['scan_order']) or '—'} "
            f"| {','.join(a['build_sides']) or '—'} |"
        )
    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {os.path.abspath(path)} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
