"""Pre-write validation & conversion pipeline.

Reimplements the reference's ``_precheck_dataframe`` pipeline
(reference: mssql_dataframe/core/conversion.py:165-211) over Spark
DataFrames:

1. restrict the target schema to columns present in the source,
2. upcast to the widest type of each SQL category before range checks
   (reference: conversion.py:214-253) so e.g. 10000 into a tinyint is
   caught instead of silently wrapped,
3. ALL data-dependent checks as ``observe()`` metrics on the caller's
   first action (reference computes client-side min/max —
   conversion.py:256-326): range / string-length / binary-length
   bounds, ASCII content of non-unicode char/varchar
   (conversion.py:329-354), decimal rounding-changed flags (gates the
   reference's rounding warning, conversion.py:591-608),
   unconvertible-value flags (``try_cast`` NULL on a non-NULL input ->
   DataframeColumnInvalidValue, reference custom_errors.py:68) and NOT
   NULL violations. No extra Spark job, regardless of column count.
4. value preparation: decimal scale rounding, datetime rounding to SQL
   Server grids (conversion.py:448-525), binary(n) zero-padding
   (conversion.py:611-620) — pure transformations, no extra jobs,
5. cast to the rule types.

All checks are expressed with built-in functions (JVM-side, codegen) —
no Python UDFs in this path.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .conversion_rules import RULES, WIDEST_SPARK_TYPE, ColumnSpec, parse_column_spec
from .errors import (
    DataframeColumnDoesNotExist,
    DataframeColumnInvalidValue,
    SQLInsufficientColumnSize,
    SQLNonUnicodeTypeColumn,
)

logger = logging.getLogger("mssql_dataframe_spark")


def _bq(name: str) -> str:
    """Backtick-quote an identifier for inline SQL text. Unlike
    ``identifiers.escape`` this does NOT enforce the 128-char SYSNAME
    bound: internal probe aliases like ``{col}__min`` may legally
    exceed it for near-limit column names."""
    return "`" + str(name).replace("`", "``") + "`"


def _sq(text: str) -> str:
    """Single-quote a string literal for inline SQL text."""
    return "'" + str(text).replace("\\", "\\\\").replace("'", "\\'") + "'"


def precheck_dataframe(
    df: DataFrame,
    column_types: dict[str, str],
    not_nullable: Sequence[str] = (),
) -> DataFrame:
    """Validate and convert ``df`` against the declared SQL types of the
    target table now; returns the converted DataFrame (the reference
    returns the possibly precision-adjusted frame so callers can compare
    round-trip equality — conversion.py:898-899).

    Runs the write verbs' pipeline (``precheck_dataframe_deferred``)
    and forces it with one ``noop``-sink action, so it raises exactly
    the errors a write of the same frame raises.

    ``not_nullable``: columns that must not contain NULL (table NOT NULL
    + primary-key columns); violation raises DataframeColumnInvalidValue.
    """
    out, finish = precheck_dataframe_deferred(df, column_types, not_nullable)
    out.write.format("noop").mode("overwrite").save()
    finish()
    return out


def precheck_dataframe_deferred(
    df: DataFrame,
    column_types: dict[str, str],
    not_nullable: Sequence[str] = (),
    bounds_col=None,
):
    """The validation pipeline: instead of running the fused validation
    agg as its own Spark job (one full pass over the source), the
    aggregate expressions ride the caller's first action on the result
    (the staging write) as ``observe()`` metrics, so validating a write
    costs zero extra passes (guide §2.4 — remove a source scan per
    commit).

    Returns ``(out_df, finish)``. ``finish()`` must be called after
    the first action on ``out_df``; it raises the validation errors and
    returns the pruning bounds.

    ``bounds_col``: a list of columns whose per-column min/max ride the
    same metrics; ``finish()`` then returns ``{col: (lo, hi)}`` — the
    shape ``store.split_by_key_ranges`` consumes. Only int/str key
    columns matter here (the manifest keeps stats for nothing else),
    and for those the later cast steps are value-preserving, so bounds
    taken pre-cast are exact. (Like Delta's MERGE, pruned writes assume
    a deterministic source — a source that yields different rows when
    recomputed can sidestep any bounds collected beforehand.)

    The pipeline uses ``try_cast`` end to end so the action always
    completes: a plain ANSI ``CAST`` would abort it on a value no
    ``__bad`` probe covers (e.g. double NaN into INT). Every
    silently-NULLed value is caught by a per-column non-null-count
    invariant observed before and after the cast chain (``try_cast``
    yields NULL exactly where ANSI ``CAST`` raises) and surfaces as
    ``DataframeColumnInvalidValue`` BEFORE anything commits — the
    staged files are discarded by the caller's abort path.

    Batch-duplicate match keys are not checked here: ``count(DISTINCT
    ...)`` is barred from ``observe()`` metrics, so the writers probe
    the staged source for them (``stage_validated_source``).
    """
    specs: dict[str, ColumnSpec] = {}
    for col in df.columns:
        if col not in column_types:
            raise DataframeColumnDoesNotExist(
                f"dataframe column {col!r} is not a column of the target table"
            )
        specs[col] = parse_column_spec(column_types[col])

    cols = list(df.columns)
    if not cols:
        return df, lambda: None

    from pyspark.sql import Observation

    # nn0 BEFORE the widening upcast: the upcast try_casts (e.g.
    # double NaN into an integer category), and a value it NULLs must
    # still trip the invariant — counting after it would hide the NULL.
    obs_raw = Observation()
    df = df.observe(
        obs_raw,
        *[F.expr(f"count({_bq(c)}) AS {_bq(c + '__nn0')}") for c in cols],
    )
    df = _upcast_widest(df, specs)
    aggs, ctx = _build_validation_aggs(
        df, specs,
        not_nullable=[c for c in not_nullable if c in df.columns],
        bounds_col=bounds_col,
    )
    obs_aggs = Observation() if aggs else None
    if obs_aggs is not None:
        df = df.observe(obs_aggs, *[F.expr(a) for a in aggs])
    out = _cast_to_rules(_prepare_values(df, specs), specs)
    obs_post = Observation()
    out = out.observe(
        obs_post,
        *[F.expr(f"count({_bq(c)}) AS {_bq(c + '__nn1')}") for c in cols],
    )

    done: dict = {}

    def finish():
        if "bounds" in done:  # idempotent — callers may retry
            return done["bounds"]
        row = {**obs_raw.get, **obs_post.get}
        if obs_aggs is not None:
            row.update(obs_aggs.get)
        bounds = _apply_validation_row(row, ctx)
        nulled = [c for c in cols if row[f"{c}__nn1"] < row[f"{c}__nn0"]]
        if nulled:
            raise DataframeColumnInvalidValue(
                f"column(s) {nulled} contain values that cannot be "
                f"converted to their declared SQL type"
            )
        done["bounds"] = bounds
        return bounds

    return out, finish


def first_row(df: DataFrame):
    """The first row of ``df``, or None: one bounded take, so a probe
    that only asks whether a row exists runs one job and stops at the
    first hit (``limit(1).count()`` adds an aggregate, and AQE runs it
    as a second job)."""
    rows = df.limit(1).collect()
    return rows[0] if rows else None


def duplicate_key(df: DataFrame, cols):
    """A value of ``df``'s ``cols`` that occurs more than once, as a row
    of ``cols`` plus its count ``__n``, or None. NULL keys group
    together; callers that exempt them drop them first."""
    return first_row(
        df.groupBy(*cols).agg(F.expr("count(1) AS `__n`")).where("`__n` > 1")
    )


def enforce_check_constraints(df: DataFrame, checks: dict) -> None:
    """Enforce declared CHECK constraints on rows about to be written
    — ONE agg job over ``df`` (the new/rewritten rows only; rows
    carried by manifest reference were validated at their own write
    time, so write cost stays ∝ touched data, exactly Delta's CHECK
    enforcement shape). Expressions use the engine's restricted
    where-grammar (identifiers.compile_where), so constraint text
    cannot smuggle arbitrary SQL. SQL semantics: violation only when
    the expression is FALSE; NULL passes. ``df`` always carries the
    full table schema on every write path, so every constraint is
    evaluable."""
    from .identifiers import compile_where

    if not checks:
        return
    aggs = []
    names = []
    for name, expr in sorted(checks.items()):
        compiled = compile_where(expr)
        cond = F.expr(compiled)
        try:
            df.select(cond.alias("__c"))  # eager analysis: resolve refs
        except Exception as exc:
            raise DataframeColumnInvalidValue(
                f"check constraint {name!r} is not evaluable on the "
                f"write: {exc}"
            ) from None
        aggs.append(
            F.max(F.when(cond == F.lit(False), 1).otherwise(0)).alias(name)
        )
        names.append(name)
    row = df.agg(*aggs).first().asDict()
    violated = [n for n in names if row.get(n) == 1]
    if violated:
        from .errors import SQLCheckConstraintViolation

        raise SQLCheckConstraintViolation(
            f"check constraint(s) violated: {violated}"
        )


def enforce_foreign_keys(
    store, df: DataFrame, fks: dict, table_name: str | None = None
) -> list[tuple]:
    """Enforce declared FOREIGN KEY constraints on rows about to be
    written (beyond-reference; most warehouses declare FKs NOT
    ENFORCED — here the write fails fast like SQL Server would).

    Shape: per FK, ONE keys-only left-anti join of the written rows'
    distinct FK tuples against the parent table's key projection. Both
    sides project just the key columns, so at 100 TB this is a slim
    shuffle (or a broadcast when the parent key set is small — Catalyst
    decides from stats). Cost is ∝ touched rows + parent keys, never
    the full child table. SQL MATCH SIMPLE semantics: a row with any
    NULL FK column passes; only fully-non-NULL orphan tuples violate.

    Self-referencing FKs (``ref_table`` == the table being written,
    signalled via ``table_name``): SQL Server checks constraints at end
    of statement, so a batch that contains both a parent row and a
    child row referencing it is valid. The parent key set is therefore
    the stored snapshot UNIONed with the outgoing rows' referenced-key
    projection — still a keys-only plan.

    Returns the ``[(parent_table, version_at_probe), ...]`` dependency
    list — the caller passes it to the store commit as cross-table OCC
    ``preconditions``, so a parent that changed between this probe and
    the commit fails the write cleanly instead of publishing rows that
    reference concurrently-deleted keys (store._check_preconditions).
    """
    if not fks:
        return []
    from .core.write.update import existing_candidates

    # ONE keys-only agg over the outgoing rows collects per-column
    # min/max for every FK column, so each parent probe below can
    # stats-prune its parent scan: a parent file whose recorded range
    # for ANY referenced column excludes every batch value cannot
    # contain any batch tuple, so skipping it keeps the anti join
    # EXACT (a tuple present in the parent is present in a candidate
    # file). Referenced columns are PK/UNIQUE and therefore
    # footer-harvested; files without stats stay candidates.
    all_cols = sorted({c for s in fks.values() for c in s["columns"]})
    aggs = []
    for i, c in enumerate(all_cols):
        aggs += [
            F.min(c).alias(f"__fk_lo_{i}"),
            F.max(c).alias(f"__fk_hi_{i}"),
        ]
    brow = df.agg(*aggs).collect()[0]
    cbounds = {
        c: (brow[f"__fk_lo_{i}"], brow[f"__fk_hi_{i}"])
        for i, c in enumerate(all_cols)
    }
    deps: list[tuple] = []
    for name in sorted(fks):
        spec = fks[name]
        cols = list(spec["columns"])
        # ONE snapshot per parent: the OCC dependency below and the
        # stats-pruned scan describe the same version, so a foreign
        # parent commit between them surfaces as an OCC failure at our
        # commit instead of a mixed-snapshot verdict
        parent_snap = store.snapshot(spec["ref_table"])
        if spec["ref_table"] != table_name:  # self-refs ride table OCC
            dep = (spec["ref_table"], parent_snap.version)
            if dep not in deps:
                deps.append(dep)
        pairs = list(zip(cols, spec["ref_columns"]))
        ref_bounds = {
            rc: cbounds[c] for c, rc in pairs
            if cbounds[c][0] is not None and cbounds[c][1] is not None
        }
        # the parent's stats, then its bloom sidecars, narrow the scan
        # (the existing side of every key probe); a sidecar is probed
        # only where the child column has the parent column's type: a
        # child '05' equals a parent 5 under Spark's comparison but
        # hashes differently
        ptypes = {f.name: f.dataType for f in parent_snap.meta.spark_schema}
        parent_scan = store.read_files(parent_snap, existing_candidates(
            store, parent_snap, ref_bounds,
            df.select(*[F.col(c).alias(rc) for c, rc in pairs]),
            [rc for c, rc in pairs if df.schema[c].dataType == ptypes[rc]],
        ))
        parent = parent_scan.select(*[F.col(rc).alias(c) for c, rc in pairs])
        if table_name is not None and spec["ref_table"] == table_name:
            ref_in_batch = [
                rc for rc in spec["ref_columns"] if rc in df.columns
            ]
            if len(ref_in_batch) == len(spec["ref_columns"]):
                parent = parent.unionByName(
                    df.select(*[F.col(rc).alias(c) for c, rc in pairs])
                )
        orphan = first_row(
            df.select(*cols)
            .na.drop(how="any")
            .distinct()
            .join(parent, cols, "left_anti")
        )
        if orphan is not None:
            from .errors import SQLForeignKeyViolation

            raise SQLForeignKeyViolation(
                f"foreign key {name!r} violated: written rows reference "
                f"{cols} values absent from {spec['ref_table']}"
            )
    return deps


def enforce_unique_constraints(
    df: DataFrame,
    uniques: dict,
    existing: DataFrame | None = None,
    existing_for=None,
) -> None:
    """Enforce recorded UNIQUE constraints on rows about to be written
    (beyond-reference; recorded by ``modify.foreign_key`` when an FK
    is accepted against non-PK parent columns — SQL Server mandates a
    durable PK/UNIQUE constraint there, so the invariant must survive
    later parent writes, not just the add-time scan).

    Shape: per constraint, one keys-only agg over the written rows
    (duplicate flag + per-column min/max in the same job), plus one
    keys-only semi join against the rows this commit does NOT rewrite
    — either the ``existing`` frame the caller passes (append target /
    pruned-away files) or whatever ``existing_for(cols, bounds)``
    returns, letting the caller stats-prune the probe to the files
    whose recorded key ranges intersect the batch (``None`` = nothing
    can collide, probe skipped). Both sides project only the
    constrained columns, so at 100 TB this is a slim shuffle and cost
    stays ∝ touched rows + key width. SQL-Server-flavored NULL
    handling is simplified the same way the FK checker is (MATCH
    SIMPLE): tuples containing NULL are exempt, since they can never
    be FK-referenced.
    """
    if not uniques:
        return
    from .errors import SQLUniqueConstraintViolation

    for name in sorted(uniques):
        cols = list(uniques[name])
        keys = df.select(*cols).na.drop(how="any")
        aggs = [
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.struct(*[F.col(c) for c in cols])).alias(
                "__d"
            ),
        ]
        for i, c in enumerate(cols):
            aggs += [
                F.min(c).alias(f"__lo_{i}"),
                F.max(c).alias(f"__hi_{i}"),
            ]
        row = keys.agg(*aggs).collect()[0]
        dup = row["__n"] != row["__d"]
        if not dup and row["__n"]:
            ex = existing
            if ex is None and existing_for is not None:
                bounds = {
                    c: (row[f"__lo_{i}"], row[f"__hi_{i}"])
                    for i, c in enumerate(cols)
                    if row[f"__lo_{i}"] is not None
                }
                ex = existing_for(cols, bounds)
            if ex is not None:
                dup = first_row(keys.join(
                    ex.select(*cols).na.drop(how="any"), cols, "left_semi",
                )) is not None
        if dup:
            raise SQLUniqueConstraintViolation(
                f"unique constraint {name!r} on {cols} violated: the "
                "write would create duplicate key values (the columns "
                "are FK-referenced and must stay unique)"
            )


def _upcast_widest(df: DataFrame, specs: dict[str, ColumnSpec]) -> DataFrame:
    """Upcast numeric columns to their category's widest type before
    range checks (reference: conversion.py:214-253). Exact decimals
    are exempt: their probes try_cast to the DECLARED precision/scale
    directly, and an intermediate Decimal(38,18) widening would
    overflow legal high-precision values (10^21 into NUMERIC(38,0))
    and abort the validation job under ANSI mode.

    ``try_cast``: e.g. double NaN into an integer category throws under
    ANSI CAST; the pipeline's pre-upcast non-null counts convert the
    resulting NULL into ``DataframeColumnInvalidValue``."""
    casts = {}
    for col, spec in specs.items():
        if spec.rule.sql_category == "exact_decimal_numeric":
            continue
        widest = WIDEST_SPARK_TYPE.get(spec.rule.sql_category)
        if widest is not None and not isinstance(
            df.schema[col].dataType, (T.StringType,)
        ):
            casts[col] = (
                f"try_cast({_bq(col)} AS {widest.simpleString()}) AS {_bq(col)}"
            )
    return df.selectExpr(*_full_select(df, casts)) if casts else df


def _full_select(df: DataFrame, replacements: dict[str, str]) -> list[str]:
    """Column-positional select list replacing some columns with SQL
    expression text — the ``withColumns`` shape (same names, same
    order) at one py4j round trip per column instead of one per
    Column operator."""
    return [
        replacements.get(c, _bq(c)) for c in df.columns
    ]


_GUID_RE = (
    "^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}"
    "-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$"
)

_DECIMAL_SQL_TYPES = ("numeric", "decimal", "money", "smallmoney")


def _decimal_target(spec: ColumnSpec) -> T.DecimalType:
    if spec.sql_type == "money":
        return T.DecimalType(19, 4)
    if spec.sql_type == "smallmoney":
        return T.DecimalType(10, 4)
    return T.DecimalType(
        spec.size or 18, spec.scale if spec.scale is not None else 0
    )


def _build_validation_aggs(
    df: DataFrame,
    specs: dict[str, ColumnSpec],
    not_nullable: list[str],
    bounds_col: Optional[list[str]] = None,
) -> tuple[list[str], dict]:
    """Build the validation aggregate expressions (SQL text) and the
    context `_apply_validation_row` needs to interpret the resulting
    row; the pipeline attaches them as ``observe()`` metrics on the
    staging write instead of running a separate source pass.

    Scale note: every term is an algebraic aggregate with a map-side
    partial (min/max/sum-style); at 100 TB this is a single scan +
    lightweight final reduce.

    The aggregate expressions are built as SQL TEXT and submitted in
    one ``selectExpr`` (guide §1.2 driver-side plan cost): the stacked
    Column-operator form crossed the py4j boundary once per operator —
    several hundred driver round trips per write at ~0.3–2 ms each —
    while the text form pays one round trip per aggregate. The parsed
    expression trees (and therefore results) are identical.
    """
    aggs: list[str] = []
    range_checks: list[tuple] = []   # (col, kind, lo, hi)
    unicode_cols: list[str] = []
    dchg_cols: list[tuple] = []      # (col, precision-scale string)
    bad_cols: list[str] = []

    for col, spec in specs.items():
        rule = spec.rule
        q = _bq(col)
        dt = df.schema[col].dataType
        if rule.sql_category in (
            "boolean",
            "exact_whole_numeric",
            "approximate_decimal_numeric",
            "date_time",
        ) and rule.min_value is not None:
            probe = q
            if isinstance(dt, T.StringType):
                # a string source's raw min/max are lexicographic and
                # incomparable with the rule bounds — the comparison
                # below would TypeError and silently skip the range
                # check ('10000' into tinyint stored unchecked).
                # Probe the parsed value instead; unparseable strings
                # are flagged by the __bad try_cast probe.
                wt = (
                    WIDEST_SPARK_TYPE.get(rule.sql_category)
                    or spec.spark_type
                )
                probe = f"try_cast({q} AS {wt.simpleString()})"
            aggs += [
                f"min({probe}) AS {_bq(f'{col}__min')}",
                f"max({probe}) AS {_bq(f'{col}__max')}",
            ]
            range_checks.append((col, "range", rule.min_value, rule.max_value))
        elif rule.sql_category == "character string" and spec.size:
            aggs.append(f"max(length({q})) AS {_bq(f'{col}__len')}")
            range_checks.append((col, "length", None, spec.size))
        elif rule.sql_category == "binary" and spec.size:
            aggs.append(f"max(octet_length({q})) AS {_bq(f'{col}__len')}")
            range_checks.append((col, "length", None, spec.size))

        if spec.sql_type in ("char", "varchar"):
            unicode_cols.append(col)
            aggs.append(
                f"max(CAST((length({q}) != octet_length({q})) AS INT)) "
                f"AS {_bq(f'{col}__uni')}"
            )

        if spec.sql_type == "uniqueidentifier":
            # malformed GUIDs are invalid values, not length errors
            aggs.append(
                f"max(CAST(({q} IS NOT NULL AND NOT (CAST({q} AS STRING) "
                f"RLIKE {_sq(_GUID_RE)})) AS INT)) AS {_bq(f'{col}__bad')}"
            )
            bad_cols.append(col)

        if spec.sql_type in _DECIMAL_SQL_TYPES:
            target = _decimal_target(spec)
            ts = target.simpleString()
            # rounding-changed flag (warning gate): try_cast keeps it
            # NULL-safe under ANSI mode too — a plain cast of an
            # overflowing or malformed value would ABORT the whole
            # validation job instead of deferring to the __bad probe
            # below, which owns the error contract.
            aggs.append(
                f"max(CAST(({q} IS NOT NULL AND (try_cast({q} AS DOUBLE) "
                f"!= try_cast(try_cast({q} AS {ts}) AS DOUBLE))) AS INT)) "
                f"AS {_bq(f'{col}__dchg')}"
            )
            dchg_cols.append((col, f"({target.precision},{target.scale})"))
            aggs.append(
                f"max(CAST(({q} IS NOT NULL AND try_cast({q} AS {ts}) "
                f"IS NULL) AS INT)) AS {_bq(f'{col}__bad')}"
            )
            bad_cols.append(col)
        elif isinstance(dt, T.StringType) and not isinstance(
            spec.spark_type, T.StringType
        ):
            # string source into a non-string target: flag values the
            # cast cannot convert (would otherwise become silent NULLs)
            aggs.append(
                f"max(CAST(({q} IS NOT NULL AND try_cast({q} AS "
                f"{spec.spark_type.simpleString()}) IS NULL) AS INT)) "
                f"AS {_bq(f'{col}__bad')}"
            )
            bad_cols.append(col)

    for col in not_nullable:
        aggs.append(
            f"max(CAST(({_bq(col)} IS NULL) AS INT)) AS {_bq(f'{col}__nul')}"
        )

    for i, c in enumerate(bounds_col or []):
        bc = _bq(c)
        if c in specs and specs[c].sql_type == "uniqueidentifier":
            # bounds must describe the STORED form: GUIDs are
            # canonicalized to uppercase by _prepare_values AFTER this
            # agg, and lowercase bounds vs uppercase manifest stats
            # would declare every file disjoint — pruning away files
            # that DO hold matching keys (silently dropped updates,
            # duplicate primary keys)
            bc = f"upper(CAST({bc} AS STRING))"
        aggs += [
            f"min({bc}) AS `__bounds_lo_{i}`",
            f"max({bc}) AS `__bounds_hi_{i}`",
        ]

    ctx = {
        "range_checks": range_checks,
        "unicode_cols": unicode_cols,
        "dchg_cols": dchg_cols,
        "bad_cols": bad_cols,
        "not_nullable": not_nullable,
        "bounds_col": bounds_col,
    }
    return aggs, ctx


def _apply_validation_row(row: dict, ctx: dict):
    """Interpret one validation-aggregate row: raise on violations,
    emit the rounding warning, return the requested pruning bounds."""
    range_checks = ctx["range_checks"]
    unicode_cols = ctx["unicode_cols"]
    dchg_cols = ctx["dchg_cols"]
    bad_cols = ctx["bad_cols"]
    not_nullable = ctx["not_nullable"]
    bounds_col = ctx["bounds_col"]

    errors = []
    for col, kind, lo, hi in range_checks:
        if kind == "range":
            vmin, vmax = row[f"{col}__min"], row[f"{col}__max"]
            if vmin is None:
                continue
            try:
                too_small = lo is not None and vmin < lo
                too_big = hi is not None and vmax > hi
            except TypeError:
                continue  # incomparable (e.g. interval vs timedelta bound)
            if too_small or too_big:
                errors.append(
                    f"column {col!r}: allowed range [{lo}, {hi}], "
                    f"actual range [{vmin}, {vmax}]"
                )
        else:
            ln = row[f"{col}__len"]
            if ln is not None and ln > hi:
                errors.append(
                    f"column {col!r}: max allowed size {hi}, actual {ln}"
                )
    if errors:
        raise SQLInsufficientColumnSize("; ".join(errors))

    bad_unicode = [c for c in unicode_cols if row.get(f"{c}__uni") == 1]
    if bad_unicode:
        raise SQLNonUnicodeTypeColumn(
            f"non-ASCII content in non-unicode column(s): {bad_unicode} "
            f"(use nchar/nvarchar for unicode)"
        )

    invalid = [c for c in bad_cols if row.get(f"{c}__bad") == 1]
    if invalid:
        raise DataframeColumnInvalidValue(
            f"column(s) {invalid} contain values that cannot be converted "
            f"to their declared SQL type"
        )

    null_violations = [c for c in not_nullable if row.get(f"{c}__nul") == 1]
    if null_violations:
        raise DataframeColumnInvalidValue(
            f"NULL in NOT NULL column(s): {null_violations}"
        )

    for col, ps in dchg_cols:
        if row.get(f"{col}__dchg") == 1:
            # warning contract: reference conversion.py:591-608
            logger.warning(
                "Column %r values rounded to precision and scale %s", col, ps
            )

    if bounds_col is None:
        return None
    return {
        c: (row[f"__bounds_lo_{i}"], row[f"__bounds_hi_{i}"])
        for i, c in enumerate(bounds_col)
    }


def _prepare_values(df: DataFrame, specs: dict[str, ColumnSpec]) -> DataFrame:
    """Precision adjustments (pure transformations — the warning probes
    ran inside the single validation agg). String-typed temporal
    sources are parsed BEFORE the grid rounding so the same logical
    value stores identically whether it arrived as a timestamp or a
    string (unparseable strings were already rejected by the __bad
    probe). One projection total (withColumns), not one per column.

    ``try_cast`` where a plain ANSI ``CAST`` could abort the executing
    job: the violation checks are applied only after it (they ride the
    write as ``observe()`` metrics), so the pipeline itself must never
    throw; every value a try_cast silently NULLs is caught by the
    pipeline's non-null-count invariant."""
    _TS = (T.TimestampType, T.TimestampNTZType)
    casts = {}
    for col, spec in specs.items():
        dt = df.schema[col].dataType
        q = _bq(col)
        if spec.sql_type in _DECIMAL_SQL_TYPES:
            casts[col] = (
                f"try_cast({q} AS {_decimal_target(spec).simpleString()}) AS {q}"
            )
        elif spec.sql_type == "uniqueidentifier":
            # canonical upper-case GUID rendering (SQL Server compares
            # case-insensitively and renders upper)
            casts[col] = f"upper(CAST({q} AS STRING)) AS {q}"
        elif spec.sql_type == "smalldatetime" and isinstance(
            dt, (*_TS, T.StringType)
        ):
            src = q
            if isinstance(dt, T.StringType):
                src = f"try_cast({q} AS TIMESTAMP_NTZ)"
            casts[col] = f"({_smalldatetime_grid_sql(src)}) AS {q}"
        elif spec.sql_type == "datetime" and isinstance(
            dt, (*_TS, T.StringType)
        ):
            # round ms to SQL Server DATETIME's .000/.003/.007 grid
            # (reference: conversion.py:448-483, increments at 460-471)
            src = q
            if isinstance(dt, T.StringType):
                src = f"try_cast({q} AS TIMESTAMP_NTZ)"
            casts[col] = f"({_datetime_grid_sql(src)}) AS {q}"
        elif spec.sql_type == "binary" and spec.size:
            # right-pad binary(n) with 0x00 (reference: conversion.py:611-620)
            casts[col] = (
                f"CASE WHEN {q} IS NOT NULL THEN concat({q}, "
                f"CAST(repeat(X'00', {spec.size} - octet_length({q})) "
                f"AS BINARY)) END AS {q}"
            )
    return df.selectExpr(*_full_select(df, casts)) if casts else df


def _datetime_grid_sql(src: str) -> str:
    """Legacy DATETIME rounds milliseconds to the nearest of
    {.xx0, .xx3, .xx7} (reference: conversion.py:460-471) — SQL text
    form of the former Column builder (same expression tree, one py4j
    round trip instead of ~30).

    Exact integer arithmetic throughout: a double intermediate would
    lose precision above 2^53 µs (~year 2255), and Spark 4 refuses
    TIMESTAMP_NTZ -> DOUBLE casts outright. The NTZ wall clock is
    preserved because the session timezone is pinned to UTC.
    Textual duplication of the sub-terms mirrors the Column form —
    reusing a Column object also copies its expression subtree."""
    micros = f"unix_micros(CAST({src} AS TIMESTAMP))"
    r = f"pmod({micros}, 1000)"
    # (micros - r) is a multiple of 1000; the quotient < 2^53 so the
    # double division below is exact
    base = f"CAST(({micros} - {r}) / 1000 AS LONG)"
    ms = f"({base} + CASE WHEN {r} >= 500 THEN 1 ELSE 0 END)"
    last = f"pmod({ms}, 10)"
    snapped = (
        f"CASE WHEN {last} <= 1 THEN {ms} - {last} "
        f"WHEN {last} <= 4 THEN {ms} - {last} + 3 "
        f"WHEN {last} <= 8 THEN {ms} - {last} + 7 "
        f"ELSE {ms} - {last} + 10 END"
    )
    return f"CAST(timestamp_micros(({snapped}) * 1000) AS TIMESTAMP_NTZ)"


def _smalldatetime_grid_sql(src: str) -> str:
    """smalldatetime rounds to the MINUTE: second parts of 29.998 s or
    less round down, 29.999 s or more round up (SQL Server contract);
    the boundary lands at 29.9985 s. Integer µs arithmetic — same
    exactness argument as the DATETIME grid above."""
    micros = f"unix_micros(CAST({src} AS TIMESTAMP))"
    m = f"pmod({micros}, 60000000)"
    rounded = (
        f"{micros} - {m} + CASE WHEN {m} >= 29998500 "
        "THEN 60000000 ELSE 0 END"
    )
    return f"CAST(timestamp_micros({rounded}) AS TIMESTAMP_NTZ)"


def _cast_to_rules(df: DataFrame, specs: dict[str, ColumnSpec]) -> DataFrame:
    # one projection for every column — a withColumn loop builds one
    # nested Project per column: O(n²) analyzer work on wide tables.
    # SQL text, one round trip per column (specs covers every column:
    # precheck_dataframe_deferred builds it from df.columns).
    # try_cast: see _prepare_values.
    return df.selectExpr(*[
        f"try_cast({_bq(col)} AS {spec.spark_type.simpleString()}) AS {_bq(col)}"
        for col, spec in specs.items()
    ])
