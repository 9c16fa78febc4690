"""``write.ingest_directory``: incremental file-discovery ingestion —
the Auto Loader / COPY INTO pattern. Each call ingests exactly the
files that have APPEARED in a landing directory since the last call;
already-ingested files are remembered in table properties and never
re-read or double-counted, so repeated invocation is idempotent over
a growing directory (the landing-zone contract: files are immutable
once written; appends arrive as new files).

Scale shape: discovery is one driver-side listing (object-store
LIST on a cluster — at very large file counts a real Auto Loader
switches to notification queues; the ledger here is the file-names
list, O(files) metadata). The read that follows passes ONLY the new
files to the scan, so ingest cost is ∝ new data. The append itself
rides the standard insert path (validation, constraints, identity,
computed columns all apply).
"""

from __future__ import annotations

import os

from ...store import TableStore
from .insert import insert


def _list_data_files(path: str, suffix: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(path):
        # prune hidden/temp DIRECTORIES too (_temporary, .spark-staging
        # etc.): a writer's in-flight part files would otherwise be
        # ingested under their staging relpath and then AGAIN under
        # their committed relpath — duplicated rows plus a ledger entry
        # for a path that stops existing
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(suffix) and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def _csv_header(file_path: str) -> tuple[str, ...]:
    """First-line column names of one CSV file (RFC-4180 parsed)."""
    import csv as _csv

    with open(file_path, newline="") as fh:
        for row in _csv.reader(fh):
            return tuple(row)
    return ()


def _read_csv_by_name(spark, files: list[str], read_schema, path: str):
    """Read a CSV batch safely under per-file header variation.

    Files are grouped by their exact header tuple; each group is read
    with header=True (uniform within the group, so Spark's positional
    mapping is correct there), columns are selected by declared NAME
    and cast, and the groups are unioned by name. A file whose header
    lacks a declared column fails loudly instead of scrambling.
    """
    from pyspark.sql import functions as F

    groups: dict[tuple[str, ...], list[str]] = {}
    for f in files:
        groups.setdefault(_csv_header(f), []).append(f)
    parts = []
    for header, group in sorted(groups.items()):
        by_lower: dict[str, str] = {}
        for c in header:
            if c.lower() in by_lower:
                raise ValueError(
                    f"CSV header {list(header)} (files {group}) has "
                    f"case-colliding columns {by_lower[c.lower()]!r} and "
                    f"{c!r}; by-name mapping would silently pick one"
                )
            by_lower[c.lower()] = c
        missing = [
            fld.name for fld in read_schema.fields
            if fld.name.lower() not in by_lower
        ]
        if missing:
            raise ValueError(
                f"CSV header {list(header)} in {path!r} (files {group}) "
                f"is missing declared column(s) {missing}"
            )
        raw = spark.read.option("header", True).csv(group)
        parts.append(
            raw.select(
                *[
                    F.col(by_lower[fld.name.lower()])
                    .cast(fld.dataType)
                    .alias(fld.name)
                    for fld in read_schema.fields
                ]
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def ingest_directory(
    store: TableStore,
    table_name: str,
    path: str,
    file_format: str = "parquet",
    include_metadata_timestamps: bool = False,
) -> int:
    """Ingest files not seen before; returns how many files were read.
    A call that discovers nothing new writes nothing (no commit)."""
    snap = store.snapshot(table_name)
    meta = snap.meta
    suffix = "." + file_format
    listed = _list_data_files(path, suffix)
    seen = set(meta.properties.get("ingested_files") or [])
    new_files = [f for f in listed if os.path.relpath(f, path) not in seen]
    if not new_files:
        return 0
    # engine-managed columns never come from landed files: computed
    # columns are engine-recomputed (explicit writes are rejected),
    # the identity column is engine-assigned, and _time_* metadata is
    # stamped by the insert — reading them as declared-schema NULLs
    # would trip exactly those contracts.
    managed = set(meta.properties.get("computed_columns") or {})
    if meta.identity_column:
        managed.add(meta.identity_column)
    managed.update(c for c in meta.spark_schema.fieldNames()
                   if c.startswith("_time_"))
    from pyspark.sql import types as T

    read_schema = T.StructType(
        [f for f in meta.spark_schema.fields if f.name not in managed]
    )
    reader = store.spark.read.schema(read_schema)
    if file_format == "parquet":
        df = reader.parquet(*new_files)
    elif file_format == "json":
        df = reader.json(new_files)
    elif file_format == "csv":
        # CSV + explicit schema maps columns BY POSITION (the header
        # row is skipped, not matched), and even header-inferred reads
        # unify a multi-file batch by the FIRST file's header — a later
        # file with a different column order would silently scramble
        # values. So: group the batch by each file's actual header
        # (one driver-side first-line read per NEW file, the same
        # O(new files) metadata cost as the discovery listing), read
        # each header-group separately, map columns BY NAME within the
        # group, then union the groups by name.
        df = _read_csv_by_name(store.spark, new_files, read_schema, path)
    else:
        raise ValueError(f"unsupported ingest format {file_format!r}")
    ledger = sorted(seen | {os.path.relpath(f, path) for f in new_files})
    # the ledger rides the SAME meta write as the data commit — a crash
    # cannot land rows without their files being remembered — and the
    # commit lands only on the snapshot the ledger was read from, so a
    # concurrent ingest of the same files fails this one instead of
    # loading them twice (the idempotency contract above)
    insert(
        store, table_name, df, include_metadata_timestamps,
        extra_properties={"ingested_files": ledger},
        expected_version=snap.version,
    )
    return len(new_files)
