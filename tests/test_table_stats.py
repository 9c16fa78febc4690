"""read.table_stats: metadata-only COUNT/MIN/MAX from manifest footer
stats. Exactness is proven against real scans; untracked or
stale-stats columns must refuse, never estimate."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mssql_dataframe_spark import errors


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [Row(id=i, v=i * 10) for i in range(lo, hi)], "id long, v long"
    )


def test_stats_match_data_and_refresh_on_writes(engine, spark):
    engine.create.table(
        "dbo.ts", {"id": "bigint", "v": "bigint"}, primary_key_column="id"
    )
    engine.write.insert("dbo.ts", _df(spark, 0, 100))
    engine.write.insert("dbo.ts", _df(spark, 500, 600))
    rows = {r["column"]: r for r in
            engine.read.table_stats("dbo.ts", ["id"]).collect()}
    assert rows["id"]["n_rows"] == 200
    assert rows["id"]["min"] == "0" and rows["id"]["max"] == "599"


def test_untracked_column_refuses(engine, spark):
    engine.create.table(
        "dbo.ts2", {"id": "bigint", "v": "bigint"}, primary_key_column="id"
    )
    engine.write.insert("dbo.ts2", _df(spark, 0, 10))
    with pytest.raises(ValueError, match="not stats-tracked"):
        engine.read.table_stats("dbo.ts2", ["v"])
    with pytest.raises(errors.SQLColumnDoesNotExist):
        engine.read.table_stats("dbo.ts2", ["ghost"])


def test_pre_tracking_files_refuse_until_optimize(engine, spark):
    engine.create.table(
        "dbo.ts3", {"id": "bigint", "v": "bigint"}, primary_key_column="id"
    )
    engine.write.insert("dbo.ts3", _df(spark, 0, 50))  # v not tracked yet
    meta = engine.store.meta("dbo.ts3")
    props = dict(meta.properties)
    props["stats_columns"] = ["v"]
    engine.store.update_meta("dbo.ts3", properties=props)
    with pytest.raises(ValueError, match="no 'v' bounds"):
        engine.read.table_stats("dbo.ts3", ["v"])
    engine.store.optimize("dbo.ts3", small_file_rows=10_000_000)
    rows = {r["column"]: r for r in
            engine.read.table_stats("dbo.ts3", ["v"]).collect()}
    assert rows["v"]["min"] == "0" and rows["v"]["max"] == "490"
    assert rows["v"]["n_rows"] == 50


def test_many_file_commit_harvests_stats_distributed(engine, spark):
    """A >32-file commit takes the distributed footer-harvest path;
    every manifest entry still carries rows + key bounds."""
    from pyspark.sql import Row

    engine.create.table(
        "dbo.manyf", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )
    df = spark.createDataFrame(
        [Row(id=i, v=i % 7) for i in range(400)], "id long, v int"
    ).repartition(40)
    engine.write.insert("dbo.manyf", df)
    meta = engine.store.meta("dbo.manyf")
    ents = engine.store.manifest("dbo.manyf", meta.version)
    assert len(ents) > 32
    assert sum(e["rows"] for e in ents) == 400
    assert all(e["min"] is not None and e["max"] is not None for e in ents)
    lo = min(e["min"] for e in ents)
    hi = max(e["max"] for e in ents)
    assert (lo, hi) == (0, 399)


def test_string_stats_bounds_truncated_but_valid(engine, spark):
    """Long string stats truncate to 64 chars in the manifest (MIN to a
    prefix, MAX truncate+increment), so manifests stay O(files) small
    — and range pruning on the widened bounds stays CORRECT: a file is
    never pruned for a key it contains."""
    from pyspark.sql import Row

    long_a = "a" * 200
    long_z = "z" * 200
    engine.create.table(
        "dbo.strst", {"k": "varchar(300)", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.strst",
        spark.createDataFrame(
            [Row(k=long_a, v=1), Row(k=long_z, v=2)], "k string, v long"
        ),
    )
    meta = engine.store.meta("dbo.strst")
    ents = engine.store.manifest("dbo.strst", meta.version)
    bs = [
        (e.get("stats") or {}).get("k") or (e.get("min"), e.get("max"))
        for e in ents
    ]
    for b in bs:
        assert b[0] is not None and len(b[0]) <= 64
        assert len(b[1]) <= 65  # 64 + possible increment carry char
    # table-wide bounds stay OUTER bounds of the actual values
    assert min(b[0] for b in bs) <= long_a
    assert max(b[1] for b in bs) >= long_z
    # pruning with the widened bounds keeps the containing file
    touched, kept = engine.store.split_by_key_ranges(
        engine.store.snapshot("dbo.strst"), {"k": (long_z, long_z)}
    )
    assert touched, "file holding the key must stay touched"
    # and a provably-disjoint range still prunes
    touched2, kept2 = engine.store.split_by_key_ranges(
        engine.store.snapshot("dbo.strst"), {"k": ("~~~", "~~~~")}
    )
    assert kept2 and not touched2


def test_table_stats_refuses_truncated_string_bounds(engine, spark):
    """Metadata MIN/MAX must refuse when a string bound may be
    truncated (>= 64 chars) — a widened bound is valid for pruning but
    is not a value guaranteed to exist in the data."""
    from pyspark.sql import Row

    engine.create.table(
        "dbo.strtr", {"k": "varchar(300)", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.strtr",
        spark.createDataFrame(
            [Row(k="b" * 200, v=1), Row(k="c" * 200, v=2)],
            "k string, v long",
        ),
    )
    with pytest.raises(ValueError, match="truncated"):
        engine.read.table_stats("dbo.strtr", columns=["k"]).collect()
    # short string keys still answer exactly
    engine.create.table(
        "dbo.strok", {"k": "varchar(10)", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.strok",
        spark.createDataFrame(
            [Row(k="aa", v=1), Row(k="zz", v=2)], "k string, v long"
        ),
    )
    row = {
        r["column"]: (r["min"], r["max"])
        for r in engine.read.table_stats("dbo.strok", columns=["k"]).collect()
    }
    assert row["k"] == ("aa", "zz")
