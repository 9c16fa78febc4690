"""PRIMARY KEY enforcement on INSERT (SQL Server raises "Violation of
PRIMARY KEY constraint"; the reference surfaces that server error —
reference create.py:148 declares real PKs). Scale shape under test:
the batch-internal duplicate check rides the single validation agg,
and the existing-table collision check is a keys-only semi join
stats-PRUNED to intersecting files — an append beyond the current key
range must read zero existing files."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mssql_dataframe_spark import errors


def test_batch_internal_duplicate_pk_raises(engine, spark):
    engine.create.table("dbo.pk1", {"k": "bigint", "v": "bigint"},
                        primary_key_column="k")
    with pytest.raises(errors.SQLUniqueConstraintViolation, match="PRIMARY KEY"):
        engine.write.insert(
            "dbo.pk1",
            spark.createDataFrame(
                [Row(k=1, v=10), Row(k=1, v=11)], "k long, v long"
            ),
        )
    assert engine.read.table("dbo.pk1").count() == 0  # nothing committed


def test_insert_colliding_with_existing_pk_raises(engine, spark):
    engine.create.table("dbo.pk2", {"k": "bigint", "v": "bigint"},
                        primary_key_column="k")
    engine.write.insert(
        "dbo.pk2",
        spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)], "k long, v long"),
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation, match="PRIMARY KEY"):
        engine.write.insert(
            "dbo.pk2", spark.createDataFrame([Row(k=2, v=99)], "k long, v long")
        )
    # disjoint keys append fine
    engine.write.insert(
        "dbo.pk2", spark.createDataFrame([Row(k=3, v=30)], "k long, v long")
    )
    assert engine.read.table("dbo.pk2").count() == 3


def test_composite_pk_enforced(engine, spark):
    engine.create.table(
        "dbo.pk3", {"a": "bigint", "b": "bigint", "v": "bigint"},
        primary_key_column=["a", "b"],
    )
    engine.write.insert(
        "dbo.pk3",
        spark.createDataFrame([Row(a=1, b=1, v=0), Row(a=1, b=2, v=0)],
                              "a long, b long, v long"),
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation, match="PRIMARY KEY"):
        engine.write.insert(
            "dbo.pk3",
            spark.createDataFrame([Row(a=1, b=2, v=9)], "a long, b long, v long"),
        )
    # same a, new b is a distinct composite key
    engine.write.insert(
        "dbo.pk3",
        spark.createDataFrame([Row(a=1, b=3, v=9)], "a long, b long, v long"),
    )
    assert engine.read.table("dbo.pk3").count() == 3


def test_identity_pk_appends_skip_checks(engine, spark):
    """Engine-assigned identity PKs are unique by construction — the
    insert must not pay any PK-check jobs (and must still work)."""
    engine.create.table(
        "dbo.pk4", {"v": "bigint"}, primary_key_column=None,
        sql_primary_key=True,
    )
    for _ in range(3):
        engine.write.insert(
            "dbo.pk4", spark.createDataFrame([Row(v=1)], "v long")
        )
    got = [r["_pk"] for r in engine.read.table("dbo.pk4").collect()]
    assert sorted(got) == [1, 2, 3]


def test_out_of_range_append_prunes_existing_scan(engine, spark):
    """The collision semi join must stats-prune: a batch whose key
    range is beyond every file's range reads zero existing files.
    Pinned via the key-range split the check consults."""
    engine.create.table("dbo.pk5", {"k": "bigint", "v": "bigint"},
                        primary_key_column="k")
    engine.write.insert(
        "dbo.pk5",
        spark.createDataFrame([Row(k=i, v=i) for i in range(100)],
                              "k long, v long"),
    )
    touched, kept = engine.store.split_by_key_ranges(
        engine.store.snapshot("dbo.pk5"), {"k": (1000, 1100)}
    )
    assert touched == [] and kept, "stats split must exclude all files"
    engine.write.insert(
        "dbo.pk5",
        spark.createDataFrame([Row(k=i, v=i) for i in range(1000, 1100)],
                              "k long, v long"),
    )
    assert engine.read.table("dbo.pk5").count() == 200


def test_update_via_non_pk_match_cannot_duplicate_pk(engine, spark):
    """UPDATE matching on a non-PK column may rewrite PK columns; the
    write must still enforce PK uniqueness (SQL Server does)."""
    engine.create.table(
        "dbo.pk6", {"k": "bigint", "tag": "varchar(8)"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.pk6",
        spark.createDataFrame(
            [Row(k=1, tag="a"), Row(k=2, tag="b")], "k long, tag string"
        ),
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.update(
            "dbo.pk6",
            spark.createDataFrame([Row(tag="a", k=2)], "tag string, k long"),
            match_columns=["tag"],
        )
    # rewriting to a FRESH key value is legal
    engine.write.update(
        "dbo.pk6",
        spark.createDataFrame([Row(tag="a", k=7)], "tag string, k long"),
        match_columns=["tag"],
    )
    assert sorted(
        r["k"] for r in engine.read.table("dbo.pk6").collect()
    ) == [2, 7]


def test_pk_not_enforced_property_opts_out(engine, spark):
    """Delta/Synapse-style PRIMARY KEY NOT ENFORCED: the
    ``pk_not_enforced`` table property turns the PK informational —
    duplicate inserts pass and cost nothing extra."""
    engine.create.table(
        "dbo.pkn", {"k": "bigint", "v": "bigint"},
        primary_key_column="k", properties={"pk_not_enforced": True},
    )
    engine.write.insert(
        "dbo.pkn",
        spark.createDataFrame(
            [Row(k=1, v=10), Row(k=1, v=11)], "k long, v long"
        ),
    )
    assert engine.read.table("dbo.pkn").count() == 2
