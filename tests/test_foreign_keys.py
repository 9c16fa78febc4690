"""FOREIGN KEY constraints (beyond-reference; warehouses usually
declare FKs NOT ENFORCED — this engine audits existing rows on ADD
with one keys-only anti join and enforces on every write). SQL MATCH
SIMPLE semantics: a row with any NULL FK column passes."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mssql_dataframe_spark import errors


def _parent(spark):
    return spark.createDataFrame(
        [Row(pk=i, name=f"p{i}") for i in (1, 2, 3)], "pk long, name string"
    )


def _child(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, ref=r) for i, r in rows], "id long, ref long"
    )


def _mk(engine, spark, child_rows=((10, 1), (11, 2))):
    engine.create.table(
        "dbo.par", {"pk": "bigint", "name": "varchar(20)"},
        primary_key_column="pk",
    )
    engine.write.insert("dbo.par", _parent(spark))
    engine.create.table(
        "dbo.chi", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.write.insert("dbo.chi", _child(spark, child_rows))


def test_add_audits_then_enforces_insert(engine, spark):
    _mk(engine, spark)
    engine.modify.foreign_key(
        "dbo.chi", "add", "fk_par",
        columns="ref", ref_table="dbo.par", ref_columns="pk",
    )
    engine.write.insert("dbo.chi", _child(spark, [(12, 3)]))  # valid
    with pytest.raises(errors.SQLForeignKeyViolation, match="fk_par"):
        engine.write.insert("dbo.chi", _child(spark, [(13, 99)]))
    # enforcement precedes the commit: the orphan batch left no trace
    assert engine.read.table("dbo.chi").count() == 3


def test_add_blocked_on_existing_orphans(engine, spark):
    _mk(engine, spark, child_rows=((10, 1), (11, 77)))  # 77 is an orphan
    with pytest.raises(errors.SQLForeignKeyViolation, match="fk_par"):
        engine.modify.foreign_key(
            "dbo.chi", "add", "fk_par",
            columns="ref", ref_table="dbo.par", ref_columns="pk",
        )


def test_null_fk_passes_match_simple(engine, spark):
    _mk(engine, spark)
    engine.modify.foreign_key(
        "dbo.chi", "add", "fk_par",
        columns="ref", ref_table="dbo.par", ref_columns="pk",
    )
    engine.write.insert("dbo.chi", _child(spark, [(14, None)]))
    assert engine.read.table("dbo.chi").count() == 3


def test_update_enforced_and_drop_releases(engine, spark):
    _mk(engine, spark)
    engine.modify.foreign_key(
        "dbo.chi", "add", "fk_par",
        columns="ref", ref_table="dbo.par", ref_columns="pk",
    )
    with pytest.raises(errors.SQLForeignKeyViolation):
        engine.write.update("dbo.chi", _child(spark, [(10, 55)]))
    engine.modify.foreign_key("dbo.chi", "drop", "fk_par")
    engine.write.update("dbo.chi", _child(spark, [(10, 55)]))
    vals = {
        r["ref"] for r in engine.read.table("dbo.chi").collect()
    }
    assert 55 in vals


def test_parent_delete_blocked_while_referenced(engine, spark):
    _mk(engine, spark)
    engine.modify.foreign_key(
        "dbo.chi", "add", "fk_par",
        columns="ref", ref_table="dbo.par", ref_columns="pk",
    )
    # pk=1 is referenced by child (10, 1): both delete verbs must block
    with pytest.raises(errors.SQLForeignKeyViolation, match="NO ACTION"):
        engine.write.delete(
            "dbo.par",
            spark.createDataFrame([Row(pk=1)], "pk long"),
        )
    with pytest.raises(errors.SQLForeignKeyViolation, match="NO ACTION"):
        engine.write.delete_where("dbo.par", "pk = 1")
    # pk=3 is unreferenced: delete proceeds
    assert engine.write.delete_where("dbo.par", "pk = 3") == 1
    # dropping the FK releases the parent
    engine.modify.foreign_key("dbo.chi", "drop", "fk_par")
    assert engine.write.delete_where("dbo.par", "pk = 1") == 1


def test_on_delete_cascade_chain(engine, spark):
    """ON DELETE CASCADE: deleting a parent row deletes matching child
    rows first, recursively through grandchildren; children commit
    before the parent so the FK invariant holds at every version."""
    _mk(engine, spark)  # par(pk 1,2,3), chi(10->1, 11->2)
    engine.create.table(
        "dbo.gra", {"gid": "bigint", "cref": "bigint"}, primary_key_column="gid"
    )
    engine.write.insert(
        "dbo.gra",
        spark.createDataFrame(
            [Row(gid=100, cref=10), Row(gid=101, cref=11)], "gid long, cref long"
        ),
    )
    engine.modify.foreign_key(
        "dbo.chi", "add", "fk_par",
        columns="ref", ref_table="dbo.par", ref_columns="pk",
        on_delete="cascade",
    )
    engine.modify.foreign_key(
        "dbo.gra", "add", "fk_chi",
        columns="cref", ref_table="dbo.chi", ref_columns="id",
        on_delete="cascade",
    )
    assert engine.write.delete_where("dbo.par", "pk = 1") == 1
    assert sorted(r["pk"] for r in engine.read.table("dbo.par").collect()) == [2, 3]
    assert sorted(r["id"] for r in engine.read.table("dbo.chi").collect()) == [11]
    assert sorted(r["gid"] for r in engine.read.table("dbo.gra").collect()) == [101]


def test_on_delete_set_null(engine, spark):
    _mk(engine, spark)
    engine.modify.foreign_key(
        "dbo.chi", "add", "fk_par",
        columns="ref", ref_table="dbo.par", ref_columns="pk",
        on_delete="set_null",
    )
    assert engine.write.delete(
        "dbo.par", spark.createDataFrame([Row(pk=1)], "pk long")
    ) == 1
    got = {r["id"]: r["ref"] for r in engine.read.table("dbo.chi").collect()}
    assert got == {10: None, 11: 2}


def test_on_delete_set_null_rewrites_only_touched_files(engine, spark):
    """SET NULL is file-pruned like delete_where: child files with no
    matching row carry into the next manifest BY REFERENCE, so the
    rewrite cost is ∝ referencing files, not child-table size."""
    engine.create.table("dbo.parp", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.parp",
        spark.createDataFrame([Row(pk=i) for i in range(4)], "pk long"),
    )
    engine.create.table(
        "dbo.chip", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    # three separate inserts -> three files; only the first references pk=0
    for lo, ref in ((0, 0), (100, 3), (200, 3)):
        engine.write.insert(
            "dbo.chip",
            spark.createDataFrame(
                [Row(id=lo + i, ref=ref) for i in range(5)], "id long, ref long"
            ),
        )
    engine.modify.foreign_key(
        "dbo.chip", "add", "fk_p",
        columns="ref", ref_table="dbo.parp", ref_columns="pk",
        on_delete="set_null",
    )
    n_files_before = len(
        engine.store.manifest("dbo.chip", engine.store.meta("dbo.chip").version)
    )
    assert n_files_before >= 3
    engine.write.delete(
        "dbo.parp", spark.createDataFrame([Row(pk=0)], "pk long")
    )
    meta = engine.store.meta("dbo.chip")
    commits = [
        c for c in engine.store.history("dbo.chip")
        if c.get("operation") == "fk_set_null"
    ]
    assert commits, "set_null must commit with its own op label"
    last = commits[-1]
    assert last["n_files_kept"] >= 2, f"untouched files must carry by reference: {last}"
    got = {r["id"]: r["ref"] for r in engine.read.table("dbo.chip").collect()}
    assert all(v is None for k, v in got.items() if k < 100)
    assert all(v == 3 for k, v in got.items() if k >= 100)


def test_on_delete_cascade_rewrites_only_touched_files(engine, spark):
    """The cascade child delete matches on FK columns (not the child
    PK), so stats pruning can't apply — content-discovered pruning
    must still carry untouched child files by reference."""
    engine.create.table("dbo.parc", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.parc",
        spark.createDataFrame([Row(pk=i) for i in range(4)], "pk long"),
    )
    engine.create.table(
        "dbo.chic", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    for lo, ref in ((0, 0), (100, 3), (200, 3)):
        engine.write.insert(
            "dbo.chic",
            spark.createDataFrame(
                [Row(id=lo + i, ref=ref) for i in range(5)], "id long, ref long"
            ),
        )
    engine.modify.foreign_key(
        "dbo.chic", "add", "fk_c",
        columns="ref", ref_table="dbo.parc", ref_columns="pk",
        on_delete="cascade",
    )
    engine.write.delete(
        "dbo.parc", spark.createDataFrame([Row(pk=0)], "pk long")
    )
    deletes = [
        c for c in engine.store.history("dbo.chic")
        if c.get("operation") == "delete"
    ]
    assert deletes and deletes[-1]["n_files_kept"] >= 2, deletes
    assert sorted(r["id"] for r in engine.read.table("dbo.chic").collect()) == [
        100 + i for i in range(5)
    ] + [200 + i for i in range(5)]


def test_on_delete_set_null_requires_nullable_fk_columns(engine, spark):
    engine.create.table(
        "dbo.parn2", {"pk": "bigint"}, primary_key_column="pk"
    )
    engine.create.table(
        "dbo.chin2", {"id": "bigint", "ref": "bigint"},
        primary_key_column="id", not_nullable=["ref"],
    )
    with pytest.raises(ValueError, match="SET NULL requires nullable"):
        engine.modify.foreign_key(
            "dbo.chin2", "add", "fk_nn",
            columns="ref", ref_table="dbo.parn2", ref_columns="pk",
            on_delete="set_null",
        )
    with pytest.raises(ValueError, match="on_delete must be one of"):
        engine.modify.foreign_key(
            "dbo.chin2", "add", "fk_bad",
            columns="ref", ref_table="dbo.parn2", ref_columns="pk",
            on_delete="restrict",
        )


def test_fk_add_rejects_non_unique_referenced_columns(engine, spark):
    """SQL Server requires PRIMARY KEY/UNIQUE on the referenced
    columns; a duplicated parent key would make delete-restrict and
    child enforcement ill-defined."""
    engine.create.table(
        "dbo.parn", {"pk": "bigint", "grp": "bigint"}, primary_key_column="pk"
    )
    engine.write.insert(
        "dbo.parn",
        spark.createDataFrame(
            [Row(pk=1, grp=10), Row(pk=2, grp=10), Row(pk=3, grp=30)],
            "pk long, grp long",
        ),
    )
    engine.create.table(
        "dbo.chin", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    with pytest.raises(ValueError, match="neither its primary key nor unique"):
        engine.modify.foreign_key(
            "dbo.chin", "add", "fk_grp",
            columns="ref", ref_table="dbo.parn", ref_columns="grp",
        )
    # the PK itself is always accepted without an audit scan
    engine.modify.foreign_key(
        "dbo.chin", "add", "fk_pk",
        columns="ref", ref_table="dbo.parn", ref_columns="pk",
    )


def test_fk_add_accepts_unique_non_pk_referenced_column(engine, spark):
    engine.create.table(
        "dbo.paru", {"pk": "bigint", "code": "bigint"}, primary_key_column="pk"
    )
    engine.write.insert(
        "dbo.paru",
        spark.createDataFrame(
            [Row(pk=1, code=100), Row(pk=2, code=200)], "pk long, code long"
        ),
    )
    engine.create.table(
        "dbo.chiu", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.chiu", "add", "fk_code",
        columns="ref", ref_table="dbo.paru", ref_columns="code",
    )


def test_fk_unique_referenced_columns_stay_unique_durably(engine, spark):
    """Accepting an FK against non-PK parent columns records a durable
    UNIQUE on the parent: a LATER parent insert that duplicates the
    referenced key must fail (SQL Server mandates a PK/UNIQUE
    constraint there, not a point-in-time scan). Dropping the FK
    releases the obligation."""
    engine.create.table(
        "dbo.paru2", {"pk": "bigint", "code": "bigint"}, primary_key_column="pk"
    )
    engine.write.insert(
        "dbo.paru2",
        spark.createDataFrame(
            [Row(pk=1, code=100), Row(pk=2, code=200)], "pk long, code long"
        ),
    )
    engine.create.table(
        "dbo.chiu2", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.chiu2", "add", "fk_code2",
        columns="ref", ref_table="dbo.paru2", ref_columns="code",
    )
    # duplicate-vs-existing: blocked
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.insert(
            "dbo.paru2",
            spark.createDataFrame([Row(pk=3, code=100)], "pk long, code long"),
        )
    # duplicate-within-batch: blocked
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.insert(
            "dbo.paru2",
            spark.createDataFrame(
                [Row(pk=4, code=400), Row(pk=5, code=400)],
                "pk long, code long",
            ),
        )
    # update that collides two parent keys: blocked
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.update(
            "dbo.paru2",
            spark.createDataFrame([Row(pk=2, code=100)], "pk long, code long"),
        )
    # non-colliding writes still pass
    engine.write.insert(
        "dbo.paru2",
        spark.createDataFrame([Row(pk=6, code=600)], "pk long, code long"),
    )
    assert engine.read.table("dbo.paru2").count() == 3
    # dropping the FK releases the parent's implied UNIQUE
    engine.modify.foreign_key("dbo.chiu2", "drop", "fk_code2")
    engine.write.insert(
        "dbo.paru2",
        spark.createDataFrame([Row(pk=7, code=100)], "pk long, code long"),
    )
    assert engine.read.table("dbo.paru2").count() == 4


def test_unique_constraint_api(engine, spark):
    """modify.unique_constraint: add audits existing rows, then writes
    enforce it; drop releases; FK-implied names are protected."""
    engine.create.table(
        "dbo.uqt", {"pk": "bigint", "email": "varchar(40)"},
        primary_key_column="pk",
    )
    engine.write.insert(
        "dbo.uqt",
        spark.createDataFrame(
            [Row(pk=1, email="a@x"), Row(pk=2, email="b@x"),
             Row(pk=3, email=None), Row(pk=4, email=None)],  # NULLs exempt
            "pk long, email string",
        ),
    )
    engine.modify.unique_constraint("dbo.uqt", "add", "uq_email", "email")
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.insert(
            "dbo.uqt",
            spark.createDataFrame([Row(pk=5, email="a@x")], "pk long, email string"),
        )
    # another NULL is always admissible (MATCH SIMPLE-style exemption)
    engine.write.insert(
        "dbo.uqt",
        spark.createDataFrame([Row(pk=6, email=None)], "pk long, email string"),
    )
    engine.modify.unique_constraint("dbo.uqt", "drop", "uq_email")
    engine.write.insert(
        "dbo.uqt",
        spark.createDataFrame([Row(pk=7, email="a@x")], "pk long, email string"),
    )
    assert engine.read.table("dbo.uqt").count() == 6


def test_unique_constraint_add_audits_existing(engine, spark):
    engine.create.table(
        "dbo.uqa", {"pk": "bigint", "code": "bigint"}, primary_key_column="pk"
    )
    engine.write.insert(
        "dbo.uqa",
        spark.createDataFrame(
            [Row(pk=1, code=7), Row(pk=2, code=7)], "pk long, code long"
        ),
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.modify.unique_constraint("dbo.uqa", "add", "uq_code", "code")
    # unknown column / duplicate name / reserved prefix all rejected
    with pytest.raises(errors.SQLColumnDoesNotExist):
        engine.modify.unique_constraint("dbo.uqa", "add", "uq_x", "nope")
    with pytest.raises(ValueError, match="reserved"):
        engine.modify.unique_constraint("dbo.uqa", "add", "uq__fk__z", "pk")


def test_unique_constraint_blocks_column_drop(engine, spark):
    engine.create.table(
        "dbo.uqd", {"pk": "bigint", "code": "bigint"}, primary_key_column="pk"
    )
    engine.modify.unique_constraint("dbo.uqd", "add", "uq_code", "code")
    with pytest.raises(ValueError, match="unique constraint"):
        engine.modify.column("dbo.uqd", "drop", "code")


def test_self_referencing_fk_parent_and_child_in_one_batch(engine, spark):
    """End-of-statement semantics: one insert carrying both a manager
    row and an employee referencing it is valid in SQL Server — the
    check runs against the post-statement state, not the pre-write
    snapshot."""
    engine.create.table(
        "dbo.emp", {"id": "bigint", "mgr": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.emp", "add", "fk_mgr",
        columns="mgr", ref_table="dbo.emp", ref_columns="id",
    )
    engine.write.insert(
        "dbo.emp",
        spark.createDataFrame(
            [Row(id=1, mgr=None), Row(id=2, mgr=1), Row(id=3, mgr=2)],
            "id long, mgr long",
        ),
    )
    assert engine.read.table("dbo.emp").count() == 3
    # an orphan reference still violates
    with pytest.raises(errors.SQLForeignKeyViolation, match="fk_mgr"):
        engine.write.insert(
            "dbo.emp",
            spark.createDataFrame([Row(id=9, mgr=99)], "id long, mgr long"),
        )


def test_cascade_partial_failure_contract(engine, spark):
    """Pin the documented partial-failure contract: cascade chains are
    NOT cross-table atomic — children commit before the parent, so a
    failure between the child commit and the parent commit leaves
    children deleted and the parent intact. The FK invariant (no child
    row references a missing parent) holds at that boundary, and time
    travel can restore the child. SQL Server's cascade is atomic — a
    documented divergence (README / delete.py docstring)."""
    engine.create.table("dbo.cpar", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.cpar",
        spark.createDataFrame([Row(pk=i) for i in range(3)], "pk long"),
    )
    engine.create.table(
        "dbo.cchi", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.cchi", "add", "fk_cpar",
        columns="ref", ref_table="dbo.cpar", ref_columns="pk",
        on_delete="cascade",
    )
    engine.write.insert(
        "dbo.cchi",
        spark.createDataFrame(
            [Row(id=10, ref=0), Row(id=11, ref=1)], "id long, ref long"
        ),
    )
    chi_version_before = engine.store.meta("dbo.cchi").version

    # kill the chain between the child's commit and the parent's: fail
    # every commit against the PARENT table only
    store = engine.store
    orig_replace, orig_over = store.replace_files, store.overwrite

    def _fail_parent(name, *a, **k):
        raise RuntimeError("injected parent-commit failure")

    def replace_files(snap, *a, **k):
        if snap.name == "dbo.cpar":
            return _fail_parent(snap.name)
        return orig_replace(snap, *a, **k)

    def overwrite(snap, *a, **k):
        if snap.name == "dbo.cpar":
            return _fail_parent(snap.name)
        return orig_over(snap, *a, **k)

    store.replace_files, store.overwrite = replace_files, overwrite
    try:
        with pytest.raises(RuntimeError, match="injected parent-commit"):
            engine.write.delete(
                "dbo.cpar", spark.createDataFrame([Row(pk=0)], "pk long")
            )
    finally:
        store.replace_files, store.overwrite = orig_replace, orig_over

    # the documented state: child delete committed, parent intact
    parents = sorted(r["pk"] for r in engine.read.table("dbo.cpar").collect())
    children = {
        r["id"]: r["ref"] for r in engine.read.table("dbo.cchi").collect()
    }
    assert parents == [0, 1, 2]          # parent commit never happened
    assert children == {11: 1}           # cascade child delete DID commit
    # FK invariant holds at the failure boundary
    assert set(children.values()) <= set(parents)
    # and the child commit is an ordinary version: time travel recovers it
    prior = engine.read.table("dbo.cchi", version=chi_version_before)
    assert sorted(r["id"] for r in prior.collect()) == [10, 11]


def test_merge_delete_clause_warns_when_target_fk_referenced(
    engine, spark, caplog
):
    """The WHEN NOT MATCHED BY SOURCE delete clause bypasses ON DELETE
    referential actions (documented divergence) — the bypass must be
    LOUD when the merge target is FK-referenced, and silent when the
    merge cannot delete (upsert=True) or nothing references the
    target."""
    import logging

    engine.create.table("dbo.mpar", {"pk": "bigint", "v": "bigint"},
                        primary_key_column="pk")
    engine.write.insert(
        "dbo.mpar",
        spark.createDataFrame(
            [Row(pk=i, v=i) for i in range(3)], "pk long, v long"
        ),
    )
    engine.create.table(
        "dbo.mchi", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.mchi", "add", "fk_mpar",
        columns="ref", ref_table="dbo.mpar", ref_columns="pk",
    )

    src = spark.createDataFrame([Row(pk=0, v=100)], "pk long, v long")
    with caplog.at_level(logging.WARNING, logger="mssql_dataframe_spark"):
        engine.write.merge("dbo.mpar", src)  # delete clause active
    assert any(
        "bypasses ON DELETE" in r.getMessage() and "fk_mpar" in r.getMessage()
        for r in caplog.records
    )

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="mssql_dataframe_spark"):
        engine.write.merge(
            "dbo.mpar",
            spark.createDataFrame([Row(pk=5, v=5)], "pk long, v long"),
            upsert=True,  # cannot delete: no warning
        )
    assert not any(
        "bypasses ON DELETE" in r.getMessage() for r in caplog.records
    )


def test_fk_parent_probe_narrows_by_bloom_sidecars(engine, spark):
    """The FK parent probe is stats- then bloom-narrowed like every
    other existing-rows probe: interleaved parent files (file f holds
    keys f, f+n, ...) make min/max blind, but the child batch's keys
    test each parent file's sidecar, so only files holding a
    referenced key are read — and an orphan is still caught. A child
    column of another type (a string '05' equals the parent's 5 under
    Spark's comparison but hashes differently) never bloom-prunes."""
    n, per = 6, 40
    engine.create.table(
        "dbo.par", {"pk": "bigint", "name": "varchar(20)"},
        primary_key_column="pk",
        properties={"bloom_filter_columns": ["pk"],
                    "bloom_narrow_min_bytes": 0},
    )
    for f in range(n):
        engine.write.insert("dbo.par", spark.createDataFrame(
            [Row(pk=f + i * n, name=f"p{f}") for i in range(per)],
            "pk long, name string",
        ).coalesce(1))
    engine.create.table(
        "dbo.chi", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.create.table(
        "dbo.chs", {"id": "bigint", "ref": "nvarchar(10)"},
        primary_key_column="id",
    )
    for t in ("dbo.chi", "dbo.chs"):
        engine.modify.foreign_key(
            t, "add", "fk_par",
            columns="ref", ref_table="dbo.par", ref_columns="pk",
        )
    store = engine.store
    reads = []
    orig = store.read_files

    def tap(snap, paths):
        if snap.name == "dbo.par":
            reads.append(len(paths))
        return orig(snap, paths)

    store.read_files = tap
    try:
        # keys 0 and n*per-1 live in files 0 and n-1
        engine.write.insert(
            "dbo.chi", _child(spark, [(1, 0), (2, n * per - 1)])
        )
        with pytest.raises(errors.SQLForeignKeyViolation, match="fk_par"):
            engine.write.insert(
                "dbo.chi", _child(spark, [(3, 1), (4, 10**6)])
            )
        engine.write.insert("dbo.chs", spark.createDataFrame(
            [Row(id=1, ref="05")], "id long, ref string"
        ))
    finally:
        store.read_files = orig
    assert reads == [2, 1, n]
    assert engine.read.table("dbo.chi").count() == 2
    assert engine.read.table("dbo.chs").count() == 1
