"""One driver-frame path: every DataFrame the package builds from
driver-side data goes through ``frames.local_frame``, which keeps the
declared schema and plans as a ``LocalTableScan`` without a Spark
job."""

from __future__ import annotations

import datetime
import decimal
import pathlib

import numpy as np
import pytest
from pyspark.sql import types as T

import mssql_dataframe_spark
from mssql_dataframe_spark.conversion_rules import RULES
from mssql_dataframe_spark.frames import local_frame

from test_curation_cold_path import _job_group

_UTC = datetime.timezone.utc

#: one non-NULL value per Spark type behind the conversion rules, and
#: the value ``collect`` gives back for it
_VALUES = {
    T.BooleanType: (True, True),
    T.ShortType: (-7, -7),
    T.IntegerType: (2**31 - 1, 2**31 - 1),
    T.LongType: (2**62, 2**62),
    T.FloatType: (1.5, 1.5),
    T.DoubleType: (-0.1, -0.1),
    T.DecimalType: (decimal.Decimal("12.0000"), decimal.Decimal(12)),
    T.DayTimeIntervalType: (
        datetime.timedelta(hours=23, seconds=59, microseconds=7),
        datetime.timedelta(hours=23, seconds=59, microseconds=7),
    ),
    T.DateType: (datetime.date(2024, 2, 29), datetime.date(2024, 2, 29)),
    T.TimestampNTZType: (
        datetime.datetime(2024, 2, 29, 12, 30, 1, 5),
        datetime.datetime(2024, 2, 29, 12, 30, 1, 5),
    ),
    # collect gives a TIMESTAMP back as a naive local datetime
    T.TimestampType: (
        datetime.datetime(2024, 2, 29, 12, 30, 1, 5, tzinfo=_UTC),
        datetime.datetime(2024, 2, 29, 12, 30, 1, 5, tzinfo=_UTC)
        .astimezone().replace(tzinfo=None),
    ),
    T.StringType: ("naïve ✓", "naïve ✓"),
    T.BinaryType: (b"\x00\xff", bytearray(b"\x00\xff")),
}


def _rule_schema() -> T.StructType:
    """One nullable and one non-nullable column of each distinct Spark
    type the conversion rules map to."""
    types = {str(r.spark_type()): r.spark_type() for r in RULES.values()}
    fields = []
    for i, t in enumerate(types.values()):
        fields.append(T.StructField(f"c{i}", t, nullable=True))
        fields.append(T.StructField(f"c{i}_nn", t, nullable=False))
    return T.StructType(fields)


def test_local_frame_is_the_only_create_dataframe():
    """No module but frames.py builds a DataFrame from driver data."""
    package = pathlib.Path(mssql_dataframe_spark.__file__).parent
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "frames.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" in line:
                found.append(f"{rel}:{n}")
    assert found == []


@pytest.mark.parametrize("n_rows", [0, 2])
def test_local_frame_keeps_every_rule_type(spark, n_rows):
    """Empty and two-row frames (the second row NULL wherever the
    column allows it) of every conversion-rule type keep the declared
    schema, nullability included, plan as a LocalTableScan, start no
    job, and give the values back."""
    schema = _rule_schema()
    first = tuple(_VALUES[type(f.dataType)][0] for f in schema)
    second = tuple(
        None if f.nullable else _VALUES[type(f.dataType)][0] for f in schema
    )
    rows = [first, second][:n_rows]
    with _job_group(spark, f"local-frame-{n_rows}") as jobs:
        df = local_frame(spark, rows, schema)
        assert jobs() == 0
    assert df.schema == schema  # StructField equality includes nullable
    got = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    want = [
        tuple(
            None if v is None else _VALUES[type(f.dataType)][1]
            for v, f in zip(row, schema)
        )
        for row in rows
    ]
    assert [tuple(r) for r in got] == want


def test_local_frame_takes_columns_and_ddl(spark):
    """The column mapping form (numpy arrays included) and a DDL
    schema build the same frame as row tuples; a NULL in a
    non-nullable column raises."""
    ddl = "id bigint, label string, keep boolean"
    by_rows = local_frame(spark, [(1, "a", True), (2, None, False)], ddl)
    by_cols = local_frame(
        spark,
        {"id": np.array([1, 2], dtype=np.int64), "label": ["a", None],
         "keep": np.array([True, False])},
        ddl,
    )
    assert by_rows.schema == by_cols.schema == T.StructType.fromDDL(ddl)
    assert by_rows.collect() == by_cols.collect()
    strict = T.StructType([T.StructField("id", T.LongType(), False)])
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], strict)
