"""One path from driver-side data to a DataFrame: :func:`local_frame`.

The data travels as an Arrow table, which the JVM decodes into a
``LocalTableScan`` that Catalyst can fold; building it starts no job
and no Python worker. A Python list would plan as an opaque
``Scan ExistingRDD`` that a Python worker decodes.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession,
    data: Iterable[tuple] | Mapping,
    schema: StructType | str,
) -> DataFrame:
    """``data`` as a DataFrame of ``schema`` (a ``StructType`` or a DDL
    string), nullability included. ``data`` is row tuples in schema
    order, or a mapping of column name to values, where a numpy array
    of the column's own type is not copied. A NULL in a non-nullable
    column raises; a naive datetime in a TIMESTAMP column is UTC."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if not isinstance(data, Mapping):  # rows to columns; none: empty
        data = list(zip(*data)) or [()] * len(arrow)
    return spark.createDataFrame(pa.table(data, schema=arrow), schema=schema)
