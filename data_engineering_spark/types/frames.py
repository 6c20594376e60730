"""Driver-built frames that plan as a JVM ``LocalRelation``.

``spark.createDataFrame(<python list>, schema)`` parallelizes the rows
as a pickled Python RDD: the plan holds a ``LogicalRDD`` with no size
statistics, and the first task that reads it starts a Python worker —
on a fresh executor that alone costs 1-2 s for a one-row frame.

``local_frame`` builds a pyarrow Table in the schema's Arrow types and
hands it to ``createDataFrame`` instead. Spark ships the Arrow batches
to the JVM, which plans them as a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
default; above it the JVM parallelizes the batches itself). Either way
no Python worker starts, collecting the frame runs no job, and
Catalyst sees the frame's real size when it picks a join strategy.

This module is the package's only ``createDataFrame`` call site
(tests/test_local_frame.py guards that).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples, or Rows, in ``schema``'s
    field order) with ``schema`` — a StructType or a DDL string.

    Values follow ``createDataFrame``'s conventions: a naive datetime
    in a TIMESTAMP column is wall time in the driver's local zone."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrow = to_arrow_schema(struct)
    arrays = []
    for values, field, arrow_field in zip(columns, struct.fields, arrow):
        if isinstance(field.dataType, TimestampType):
            # epoch micros by createDataFrame's own rule (a naive value
            # is driver-local wall time); Arrow would read it as UTC
            values = [field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)
