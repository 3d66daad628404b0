"""Frames built from driver-side Python values.

Every frame the engine makes from rows it holds on the driver (parameter
tables, iteration results, manifest listings) goes through
``local_frame``. The rows travel to the JVM as Arrow columns, never as a
pickled RDD, so no Python worker runs to decode them and the plan holds
an operator the optimizer can size.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, StructType


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A frame of ``rows`` (tuples in ``schema``'s field order) with
    exactly ``schema``.

    One pyarrow array is built per column with the column's target Arrow
    type, and the table is handed to ``createDataFrame``. Below
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark makes it a
    ``LocalRelation`` with exact statistics; above it Spark spreads the
    Arrow batches from the JVM. Either way no Python worker runs.

    Value checks are pyarrow's: a value that does not fit its column
    (``2**31`` in an ``int``, a string in a ``double``) raises. One
    leniency differs from ``createDataFrame(list)``, whose verifier
    rejects it: an integral float (``3.0``) is accepted into an integer
    column.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(schema.fields)
    if len(cols) != len(schema.fields):
        raise ValueError(f"rows have {len(cols)} fields, schema has {len(schema.fields)}")
    table = pa.table(
        [pa.array(c, type=to_arrow_type(f.dataType)) for c, f in zip(cols, schema.fields)],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)
