"""Driver-side rows into Spark without a Python worker.

`spark.createDataFrame(<list>, schema)` parallelizes the pickled rows
as a Python RDD. Its tasks run on their own `pyspark.daemon` and
workers, which the SQL Arrow stages never reuse, so one such frame
doubles the session's Python processes for as long as it lives (README
"Python task cost"). `local_frame` sends the same rows to the JVM as
an Arrow table instead: the plan is a JVM `LocalTableScan` and no
Python process runs for it. Every driver-built frame in the package
goes through here.
"""

from __future__ import annotations

from typing import Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession,
    rows: Sequence[tuple],
    schema: Union[StructType, str],
) -> DataFrame:
    """The DataFrame `spark.createDataFrame(rows, schema)` returns, the
    same rows and schema, built from a `pyarrow.Table` typed by
    `schema` (a `StructType` or a DDL string). A value that does not
    fit its column raises `pyarrow.ArrowInvalid` or
    `pyarrow.ArrowTypeError`; callers that take rows from users check
    them first."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
