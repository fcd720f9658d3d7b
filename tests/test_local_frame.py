"""`plans.local.local_frame`: driver-side rows become the same
DataFrame `spark.createDataFrame(rows, schema)` builds, planned as a
JVM LocalTableScan instead of a Python RDD, and it is the package's
only way to turn driver rows into a frame."""

import pathlib

import pytest
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from minicrawler_spark.plans.local import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "minicrawler_spark"

ALL_TYPES = StructType([
    StructField("i", IntegerType()),
    StructField("l", LongType()),
    StructField("d", DoubleType()),
    StructField("s", StringType()),
    StructField("b", BinaryType()),
    StructField("t", BooleanType()),
])
ALL_ROWS = [
    (1, 1 << 40, 0.5, "a", b"\x00\xff", True),
    (-(1 << 31), -(1 << 63), -1e300, "žluť", b"", False),
    (None, None, None, None, None, None),
    ((1 << 31) - 1, (1 << 63) - 1, 2.0 ** -1074, "", bytearray(b"x"), None),
]
NOT_NULL = StructType([
    StructField("rank", IntegerType(), False),
    StructField("merged", StringType(), False),
])


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "rows, schema",
    [
        (ALL_ROWS, ALL_TYPES),
        (ALL_ROWS, "i int, l long, d double, s string, b binary, t boolean"),
        ([(0, "ab"), (1, "abc")], NOT_NULL),
        ([], ALL_TYPES),
        ([], "sitemap_url string, priority double, status int"),
    ],
    ids=["struct", "ddl", "not-null", "empty-struct", "empty-ddl"],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()

    plan = _executed_plan(got)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    # the list-built frame is the Python RDD this helper avoids
    assert "ExistingRDD" in _executed_plan(want)


def test_no_create_dataframe_outside_local_frame():
    """Every driver-built frame goes through local_frame; a
    createDataFrame(<list>) elsewhere would start a second Python
    worker pool for its RDD."""
    helper = PACKAGE / "plans" / "local.py"
    offenders = [
        "%s:%d" % (path.relative_to(PACKAGE), n)
        for path in sorted(PACKAGE.rglob("*.py")) if path != helper
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert offenders == []
