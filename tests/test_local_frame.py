"""``session.local_frame``: driver-held rows become an Arrow
``LocalRelation`` with exactly the schema (nullability included) and
rows ``createDataFrame(list)`` gives, and it is the package's only way
to build a DataFrame from rows."""

import ast
import datetime as dt
import decimal
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

import cr_data_pipeline_project_spark as pkg
from cr_data_pipeline_project_spark.session import local_frame

from helpers import in_group

NOT_NULL = T.StructType([
    T.StructField("id", T.StringType(), False),
    T.StructField("n", T.LongType(), True),
])

CASES = {
    "empty": ([], "a int, b string"),
    "nulls": ([(1, None), (None, "x"), (None, None)], "a int, b string"),
    "decimal": (
        [(decimal.Decimal("1.23"),), (decimal.Decimal("-999.99"),), (None,)],
        "d decimal(5,2)",
    ),
    "array_and_struct": (
        [([1, None, 3], (1, "s")), (None, None), ([], Row(i=None, s="t"))],
        "xs array<int>, st struct<i:int,s:string>",
    ),
    "dict_rows": (
        [{"a": 1, "b": "x"}, {"a": 2, "b": "y", "extra": 9}, {"b": "z"}],
        "a int, b string",
    ),
    "aware_timestamp": (
        [(dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=5))),)],
        "t timestamp",
    ),
    "struct_type_not_null": ([("a", 1), ("b", None)], NOT_NULL),
}


def _same(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_create_dataframe_from_list(spark, case):
    rows, schema = CASES[case]
    got = _same(spark, rows, schema)
    plan = got._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_naive_timestamp_keeps_host_local_meaning(spark, monkeypatch):
    """``createDataFrame(list)`` reads a naive datetime in host-local
    time; Arrow alone would read it as UTC (5 h off in New York)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(dt.datetime(2024, 1, 1, 12, 0),)]
        got = _same(spark, rows, "t timestamp")
        utc = got.select(F.date_format("t", "yyyy-MM-dd HH:mm:ss")).first()[0]
        assert utc == "2024-01-01 17:00:00"  # session zone is UTC
    finally:
        monkeypatch.undo()
        time.tzset()


def test_collect_starts_no_job(spark):
    rows, jobs = in_group(
        spark,
        "local-frame-probe",
        lambda: local_frame(
            spark, [(i, str(i)) for i in range(5)], "a int, b string"
        ).collect(),
    )
    assert len(rows) == 5
    assert jobs == []


@pytest.mark.parametrize("rows", [[("x",)], [(1, 2)], [(1.5,)]])
def test_mistyped_row_raises(spark, rows):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, "a int")


def test_package_builds_frames_from_rows_only_in_local_frame():
    """Every ``createDataFrame`` call in the package sits in
    ``session.local_frame``: no other site ships pickled rows through
    Python workers."""
    root = os.path.dirname(pkg.__file__)

    def calls(tree):
        return [
            node.lineno
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ]

    found, allowed = [], []
    for dirpath, _, files in os.walk(root):
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            found += [(os.path.relpath(path, root), n) for n in calls(tree)]
            if fname == "session.py" and dirpath == root:
                (fn,) = [
                    node for node in tree.body
                    if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
                ]
                allowed = [("session.py", n) for n in calls(fn)]
    assert len(allowed) == 1 and found == allowed
