"""catalog.values_df: the library's one way to turn driver rows into a
DataFrame. It must round-trip exactly what ``spark.createDataFrame``
round-trips, plan as a LocalTableScan, and run no Spark job when scanned."""

from __future__ import annotations

import ast
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import types as T

from imagingdb_spark.catalog import IMAGING_SCHEMAS, values_df

PKG = Path(__file__).resolve().parent.parent / "imagingdb_spark"

EXTRA_SCHEMA = T.StructType(
    [
        T.StructField("vec", T.ArrayType(T.DoubleType()), True),
        T.StructField("amount", T.DecimalType(10, 2), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("ts_list", T.ArrayType(T.TimestampType()), True),
    ]
)

SAMPLE = {
    T.LongType: 1234567890123,
    T.IntegerType: 42,
    T.StringType: "TEST-2020-01-02-03-04-05-0001",
    T.BooleanType: True,
    T.TimestampType: datetime(2020, 1, 2, 3, 4, 5, 678901),
    T.DateType: date(2020, 1, 2),
    T.DecimalType: Decimal("12345678.90"),
}


def _sample(dt: T.DataType):
    if isinstance(dt, T.ArrayType):
        return [_sample(dt.elementType), None]
    if isinstance(dt, T.DoubleType):
        return 0.1
    return SAMPLE[type(dt)]


def _rows(schema: T.StructType) -> list[tuple]:
    """One row of sample values, one row of nulls wherever nullable, and
    a summer timestamp (a different UTC offset than January's)."""
    full = tuple(_sample(f.dataType) for f in schema.fields)
    nulls = tuple(
        None if f.nullable else _sample(f.dataType) for f in schema.fields
    )
    summer = tuple(
        datetime(2021, 7, 1, 23, 30) if isinstance(f.dataType, T.TimestampType)
        else v
        for f, v in zip(schema.fields, full)
    )
    return [full, nulls, summer]


@pytest.fixture
def non_utc_tz(monkeypatch):
    """The driver process in a zone west of UTC (the session stays UTC)."""
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _jobs_during(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"values-df-probe-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


SCHEMAS = {**IMAGING_SCHEMAS, "extra": EXTRA_SCHEMA}


class TestValuesDf:
    @pytest.mark.parametrize("name", sorted(SCHEMAS))
    def test_round_trip_matches_create_dataframe(
        self, spark, non_utc_tz, name
    ):
        schema = SCHEMAS[name]
        rows = _rows(schema)
        got = values_df(spark, rows, schema)
        assert got.schema == schema
        want = spark.createDataFrame(rows, schema).collect()
        assert got.collect() == want
        assert [tuple(r) for r in want] == rows

    @pytest.mark.parametrize("name", sorted(SCHEMAS))
    def test_zero_rows_keep_the_schema(self, spark, name):
        df = values_df(spark, [], SCHEMAS[name])
        assert df.schema == SCHEMAS[name]
        assert df.collect() == []

    def test_ddl_schema_and_dict_rows(self, spark, non_utc_tz):
        ddl = "serial string, id long, ts timestamp, vec array<double>"
        ts = datetime(2020, 1, 2, 3, 4, 5)
        df = values_df(
            spark, [{"id": 7, "serial": "s", "ts": ts, "vec": [1.0]}], ddl
        )
        assert [tuple(r) for r in df.collect()] == [("s", 7, ts, [1.0])]
        assert df.schema == T.StructType.fromDDL(ddl)

    def test_plans_as_local_table_scan_and_runs_no_job(self, spark):
        rows = _rows(IMAGING_SCHEMAS["data_set"])
        df = values_df(spark, rows, IMAGING_SCHEMAS["data_set"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.lstrip().startswith("LocalTableScan"), plan
        assert _jobs_during(spark, df.collect) == 0
        # the probe sees jobs: a Python-rows frame runs one per scan
        rdd_df = spark.createDataFrame(rows, IMAGING_SCHEMAS["data_set"])
        assert _jobs_during(spark, rdd_df.collect) >= 1

    def test_rows_spread_over_default_parallelism(self, spark):
        df = values_df(spark, [(i,) for i in range(100)], "i long")
        n = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() == min(100, n) > 1


def _create_dataframe_calls(path: Path) -> list[str]:
    """``<module>:<line> in <function>`` of each createDataFrame call."""
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else func
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append(f"{path.relative_to(PKG)}:{child.lineno} in {func}")
            visit(child, inner)

    visit(ast.parse(path.read_text()), "<module>")
    return out


def test_create_dataframe_only_inside_values_df():
    calls = [
        c for p in sorted(PKG.rglob("*.py")) for c in _create_dataframe_calls(p)
    ]
    assert calls, "the scan found no createDataFrame call at all"
    stray = [
        c for c in calls
        if not (c.startswith("catalog.py:") and c.endswith(" in values_df"))
    ]
    assert stray == [], f"use catalog.values_df instead: {stray}"
