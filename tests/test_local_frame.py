"""``local_frame``: driver-side rows enter the plan as a local relation.

``spark.createDataFrame(list, schema)`` plans as a scan over a Python
RDD, so every execution runs Python-worker tasks. ``local_frame`` hands
Spark an Arrow table instead, which becomes a ``LocalTableScan`` that
runs no job, while rejecting the same bad rows ``createDataFrame`` does.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.sql import types as T

from apde_etl_spark.sources.readers import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "apde_etl_spark")

#: one row per call-site type: string, int, bigint, double, array<double>
DDL = "name string, n int, big bigint, x double, v array<double>"
ROWS = [("a", 1, 2**40, 0.5, [1.0, 2.0]), (None, None, None, None, None),
        ("c", -3, -(2**62), 1e300, [])]

#: the non-null StructType the driver-side connected components builds
NOT_NULL = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("component", T.LongType(), False),
])


def _jobs_of(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("rows,schema", [
    (ROWS, DDL),
    ([(1, 1), (2, 1), (3, 3)], NOT_NULL),
])
def test_collect_runs_no_job(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    out, jobs = _jobs_of(spark, f"local_frame_{id(df)}", df.collect)
    assert [tuple(r) for r in out] == [tuple(r) for r in rows]
    assert jobs == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize("schema", [DDL, NOT_NULL])
def test_schema_is_the_requested_one(spark, schema):
    want = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    rows = ROWS[:1] if isinstance(schema, str) else [(1, 1)]
    assert local_frame(spark, rows, schema).schema == want


@pytest.mark.parametrize("rows,schema", [
    ([("1",)], "k bigint"),          # str in a bigint column
    ([(1, None)], NOT_NULL),         # None in a non-null field
    ([(2**40,)], "k int"),           # out of the int range
])
def test_bad_rows_raise_like_create_data_frame(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises((TypeError, ValueError)) as got:
        local_frame(spark, rows, schema)
    assert type(got.value) is type(want.value)
    assert got.value.getCondition() == want.value.getCondition()


@pytest.mark.parametrize("schema", [DDL, NOT_NULL])
def test_empty_rows_give_empty_frame(spark, schema):
    df = local_frame(spark, [], schema)
    assert df.collect() == []
    assert df.schema == spark.createDataFrame([], schema).schema


def _create_data_frame_callers():
    """(module, top-level def) of every ``*.createDataFrame(...)`` call."""
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    yield rel, getattr(top, "name", "<module>")


def test_no_other_create_data_frame_in_engine():
    """Driver-side rows go through ``local_frame``; the one other caller
    is graph.py, whose pandas input already takes the Arrow path."""
    assert set(_create_data_frame_callers()) == {
        ("sources/readers.py", "local_frame"),
        ("operators/graph.py", "_pagerank_local_try"),
    }
