"""``local_frame``: driver-side rows enter the plan as a local relation.

``spark.createDataFrame(list, schema)`` plans as a scan over a Python
RDD, so every execution runs Python-worker tasks. ``local_frame`` hands
Spark an Arrow table instead, which becomes a ``LocalTableScan`` that
runs no job, while rejecting the same bad rows ``createDataFrame`` does.

``collect_bounded`` is the reverse trip: a frame comes to the driver as
one Arrow table only while it is under a row (and byte) cap, in one job
that is both the size probe and the payload.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apde_etl_spark.sources.readers import collect_bounded, local_frame

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
    is graph.py's driver path, whose input is already an Arrow table."""
    assert set(_create_data_frame_callers()) == {
        ("sources/readers.py", "local_frame"),
        ("operators/graph.py", "_pagerank_local_try"),
    }


def _frame(spark, n):
    """n rows (id, y) over 4 scan partitions."""
    return spark.range(0, n, numPartitions=4).select(
        F.col("id"), (F.col("id") * 2).alias("y"))


@pytest.mark.parametrize("n,max_rows,max_bytes,want_rows", [
    (50, 50, None, 50),      # exactly at the row cap: collected
    (51, 50, None, None),    # one row over: declined
    (50, 50, 100, None),     # under the rows, over the bytes: declined
    (50, 50, 1 << 20, 50),   # under both caps
    (0, 50, None, 0),        # empty frame: an empty table, not None
])
def test_collect_bounded_caps_in_one_job(spark, n, max_rows, max_bytes,
                                         want_rows):
    df = _frame(spark, n)
    out, jobs = _jobs_of(spark, f"bounded_{n}_{max_rows}_{max_bytes}",
                         lambda: collect_bounded(df, max_rows, max_bytes))
    assert len(jobs) == 1
    if want_rows is None:
        assert out is None
        return
    assert out.num_rows == want_rows
    assert out.column_names == ["id", "y"]
    assert sorted(out.column("id").to_pylist()) == list(range(n))


def _bounded_probe_sites():
    """(module, top-level def) of every ``.limit(<cap> + 1)`` call whose
    cap is a name or an attribute: the shape of a size probe. A top-N
    such as ``.limit(n - rank + 1)`` is not one."""
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            for node in ast.walk(top):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "limit" and node.args):
                    continue
                arg = node.args[0]
                if (isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add)
                        and isinstance(arg.left, (ast.Name, ast.Attribute))
                        and isinstance(arg.right, ast.Constant)
                        and arg.right.value == 1):
                    yield rel, getattr(top, "name", "<module>")


def test_size_probes_go_through_collect_bounded():
    """A driver fast path sizes its input with ``collect_bounded``, whose
    collect is also the payload. It is the only bounded probe: the ANN
    local serve, which must bound the vectors' bytes before it collects
    them, collects the vectors' lengths through it first."""
    assert set(_bounded_probe_sites()) == {
        ("sources/readers.py", "collect_bounded"),
    }
