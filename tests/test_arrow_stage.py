"""``arrow_stage``: the engine's one Python stage, and ``vectors``, its
one reading of a vector column.

Every Python row stage goes through ``operators/arrow_stage.py``, so
the batch loop, the output typing and the malformed-vector mask exist
once. The source guard below fails on a new ``mapInPandas`` or
``mapInArrow`` call anywhere else in the engine (the streaming
``applyInPandasWithState`` sessionizer is a different API and stays).
"""

from __future__ import annotations

import ast
import glob
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from apde_etl_spark.operators.arrow_stage import arrow_stage, vectors

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "apde_etl_spark")

VEC = pa.list_(pa.float64())


def _map_in_callers():
    """(module, top-level def) of every ``.mapInPandas``/``.mapInArrow``
    call in the engine."""
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("mapInPandas", "mapInArrow")):
                    yield rel, getattr(top, "name", "<module>")


def test_no_other_map_in_stage_in_engine():
    assert set(_map_in_callers()) == {("operators/arrow_stage.py", "arrow_stage")}


def test_vectors_well_formed_batch_is_the_value_buffer():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], type=VEC)
    X, ok = vectors(arr)
    assert ok.tolist() == [True] * 3
    assert X.tolist() == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]


def test_vectors_masks_null_holed_and_ragged_rows():
    arr = pa.array([[1.0, 2.0], None, [3.0, None], [4.0], [5.0, 6.0, 7.0],
                    [8.0, 9.0]], type=VEC)
    X, ok = vectors(arr)  # the batch's most common length is 2
    assert ok.tolist() == [True, False, False, False, False, True]
    assert X.tolist() == [[1.0, 2.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0],
                          [0.0, 0.0], [8.0, 9.0]]
    X, ok = vectors(arr.slice(3), 3)  # a sliced batch, a given length
    assert ok.tolist() == [False, True, False]
    assert X[1].tolist() == [5.0, 6.0, 7.0]


def test_vectors_all_malformed_batch():
    X, ok = vectors(pa.array([None, None], type=VEC))
    assert X.shape == (2, 0) and not ok.any()
    X, ok = vectors(pa.array([None, [1.0, None]], type=VEC), 2)
    assert X.shape == (2, 2) and not ok.any()


def test_arrow_stage_types_output_and_skips_empty_batches(spark):
    df = spark.range(0, 10, numPartitions=3).selectExpr(
        "id", "IF(id % 4 = 0, NULL, array(CAST(id AS DOUBLE), 1.0D)) AS v")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("n", T.IntegerType()),
    ])

    def fn(batch):
        X, ok = vectors(batch.column("v"), 2)
        s = X.sum(axis=1)
        s[~ok] = np.nan  # NaN becomes NULL, as it did through pandas
        return {"id": batch.column("id"), "s": s, "n": [len(ok)] * len(ok)}

    out = arrow_stage(df.filter("id < 9"), schema, fn)
    assert out.schema == schema
    rows = sorted(out.collect())
    assert [r["id"] for r in rows] == list(range(9))
    assert [r["s"] for r in rows] == [None if i % 4 == 0 else i + 1.0
                                      for i in range(9)]
    assert "MapInArrow" in out._jdf.queryExecution().executedPlan().toString()
    empty = arrow_stage(df.filter("id < 0"), schema, fn)
    assert empty.collect() == []
