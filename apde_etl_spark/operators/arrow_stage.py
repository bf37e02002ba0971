"""The engine's one Python stage: Arrow record batches in and out.

Every place Python touches rows inside a plan (the multimodal decoders,
the BPE word encoder, the similarity scorers and the ANN local serve)
runs through :func:`arrow_stage`, and reads a vector column through
:func:`vectors`. A row the batch matrix cannot hold (a null vector, a
null element, or another length) is malformed; each site gives it its
in-plan twin's answer, decided from the mask.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def arrow_stage(
    df: DataFrame,
    schema: T.StructType | str,
    fn: Callable[[pa.RecordBatch], Mapping[str, object]],
) -> DataFrame:
    """``df.mapInArrow`` through ``fn``, one batch at a time.

    ``fn`` takes one non-empty ``pyarrow.RecordBatch`` and returns the
    output columns by name (Arrow arrays, numpy arrays or lists); each
    is built to its field of ``to_arrow_schema(schema)``, with a float
    NaN as NULL, as through pandas. State in ``fn``'s closure (a memo,
    a parse cache) lives for one task.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = fn(batch)
            yield pa.RecordBatch.from_arrays(
                [_column(cols[f.name], f.type) for f in arrow_schema],
                schema=arrow_schema)

    return df.mapInArrow(run, schema)


def _column(values, arrow_type: pa.DataType) -> pa.Array:
    if isinstance(values, pa.Array):
        return values if values.type == arrow_type else values.cast(arrow_type)
    return pa.array(values, type=arrow_type, from_pandas=True)


def vectors(arr: pa.Array, dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """``(X, ok)``: the vectors of an ``array<double>`` column as an
    ``(n, dim)`` float64 matrix, and the mask of the rows it holds.

    A row is held when it is not null, has no null element and has
    ``dim`` elements (``None``: the batch's most common length). Other
    rows are zeros in ``X``. When every row is held, ``X`` is the
    column's value buffer, reshaped.
    """
    lengths = pc.list_value_length(arr)
    ok = lengths.is_valid().to_numpy(zero_copy_only=False)
    lens = lengths.fill_null(-1).to_numpy()
    if dim is None:
        dim = int(np.bincount(lens[ok]).argmax()) if ok.any() else 0
    ok &= lens == dim
    flat = arr.flatten()  # the elements of the non-null rows, in order
    values = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if flat.null_count or not ok.all():
        parent = pc.list_parent_indices(arr).to_numpy()
        ok[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = False
        X = np.zeros((len(arr), dim), dtype=np.float64)
        X[ok] = values[ok[parent]].reshape(int(ok.sum()), dim)
        return X, ok
    return values.reshape(len(arr), dim), ok
