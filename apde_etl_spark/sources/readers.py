"""Readers / bulk-load surface (SURVEY.md §2.1 S6/S7/S8).

The reference shells out to ``bcp`` for delimited files
(load_table_from_file.R:396-408) and generates ``COPY INTO`` for lake
files (copy_into.R:101-148). Both collapse to ``spark.read`` with
options; the tuning knobs (batch size, TABLOCK, drop-index-then-reload)
are physical-strategy concerns Spark replaces with partitioned parquet
writes.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from apde_etl_spark.sources.config import tsql_type_to_spark


def schema_from_config(vars_map: Mapping[str, str]) -> T.StructType:
    """Typed column list from a reference-style YAML ``vars`` block
    (``{name: TSQLTYPE}``, create_table.R:20-68) -> StructType."""
    return T.StructType(
        [T.StructField(name, _parse_ddl(tsql_type_to_spark(t)), True) for name, t in vars_map.items()]
    )


def _parse_ddl(ddl: str) -> T.DataType:
    return T.StructType.fromDDL(f"`x` {ddl}").fields[0].dataType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over rows the driver already holds (metadata rows,
    codebooks, centroids, observed metrics).

    ``spark.createDataFrame(list, schema)`` parallelizes the list into a
    Python RDD, so the frame plans as ``Scan ExistingRDD`` and every
    execution runs ``defaultParallelism`` Python-worker tasks: about
    0.8 s of CPU at 4 cores for one five-column row. Here each row is
    checked with the verifier ``createDataFrame`` runs for a typed
    schema (same errors for a wrong type, a None in a non-null field or
    an out-of-range int), then the rows go to Spark as one
    ``pyarrow.Table``, which becomes a ``LocalTableScan`` on the JVM:
    no job and no Python worker when the frame executes.

    Rows are tuples or lists in schema order. Bound: all rows are held
    in driver memory, as they already are for a list, and are copied
    into the plan once, so this is for small driver-side tables, not
    bulk data.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    rows = list(rows)
    for row in rows:
        if not isinstance(row, (tuple, list)):
            raise TypeError("local_frame rows must be tuples or lists, "
                            f"got {type(row).__name__}")
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_delimited(
    spark: SparkSession,
    path: str,
    field_term: str = ",",
    row_term: str | None = None,
    first_row: int = 1,
    schema: T.StructType | None = None,
    encoding: str = "UTF-8",
    row_cap: int | None = None,
) -> DataFrame:
    """Delimited-file load with the reference's knobs
    (load_table_from_file.R:105-122): field/row terminator, first_row
    (header skip), UTF-8, and the test-mode row cap (-L 1001, :313).
    """
    reader = (
        spark.read.option("sep", field_term)
        .option("header", first_row > 1)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
    )
    if row_term is not None:
        reader = reader.option("lineSep", row_term)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if row_cap is not None:
        df = df.limit(row_cap)
    return df


def enforce_error_budget(
    df: DataFrame, max_errors: int, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """COPY INTO's MAXERRORS contract (copy_into.R:33,64): tolerate up
    to ``max_errors`` malformed rows, FAIL the load beyond that. One
    cached pass counts the quarantined rows (Spark disallows a query
    whose only required column is the internal corrupt-record column
    unless the source is cached); the cache is released before
    returning so no executor storage outlives the budget check. The
    survivors query projects every data column, which IS legal on the
    raw source, so it recomputes fine uncached."""
    if corrupt_col not in df.columns:
        return df
    df = df.cache()
    try:
        bad = df.filter(F.col(corrupt_col).isNotNull()).count()
        if bad > max_errors:
            raise ValueError(
                f"load exceeded error budget: {bad} malformed rows"
                f" > max_errors={max_errors}"
            )
    finally:
        df.unpersist()
    return df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)


def read_lake_file(
    spark: SparkSession,
    path: str,
    file_type: str = "parquet",
    field_quote: str = '"',
    field_term: str = ",",
    first_row: int = 2,
    schema: T.StructType | None = None,
    max_errors: int | None = 100,
) -> DataFrame:
    """COPY INTO analogue (copy_into.R:61-148): csv/parquet/orc/json with
    csv dialect options (read-side decompression is automatic by file
    extension — the reference's compression parameter is a write-side
    concern here). With a declared ``schema``,
    PERMISSIVE mode quarantines malformed rows into ``_corrupt_record``
    and :func:`enforce_error_budget` applies the MAXERRORS contract —
    up to ``max_errors`` bad rows are dropped, more aborts the load."""
    ft = file_type.lower()
    if ft == "parquet":
        return spark.read.parquet(path)
    if ft == "orc":
        return spark.read.orc(path)
    if ft in ("csv", "json"):
        # one PERMISSIVE + corrupt-record + MAXERRORS contract for both
        # text formats (json is an engine extension — the reference's
        # COPY INTO stops at csv/parquet/orc, copy_into.R:61); read-side
        # decompression is codec-by-file-extension, no option needed
        reader = spark.read.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
        if ft == "csv":
            reader = (
                reader.option("sep", field_term)
                .option("quote", field_quote)
                .option("header", first_row > 1)
            )
        load_fn = reader.csv if ft == "csv" else reader.json
        if schema is not None:
            full = T.StructType(
                list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
            )
            df = reader.schema(full).csv(path) if ft == "csv" else reader.schema(full).json(path)
            if max_errors is not None:
                df = enforce_error_budget(df, max_errors)
            return df
        return load_fn(path)
    raise ValueError(f"unsupported file_type {file_type!r} (csv/parquet/orc/json)")


class SourceRegistry:
    """S8 — function-sourced datasets: the reference dynamically dispatches
    to a named loader (getFromNamespace(fn, 'apde.data'),
    etl_qa_run_pipeline.R:856-861). Spark equivalent: a dict of named
    callables returning DataFrames."""

    def __init__(self) -> None:
        self._fns: dict[str, callable] = {}

    def register(self, name: str):
        def deco(fn):
            self._fns[name] = fn
            return fn
        return deco

    def get(self, name: str):
        if name not in self._fns:
            raise KeyError(
                f"data source function {name!r} not registered; have {sorted(self._fns)}"
            )
        return self._fns[name]

    def load(self, name: str, spark: SparkSession, **kwargs) -> DataFrame:
        return self.get(name)(spark, **kwargs)


#: process-wide default registry (mirrors the apde.data namespace)
registry = SourceRegistry()


#: widening order for cross-year type drift; anything not unifiable in
#: this chain falls back to string
_TYPE_RANK = ["tinyint", "smallint", "int", "bigint", "float", "double"]


def _unify(a: str, b: str) -> str:
    if a == b:
        return a
    if a in _TYPE_RANK and b in _TYPE_RANK:
        return _TYPE_RANK[max(_TYPE_RANK.index(a), _TYPE_RANK.index(b))]
    if {a, b} == {"date", "timestamp"}:
        return "timestamp"
    return "string"


def union_evolving(dfs: Sequence[DataFrame]) -> DataFrame:
    """U1 — schema-evolving UNION ALL: per-year tables whose column sets
    differ are stacked against the union of all columns, absent columns
    NULL-padded (load_table_from_file.R:596-665). ``unionByName`` is the
    native form of the reference's generated NULL-AS padding.

    Goes one step beyond the reference (which pads only for *presence*,
    SURVEY §7.2e): same-named columns whose types drifted across years
    are explicitly cast to the widened common type (numeric chain ->
    widest; date/timestamp -> timestamp; otherwise string), so a year
    that changed ``int`` to ``double`` still unions."""
    from collections import OrderedDict

    merged: "OrderedDict[str, str]" = OrderedDict()
    for d in dfs:
        for f_ in d.schema.fields:
            t = f_.dataType.simpleString()
            merged[f_.name] = _unify(merged[f_.name], t) if f_.name in merged else t

    def conform(d: DataFrame) -> DataFrame:
        have = {f_.name: f_.dataType.simpleString() for f_ in d.schema.fields}
        cols = []
        for name, t in merged.items():
            if name not in have:
                cols.append(F.lit(None).cast(t).alias(name))
            elif have[name] != t:
                cols.append(F.col(name).cast(t).alias(name))
            else:
                cols.append(F.col(name))
        return d.select(*cols)

    out = conform(dfs[0])
    for d in dfs[1:]:
        out = out.unionByName(conform(d))
    return out
