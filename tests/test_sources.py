"""Tests for the sources layer: config hierarchy, readers, lifecycle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apde_etl_spark.sources.config import resolve_config, tsql_type_to_spark
from apde_etl_spark.sources.lifecycle import (
    compare_schemas,
    date_split_reload,
    row_count_check,
    synthesize_ddl,
)
from apde_etl_spark.sources.readers import read_delimited, schema_from_config, union_evolving


def test_config_precedence():
    cfg = {
        "field_term": ",",
        "to_table": "global_t",
        "2021": {"to_table": "t_2021"},
        "prod_server": {"to_table": "t_prod", "schema": "prod"},
    }
    keys = ["field_term", "to_table", "schema"]
    # global only
    assert resolve_config(cfg, keys)["to_table"] == "global_t"
    # year beats global
    assert resolve_config(cfg, keys, year=2021)["to_table"] == "t_2021"
    # server beats year
    assert resolve_config(cfg, keys, server="prod_server", year=2021)["to_table"] == "t_prod"
    # explicit override beats all
    got = resolve_config(cfg, keys, server="prod_server", year=2021,
                         overrides={"to_table": "arg_t"})
    assert got["to_table"] == "arg_t"
    assert got["field_term"] == ","


def test_tsql_type_mapping():
    assert tsql_type_to_spark("VARCHAR(50)") == "string"
    assert tsql_type_to_spark("NVARCHAR(MAX)") == "string"
    assert tsql_type_to_spark("DECIMAL(10,2)") == "decimal(10,2)"
    assert tsql_type_to_spark("bit") == "boolean"
    assert tsql_type_to_spark("datetime2") == "timestamp"
    assert tsql_type_to_spark("INT") == "int"


def test_schema_from_config_fixture_f2(spark):
    # FIXTURES.md F2: the reference's generic loader/DDL test table
    # (spark fixture needed: DDL-string parsing requires an active session)
    schema = schema_from_config(
        {"id": "INT", "name": "VARCHAR(50)", "value": "DECIMAL(10,2)", "date_col": "DATE"}
    )
    assert [f.dataType.simpleString() for f in schema.fields] == [
        "int", "string", "decimal(10,2)", "date",
    ]


def test_read_delimited_roundtrip(spark, tmp_path):
    # FIXTURES.md F3: tab-separated UTF-8 with header row, value-compared
    p = str(tmp_path / "bcp_fixture")
    src = spark.createDataFrame(
        [Row(id=i, name=f"name_{i}") for i in range(1, 6)]
    )
    src.coalesce(1).write.option("sep", "\t").option("header", True).csv(p)
    back = read_delimited(
        spark, p, field_term="\t", first_row=2,
        schema=schema_from_config({"id": "INT", "name": "VARCHAR(50)"}),
    )
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [
        (i, f"name_{i}") for i in range(1, 6)
    ]


def test_read_delimited_row_cap(spark, tmp_path):
    p = str(tmp_path / "cap")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1).write.option("header", True).csv(p)
    capped = read_delimited(spark, p, first_row=2, row_cap=10,
                            schema=schema_from_config({"id": "BIGINT", "v": "BIGINT"}))
    assert capped.count() == 10


def test_union_evolving_pads_missing_columns(spark):
    y1 = spark.createDataFrame([Row(a=1, b="x")])
    y2 = spark.createDataFrame([Row(a=2, c=3.5)])
    out = union_evolving([y1, y2])
    assert set(out.columns) == {"a", "b", "c"}
    rows = {r["a"]: r for r in out.collect()}
    assert rows[1]["c"] is None and rows[2]["b"] is None


def test_synthesize_ddl_and_compare(spark):
    df = spark.createDataFrame([Row(id=1, name="t", value=1.5)])
    ddl = synthesize_ddl(df, "myschema.mytable")
    assert ddl.startswith("CREATE TABLE myschema.mytable (")
    assert "id BIGINT" in ddl and "name STRING" in ddl

    other = spark.createDataFrame([Row(id=1, name=2)])  # name type differs, value missing
    diff = compare_schemas(df, other)
    assert diff.missing_in_target == ["value"]
    assert diff.type_mismatches == [("name", "string", "bigint")]
    assert not diff.identical
    assert compare_schemas(df, df).identical


def test_row_count_check(spark):
    a, b = spark.range(10), spark.range(10)
    ok, ca, cb = row_count_check(a, b)
    assert ok and ca == cb == 10


def test_date_split_reload_auto_cutpoint(spark):
    import datetime

    d = datetime.date
    archive = spark.createDataFrame(
        [Row(k=1, dt=d(2020, 1, 1)), Row(k=2, dt=d(2020, 6, 1))]
    )
    new = spark.createDataFrame(
        [Row(k=2, dt=d(2020, 6, 1)),    # overlaps archive max -> from new
         Row(k=3, dt=d(2020, 9, 1)),    # genuinely new
         Row(k=0, dt=d(2019, 1, 1))]    # before cut -> dropped (archive owns)
    )
    out = date_split_reload(archive, new, "dt")
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]


def test_union_evolving_widens_drifted_types(spark):
    y1 = spark.createDataFrame([(1, 10, "a")], "id int, value int, tag string")
    y2 = spark.createDataFrame([(2, 3.5)], "id bigint, value double")
    out = union_evolving([y1, y2])
    types = dict(out.dtypes)
    assert types["id"] == "bigint" and types["value"] == "double"
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, 10.0, "a"), (2, 3.5, None)]


def test_union_evolving_falls_back_to_string(spark):
    y1 = spark.createDataFrame([(1, 5)], "id int, code int")
    y2 = spark.createDataFrame([(2, "x7")], "id int, code string")
    out = union_evolving([y1, y2])
    assert dict(out.dtypes)["code"] == "string"
    assert sorted(r["code"] for r in out.collect()) == ["5", "x7"]


def test_ingest_yearly_files_full_flow(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import ingest_yearly_files

    # year files with different dialects AND schemas: 2023 tab-sep with
    # (id,name); 2024 comma-sep adds a double column
    p23 = str(tmp_path / "data_2023.csv")
    with open(p23, "w") as f:
        f.write("id\tname\n1\talpha\n2\tbeta\n")
    p24 = str(tmp_path / "data_2024.csv")
    with open(p24, "w") as f:
        f.write("id,name,score\n3,gamma,1.5\n")

    config = {
        "file_path": str(tmp_path / "data_{year}.csv"),
        "field_term": ",",
        "first_row": 2,
        "2023": {"field_term": "\t",
                 "vars": {"id": "INT", "name": "VARCHAR(20)"}},
        "2024": {"vars": {"id": "INT", "name": "VARCHAR(20)", "score": "FLOAT"}},
    }
    out = ingest_yearly_files(spark, config, [2023, 2024])
    rows = sorted(tuple(r) for r in out.select("id", "name", "score", "load_year").collect())
    assert rows == [
        (1, "alpha", None, 2023),
        (2, "beta", None, 2023),
        (3, "gamma", 1.5, 2024),
    ]


def test_ingest_yearly_files_test_mode_caps(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import ingest_yearly_files

    p = str(tmp_path / "big_2024.csv")
    with open(p, "w") as f:
        f.write("id\n" + "\n".join(str(i) for i in range(2000)))
    config = {"file_path": str(tmp_path / "big_{year}.csv"), "first_row": 2,
              "vars": {"id": "INT"}}
    out = ingest_yearly_files(spark, config, [2024], test_mode=True)
    assert out.count() == 1001


def test_max_errors_budget_enforced(spark, tmp_path):
    """COPY INTO MAXERRORS (copy_into.R:33,64): under-budget loads drop
    the malformed rows; over-budget loads abort."""
    import pytest
    from pyspark.sql import types as T

    from apde_etl_spark.sources.readers import read_lake_file

    p = tmp_path / "dirty.csv"
    rows = ["1,alpha", "2,beta", "x,gamma", "y,delta", "5,epsilon"]
    p.write_text("\n".join(rows) + "\n")
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
    ])

    ok = read_lake_file(spark, str(p), "csv", first_row=1,
                        schema=schema, max_errors=2)
    got = sorted((r["id"], r["name"]) for r in ok.collect())
    assert got == [(1, "alpha"), (2, "beta"), (5, "epsilon")]
    assert "_corrupt_record" not in ok.columns

    with pytest.raises(ValueError, match="exceeded error budget"):
        read_lake_file(spark, str(p), "csv", first_row=1,
                       schema=schema, max_errors=1)


def test_json_error_budget_contract(spark, tmp_path):
    """The JSON branch shares the csv PERMISSIVE/MAXERRORS contract:
    malformed lines are quarantined up to the budget and abort past it."""
    from pyspark.sql import types as T

    from apde_etl_spark.sources.readers import read_lake_file

    p = tmp_path / "dirty.jsonl"
    rows = [
        '{"id": 1, "name": "alpha"}',
        '{"id": 2, "name": "beta"}',
        'not json at all',
        '{"id": broken',
        '{"id": 5, "name": "epsilon"}',
    ]
    p.write_text("\n".join(rows) + "\n")
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
    ])

    ok = read_lake_file(spark, str(p), "json", schema=schema, max_errors=2)
    got = sorted((r["id"], r["name"]) for r in ok.collect())
    assert got == [(1, "alpha"), (2, "beta"), (5, "epsilon")]
    assert "_corrupt_record" not in ok.columns

    with pytest.raises(ValueError, match="exceeded error budget"):
        read_lake_file(spark, str(p), "json", schema=schema, max_errors=1)


def test_source_bytes_walks_directory_tables(tmp_path):
    """The rebalance gate must size directory-layout (Spark-written)
    tables by their contents, not the ~4 KB directory entry."""
    from apde_etl_spark.plans.catalog import _source_bytes

    d = tmp_path / "tbl.parquet"
    (d / "sub").mkdir(parents=True)
    (d / "part-0").write_bytes(b"x" * 10_000)
    (d / "sub" / "part-1").write_bytes(b"y" * 20_000)
    assert _source_bytes(str(d), budget=1 << 30) == 30_000
    # early exit once over budget still reports an over-budget total
    assert _source_bytes(str(d), budget=5_000) > 5_000
    f = tmp_path / "plain.bin"
    f.write_bytes(b"z" * 123)
    assert _source_bytes(str(f), budget=1) == 123


def test_date_split_reload_empty_archive_passes_everything_through(spark):
    from apde_etl_spark.sources.lifecycle import date_split_reload

    new = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-02-01")], "id long, d string"
    ).select("id", F.col("d").cast("date").alias("d"))
    empty = new.limit(0)
    # no high-water mark: everything must come from `new`, not vanish
    # into NULL-cutpoint comparisons
    assert date_split_reload(empty, new, "d").count() == 2


def test_scd2_merge_null_is_current_rows_survive(spark):
    import datetime

    from apde_etl_spark.sources.lifecycle import scd2_merge

    cur = spark.createDataFrame(
        [
            (1, "a", datetime.date(2024, 1, 1), None, True),
            (2, "b", datetime.date(2024, 1, 1), None, None),  # NULL flag
        ],
        "k long, attr string, valid_from date, valid_to date, is_current boolean",
    )
    snap = spark.createDataFrame([(1, "a"), (2, "b")], "k long, attr string")
    out = scd2_merge(cur, snap, "k", ["attr"], "2024-06-01")
    # the NULL-is_current key must still be present (treated as open)
    assert out.filter(F.col("k") == 2).count() == 1


def test_write_zordered_table_handles_empty_input(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import write_zordered_table

    df = spark.createDataFrame([], "a long, b long")
    path = str(tmp_path / "z_empty")
    write_zordered_table(df, path, "a", "b")
    assert spark.read.parquet(path).count() == 0


def test_analytic_table_splits_large_partitions(spark, tmp_path):
    import glob

    from apde_etl_spark.sources.lifecycle import write_analytic_table

    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("part")
    )
    path = str(tmp_path / "sized")
    write_analytic_table(
        df, path, partition_by="part", target_file_rows=1_000
    )
    # 10k rows / 1k target = ~10 tasks across 2 partition values: each
    # partition dir must hold MULTIPLE files, not one giant one
    for v in ("0", "1"):
        files = glob.glob(f"{path}/part={v}/*.parquet")
        assert len(files) >= 2, (v, files)


def test_analytic_table_hot_partition_written_in_parallel(spark, tmp_path):
    """One skewed partition value must be WRITTEN by multiple tasks (the
    content-hash salt spreads it), not merely split into files by
    maxRecordsPerFile from a single serial task. Distinct part-NNNNN
    task prefixes in the hot dir prove task-level parallelism; the salt
    is a pure function of row content, so it is retry-safe."""
    import glob
    import os
    import re

    from apde_etl_spark.sources.lifecycle import write_analytic_table

    # 9k rows in partition "hot", 1k in "cold"
    df = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") < 9_000, F.lit("hot")).otherwise(F.lit("cold"))
         .alias("part"),
    )
    path = str(tmp_path / "hot_salted")
    write_analytic_table(df, path, partition_by="part", target_file_rows=1_000)
    prefixes = {
        re.match(r"(part-\d+)", os.path.basename(f)).group(1)
        for f in glob.glob(f"{path}/part=hot/*.parquet")
    }
    assert len(prefixes) >= 2, prefixes
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.filter(F.col("part") == "hot").count() == 9_000


def test_duplicate_table_confirm_false_refuses_overwrite(spark):
    import pytest as _pytest

    from apde_etl_spark.sources.lifecycle import duplicate_table

    df = spark.range(3).select(F.col("id"))
    duplicate_table(spark, df, "dup_confirm_probe")
    try:
        with _pytest.raises(ValueError, match="confirm=False"):
            duplicate_table(spark, df, "dup_confirm_probe", confirm=False)
    finally:
        spark.sql("DROP TABLE IF EXISTS dup_confirm_probe")


# ---------------------------------------------------------------------------
# Versioned-table lifecycle (round 7): MERGE -> version, compaction,
# time travel
# ---------------------------------------------------------------------------


def test_versioned_write_and_time_travel(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        list_versions,
        read_version,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    df1 = spark.range(10).select(F.col("id"), F.lit("a").alias("tag"))
    assert versioned_write(df1, d) == 1
    df2 = spark.range(12).select(F.col("id"), F.lit("b").alias("tag"))
    assert versioned_write(df2, d) == 2
    assert list_versions(d) == [1, 2]
    # latest is v2; AS OF v1 still reads the old snapshot untouched
    assert read_version(spark, d).count() == 12
    v1 = read_version(spark, d, 1)
    assert v1.count() == 10
    assert {r["tag"] for r in v1.collect()} == {"a"}
    with pytest.raises(ValueError):
        read_version(spark, d, 9)


def test_merge_into_versioned_writes_new_version(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        merge_into_versioned,
        read_version,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    versioned_write(base, d)
    updates = spark.createDataFrame(
        [(2, 99.0), (4, 40.0)], "k long, v double")
    deletes = spark.createDataFrame([(3,)], "k long")
    assert merge_into_versioned(spark, d, updates, "k", ["v"],
                                deletes=deletes) == 2
    got = {r["k"]: r["v"] for r in read_version(spark, d, 2).collect()}
    assert got == {1: 10.0, 2: 99.0, 4: 40.0}
    # v1 unchanged — version isolation
    assert {r["k"] for r in read_version(spark, d, 1).collect()} == {1, 2, 3}


def test_compact_table_reduces_files_preserving_rows(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        compact_table,
        data_file_count,
        read_version,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("x"))
    versioned_write(df, d, n_files=16)
    assert data_file_count(d, 1) == 16
    new_v, before, after = compact_table(spark, d, 2)
    assert (new_v, before, after) == (2, 16, 2)
    # executed-layout assertion + exact row identity
    assert data_file_count(d, 2) == 2
    a = {tuple(r) for r in read_version(spark, d, 1).collect()}
    b = {tuple(r) for r in read_version(spark, d, 2).collect()}
    assert a == b


def _result_stage_tasks(spark, group: str, fn) -> list[int]:
    """Run ``fn`` under job group ``group``; return the task count of each
    job's result stage (a job's last stage has its highest id)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).numTasks
            for j in tracker.getJobIdsForGroup(group)]


def test_versioned_write_n_files_from_few_tasks(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        data_file_count,
        read_version,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    cores = spark.sparkContext.defaultParallelism
    n = 4 * cores + 3
    df = spark.range(0, 2000, 1, 2).select(
        F.col("id"), (F.col("id") % 7).alias("x"))
    tasks = _result_stage_tasks(
        spark, "versioned_write_n_files",
        lambda: versioned_write(df, d, n_files=n))
    assert tasks and max(tasks) <= cores
    assert data_file_count(d, 1) == n
    assert not [e for e in os.scandir(f"{d}/v=1") if e.is_dir()]
    got = read_version(spark, d, 1)
    assert got.columns == ["id", "x"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("parts", [2, 4])
def test_versioned_write_fewer_rows_than_files(spark, tmp_path, parts):
    from apde_etl_spark.sources.lifecycle import data_file_count, versioned_write

    # the file count is that of a plain repartition(n) write: one file per
    # non-empty round-robin partition, plus partition 0's even when empty
    # (2 input partitions leave it empty, 4 do not)
    df = spark.range(0, 10, 1, parts)
    plain = str(tmp_path / "plain")
    df.repartition(16).write.parquet(plain)
    d = str(tmp_path / "vt")
    versioned_write(df, d, n_files=16)
    assert data_file_count(d, 1) == sum(
        f.endswith(".parquet") for f in os.listdir(plain))


def test_versioned_write_empty_input_stays_readable(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        data_file_count,
        read_version,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    empty = spark.range(0).select(F.col("id"), F.lit("a").alias("tag"))
    assert versioned_write(empty, d, n_files=64) == 1
    assert data_file_count(d, 1) == 1
    got = read_version(spark, d, 1)
    assert got.schema.simpleString() == "struct<id:bigint,tag:string>"
    assert got.count() == 0


@pytest.mark.parametrize("n_files", [None, 2, 64])
def test_failed_versioned_write_leaves_table_unchanged(spark, tmp_path, n_files):
    from apde_etl_spark.sources.lifecycle import (
        list_versions,
        read_version,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    versioned_write(spark.range(3), d)
    bad = spark.range(20).select(
        F.when(F.col("id") == 5, F.raise_error(F.lit("bad row")))
        .otherwise(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="bad row"):
        versioned_write(bad, d, n_files=n_files)
    assert list_versions(d) == [1]
    assert not [f for f in os.listdir(d) if f.startswith("_stage")]
    assert sorted(r["id"] for r in read_version(spark, d).collect()) == [0, 1, 2]


def test_stage_dir_is_invisible_to_readers(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        _stage_dir,
        list_versions,
        read_all_versions,
        versioned_write,
    )

    # the staging dir of a writer still running (or killed): no version,
    # and no partition for the hive-style read of every version
    d = str(tmp_path / "vt")
    versioned_write(spark.range(3), d)
    spark.range(5).write.parquet(_stage_dir(d, 2))
    assert list_versions(d) == [1]
    allv = read_all_versions(spark, d)
    assert allv.columns == ["id", "v"] and allv.count() == 3


def test_vacuum_removes_stages_no_writer_can_publish(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        _stage_dir,
        list_versions,
        vacuum_versions,
    )

    # stages of killed writers for v1 and v2 (both published since) are
    # removed; the stage of a writer still running for v3 is kept
    d = str(tmp_path / "vt")
    for v in (1, 2):
        spark.range(3).write.parquet(f"{d}/v={v}")
    orphans = [_stage_dir(d, 1), _stage_dir(d, 2)]
    live = _stage_dir(d, 3)
    for stage in orphans + [live]:
        spark.range(5).write.parquet(stage)
    assert vacuum_versions(d, keep_last=2) == ([], [1, 2])
    assert sorted(os.listdir(d)) == sorted(["v=1", "v=2", os.path.basename(live)])
    assert list_versions(d) == [1, 2]


def test_vacuum_and_read_all_versions(spark, tmp_path):
    from apde_etl_spark.sources.lifecycle import (
        list_versions,
        read_all_versions,
        read_version,
        vacuum_versions,
        versioned_write,
    )

    d = str(tmp_path / "vt")
    versioned_write(spark.range(5).select(F.col("id")), d)
    versioned_write(spark.range(7).select(F.col("id")), d)
    # schema evolution: v3 adds a column; mergeSchema read unifies
    versioned_write(
        spark.range(7).select(F.col("id"), F.lit("x").alias("extra")), d)
    allv = read_all_versions(spark, d)
    assert set(allv.columns) == {"id", "extra", "v"}
    per_v = {r["v"]: (r["n"], r["e"]) for r in allv.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("extra").alias("e")).collect()}
    assert per_v == {1: (5, 0), 2: (7, 0), 3: (7, 7)}
    removed, kept = vacuum_versions(d, keep_last=2)
    assert removed == [1] and kept == [2, 3]
    assert list_versions(d) == [2, 3]
    assert read_version(spark, d, 2).count() == 7
    with pytest.raises(ValueError):
        vacuum_versions(d, keep_last=0)
    # vacuum never removes the only/latest snapshot
    removed2, kept2 = vacuum_versions(d, keep_last=5)
    assert removed2 == [] and kept2 == [2, 3]
