"""The per-session reader-plan memo of ``catalog.load`` /
``catalog.load_events``: a plan is reused while its input is unchanged
and re-read once the input changes on disk."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from apde_etl_spark.plans.catalog import _input_fingerprint, load, load_events


def _write(spark, path: str, ids, mode: str = "overwrite") -> None:
    spark.createDataFrame([(i,) for i in ids], "id long") \
        .coalesce(1).write.mode(mode).parquet(path)


def test_appended_file_invalidates_directory_table(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(spark, path, range(5))
    first = load(spark, str(tmp_path), "t")
    assert first.count() == 5
    assert load(spark, str(tmp_path), "t") is first
    _write(spark, path, range(5, 8), mode="append")
    df = load(spark, str(tmp_path), "t")
    assert sorted(r.id for r in df.collect()) == list(range(8))


def test_rewritten_single_file_invalidates(spark, tmp_path, sf_dir):
    src = os.path.join(sf_dir, "events.parquet")
    dst = tmp_path / "events.parquet"
    shutil.copyfile(src, dst)
    first = load_events(spark, str(tmp_path))
    n = first.count()
    assert load_events(spark, str(tmp_path)) is first
    # replace the file with a one-row slice of itself
    pq.write_table(pq.read_table(src).slice(0, 1), dst)
    assert n > 1 and load_events(spark, str(tmp_path)).count() == 1


def test_fingerprint_of_missing_path_is_none(tmp_path):
    assert _input_fingerprint(str(tmp_path / "absent.parquet")) is None
