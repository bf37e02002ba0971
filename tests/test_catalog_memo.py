"""The per-session reader-plan memo of ``catalog.load`` /
``catalog.load_events``, and the process memo of derived artifacts
(``plans.artifacts.artifact``): each value is reused while its inputs
are unchanged and rebuilt once an input changes on disk."""

from __future__ import annotations

import ast
import glob
import logging
import os
import shutil

import pyarrow.parquet as pq
import pytest

from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import _input_fingerprint, load, load_events
from apde_etl_spark.plans.catalog_r4 import cbo_tables

PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "apde_etl_spark", "plans")


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


def _counting_build():
    """A build that records the dir of each call and returns it."""
    calls: list[str] = []

    def build(d: str) -> str:
        calls.append(d)
        return d

    return calls, build


def test_artifact_rebuilds_when_a_source_is_rewritten(tmp_path, caplog):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    calls, build = _counting_build()
    with caplog.at_level(logging.INFO, logger="apde_etl_spark.plans.artifacts"):
        first = artifact("memo_rewrite", str(tmp_path), ("t",), build)
        assert artifact("memo_rewrite", str(tmp_path), ("t",), build) == first
        assert len(calls) == 1
        src.write_bytes(b"version 2")
        second = artifact("memo_rewrite", str(tmp_path), ("t",), build)
    assert len(calls) == 2 and second != first
    # a frame returned from the superseded entry may still read its dir
    assert os.path.isdir(first)
    built = [r.getMessage() for r in caplog.records
             if "memo_rewrite" in r.getMessage()]
    assert len(built) == 2
    assert all(str(tmp_path) in m and " t " in m for m in built)


def test_artifact_keys_the_absolute_sf_dir(tmp_path, monkeypatch):
    (tmp_path / "t.parquet").write_bytes(b"v1")
    calls, build = _counting_build()
    monkeypatch.chdir(tmp_path.parent)
    for spelling in (str(tmp_path), str(tmp_path) + "/", tmp_path.name,
                     os.path.join(".", tmp_path.name, "")):
        artifact("memo_keying", spelling, ("t",), build)
    assert len(calls) == 1


def test_failed_build_memoizes_nothing(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"v1")
    dirs: list[str] = []

    def fails(d: str) -> str:
        dirs.append(d)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        artifact("memo_failure", str(tmp_path), ("t",), fails)
    assert not os.path.exists(dirs[0])
    calls, build = _counting_build()
    assert artifact("memo_failure", str(tmp_path), ("t",), build) == calls[0]
    assert len(calls) == 1


def test_cbo_tables_rebuild_when_part_changes(spark, sf_dir, tmp_path):
    """``cbo_tables`` copies and analyzes three tables, so a rewrite of
    any one of them, not only ``lineitem``, must give fresh rows."""
    for t in ("lineitem", "part", "supplier"):
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"),
                        tmp_path / f"{t}.parquet")
    made: list[str] = []
    try:
        names = cbo_tables(spark, str(tmp_path))
        made += names
        n_part = spark.table(names[1]).count()
        pq.write_table(
            pq.read_table(os.path.join(sf_dir, "part.parquet")).slice(0, 3),
            tmp_path / "part.parquet")
        fresh = cbo_tables(spark, str(tmp_path))
        made += fresh
        assert n_part > 3 and spark.table(fresh[1]).count() == 3
    finally:
        for name in set(made):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def _empty_maps(tree: ast.Module):
    """Names bound to an empty mapping at module level, at import or
    through a ``global`` statement in a function."""
    def empty(v) -> bool:
        if isinstance(v, ast.Dict):
            return not v.keys
        f = getattr(v, "func", None)
        name = getattr(f, "attr", None) or getattr(f, "id", None)
        return name in ("dict", "defaultdict", "OrderedDict",
                        "WeakKeyDictionary", "WeakValueDictionary") \
            and not v.keywords and (not v.args or name == "defaultdict")

    def bound(stmts, names=None):
        for node in stmts:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value \
                    and empty(node.value):
                targets = getattr(node, "targets", None) or [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and (names is None or t.id in names):
                        yield t.id

    yield from bound(tree.body)
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = {n for g in ast.walk(fn) if isinstance(g, ast.Global)
                     for n in g.names}
            yield from bound(ast.walk(fn), names)


def test_no_module_level_cache_dict_in_plans():
    """Derived artifacts are memoized only through ``artifacts.artifact``,
    which rebuilds on a source change. The other module-level mappings
    are ``catalog``'s per-session reader memo and the entry registry
    that ``register`` fills at import."""
    found = set()
    for path in glob.glob(os.path.join(PLANS, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        found |= {(os.path.relpath(path, PLANS), name)
                  for name in _empty_maps(tree)}
    assert found == {("artifacts.py", "_MEMO"), ("catalog.py", "_LOAD_PLANS"),
                     ("catalog.py", "QUERIES"), ("catalog.py", "ORACLES")}
