"""Derived artifacts of the source tables, memoized for the process.

An artifact is anything an entry derives from the source tables and
reuses across calls: an ANN or graph index, a sketch store, a versioned
table, a media fixture, a trained fit, or the names of analyzed catalog
tables. Each is a deterministic function of the tables it names, so
:func:`artifact` memoizes it under ``(kind, abspath(sf_dir))`` with the
tables' :func:`~apde_etl_spark.plans.catalog._input_fingerprint`, and
builds it again once any of them changes on disk.

Every build gets a fresh temp dir, and every such dir lives until the
process exits. Nothing is shared between processes: a later process
builds its own copy.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Sequence
from typing import TypeVar

from apde_etl_spark.plans.catalog import _input_fingerprint

log = logging.getLogger(__name__)

T = TypeVar("T")

#: (kind, abspath(sf_dir)) -> (source fingerprints, built value)
_MEMO: dict[tuple[str, str], tuple[tuple, object]] = {}

#: every dir handed to a build that returned. A dir whose entry a
#: rebuild superseded stays here too: a lazy frame returned from the old
#: entry may still read it, so it is removed only at exit.
_WORKDIRS: list[str] = []


@atexit.register
def _remove_workdirs() -> None:
    for d in _WORKDIRS:
        shutil.rmtree(d, ignore_errors=True)


def source_fingerprints(sf_dir: str, tables: Sequence[str]) -> tuple:
    """The fingerprint of each ``<sf_dir>/<table>.parquet``, in order."""
    return tuple(_input_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))
                 for t in tables)


def artifact(kind: str, sf_dir: str, tables: Sequence[str],
             build: Callable[[str], T]) -> T:
    """Return ``build(workdir)`` for ``(kind, sf_dir)``, built once while
    the source ``tables`` under ``sf_dir`` are unchanged on disk.

    ``kind`` names what is built and must be unique per build function.
    ``build`` gets a new empty temp dir and returns the value to
    memoize. A build that raises memoizes nothing and its dir is
    removed at once. A steady call only stats the source tables: it runs
    no Spark job and makes no py4j call.
    """
    key = (kind, os.path.abspath(sf_dir))
    fingerprints = source_fingerprints(key[1], tables)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == fingerprints:
        return hit[1]
    workdir = tempfile.mkdtemp(prefix=f"apde_{kind}_")
    start = time.perf_counter()
    try:
        value = build(workdir)
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise
    _WORKDIRS.append(workdir)
    _MEMO[key] = (fingerprints, value)
    log.info("built artifact %s for %s from %s in %.2f s", kind, key[1],
             ",".join(tables), time.perf_counter() - start)
    return value
