"""The session ``get_spark`` builds, and the one place that sets it up.

PySpark's DataFrame debugging hook captures the Python call site on
every DataFrame and Column method, at three py4j calls each. The
engine turns it off in ``session.py`` and nowhere else, so no module
can turn it back on for one caller.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEBUG_KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_turns_off_dataframe_debugging(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(DEBUG_KEY) == "false"
    assert not is_debugging_enabled()


def _debug_key_sites():
    """Repo-relative path of every Python file outside ``tests/`` with a
    string constant that names the debugging conf."""
    for root, dirs, files in os.walk(REPO):
        dirs[:] = sorted(d for d in dirs
                         if not d.startswith(".") and d != "tests")
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            if any(isinstance(node, ast.Constant)
                   and isinstance(node.value, str)
                   and "dataFrameDebugging" in node.value
                   for node in ast.walk(tree)):
                yield os.path.relpath(path, REPO).replace(os.sep, "/")


def test_only_session_sets_dataframe_debugging():
    assert set(_debug_key_sites()) == {"apde_etl_spark/session.py"}
