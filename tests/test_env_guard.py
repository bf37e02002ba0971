"""Source guard: the engine reads the process environment in one place.

Deployment settings (cores, driver memory, codec, partition bytes) are
read by ``session.py``. Every fast path is chosen by a keyword parameter
or a module constant, so one caller's choice cannot leak into another's
through ``os.environ``.
"""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "apde_etl_spark")


def _env_readers():
    """(module, line) of every ``os.environ`` / ``os.getenv`` reference."""
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and node.attr in ("environ", "getenv")
                    and isinstance(node.value, ast.Name)
                    and node.value.id in ("os", "_os")):
                yield rel, node.lineno
            elif (isinstance(node, ast.ImportFrom) and node.module == "os"
                    and any(a.name in ("environ", "getenv") for a in node.names)):
                yield rel, node.lineno


def test_only_session_reads_the_environment():
    assert {m for m, _ in _env_readers()} == {"session.py"}
