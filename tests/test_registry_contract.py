"""The registry's behaviour contract, pinned: every entry name in
``queries()`` and the sha256 of every ``oracle_sql()`` string must match
``tests/registry_contract.json``. A refactor that is meant to keep the
contract (same entries, byte-identical oracles) fails here by name.

After a deliberate change to the registry, rewrite the snapshot with
``python tests/test_registry_contract.py --write`` and commit it with
the change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT = os.path.join(ROOT, "tests", "registry_contract.json")


def _registry() -> dict[str, str]:
    """{entry name: sha256 hex of its oracle SQL} over ``queries()``."""
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    return {
        name: hashlib.sha256(oracles[name].encode()).hexdigest()
        if name in oracles else None
        for name in sorted(entrymod.queries())
    }


def test_registry_matches_snapshot():
    with open(SNAPSHOT) as f:
        want = json.load(f)
    got = _registry()
    added = sorted(set(got) - set(want))
    removed = sorted(set(want) - set(got))
    changed = sorted(n for n in set(got) & set(want) if got[n] != want[n])
    assert not (added or removed or changed), (
        f"registry contract changed: added={added} removed={removed} "
        f"oracle_sql changed={changed}")


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_registry_contract.py --write")
    with open(SNAPSHOT, "w") as f:
        json.dump(_registry(), f, indent=1, sort_keys=True)
        f.write("\n")
