"""The pair statistics of ``tools/bench_ab.py``: the gain rule (the change
wins at least 9/10 pairs and the median gap exceeds the parent's IQR)
and the regression bound."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from bench_ab import parse_seeds, record_steps, report, summarize  # noqa: E402


def test_parse_seeds():
    assert parse_seeds("51-53,7") == [51, 52, 53, 7]


def test_gain_rule():
    clear = [(7.0 + 0.1 * i, 6.0) for i in range(10)]
    assert summarize(clear, "lower", 0.25)["gain"]
    # 8/10 wins is not enough
    assert not summarize(clear[:8] + [(6.0, 6.5)] * 2, "lower", 0.25)["gain"]
    # every pair won, but by less than the parent's own spread
    narrow = [(6.0 + 0.3 * i, 5.9 + 0.3 * i) for i in range(10)]
    s = summarize(narrow, "lower", 0.25)
    assert s["wins"] == 10 and not s["gain"]
    # ties count for neither side
    assert summarize([(5.0, 5.0)] * 10, "lower", None)["wins"] == 0


def test_bound_is_relative_to_parent_median():
    assert summarize([(1.0, 1.2)] * 4, "lower", 0.25)["within_bound"]
    assert not summarize([(1.0, 1.3)] * 4, "lower", 0.25)["within_bound"]
    assert not summarize([(1.0, 0.7)] * 4, "higher", 0.25)["within_bound"]
    assert "bound" not in summarize([(1.0, 9.0)] * 4, "lower", None)


def _record(cpu: dict[tuple[int, str], float]) -> dict:
    """A run record with a cold pass 0, untraced steady passes 1 and 3
    and a traced steady pass 2; ``cpu`` maps (pass, step) to work CPU."""
    passes = [{"pass": 0, "kind": "cold", "traced": False},
              {"pass": 1, "kind": "steady", "traced": False},
              {"pass": 2, "kind": "steady", "traced": True},
              {"pass": 3, "kind": "steady", "traced": False}]
    calls = [{"pass": p, "name": n, "work_cpu_s": v} for (p, n), v in cpu.items()]
    calls.append({"pass": 3, "name": "write", "ok": False})  # a call that raised
    return {"passes": passes, "calls": calls}


def test_per_step_cpu_from_a_synthetic_record(tmp_path):
    rec = _record({(0, "write"): 0.1, (1, "write"): 3.0, (2, "write"): 0.2,
                   (3, "write"): 2.5, (1, "merge"): 1.0, (3, "merge"): 1.5})
    path = tmp_path / "rec.json"
    path.write_text(json.dumps(rec))
    # cold and traced passes are left out: the least untraced steady call
    steps = record_steps(f"noise\nperfbench: record {path}\n")
    assert steps == {"write": 2.5, "merge": 1.0}
    assert record_steps("no record line") is None

    def side(write):
        return {"failed": 0, "steps": {"write": write, "merge": 1.0},
                "metrics": {"pass_cpu_s": {"value": write + 1.0}}}

    results = {"etl_write": [{"seed": s, "parent": side(2.0 + s),
                              "change": side(1.0)} for s in range(3)]}
    lines = report(results, {})
    write = next(ln for ln in lines if ln.strip().startswith("write"))
    assert "parent 3  change 1 -66.7%" in write
    assert any(ln.strip().startswith("merge") for ln in lines)
