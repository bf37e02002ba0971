"""The pair statistics of ``tools/bench_ab.py``: the gain rule (the change
wins at least 9/10 pairs and the median gap exceeds the parent's IQR)
and the regression bound."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from bench_ab import parse_seeds, summarize  # noqa: E402


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
