"""Tests of the compare command's verdicts.

    python -m pytest perfbench/test_compare.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from compare import verdict  # noqa: E402

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]


def test_gain_needs_nine_tenths_of_pairs_and_more_than_the_spread():
    faster = [v * 0.8 for v in PARENT]
    assert verdict(PARENT, faster, "lower", 0.1)["verdict"] == "gain"
    mixed = faster[:8] + [11.0, 11.0]
    assert verdict(PARENT, mixed, "lower", 0.1)["verdict"] != "gain"


def test_regression_beyond_the_bound():
    slower = [v * 1.3 for v in PARENT]
    assert verdict(PARENT, slower, "lower", 0.1)["verdict"] == "regression"
    assert verdict(PARENT, [v * 1.05 for v in PARENT], "lower", 0.1)["verdict"] == "within bound"


def test_unresolved_when_the_parent_spreads_beyond_the_bound():
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(noisy, [v * 1.02 for v in noisy], "lower", 0.1)["verdict"] == "unresolved"


def test_higher_is_better_metrics():
    assert verdict(PARENT, [v * 1.3 for v in PARENT], "higher", 0.1)["verdict"] == "gain"
