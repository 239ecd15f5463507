"""The per-metric verdicts ``scripts/ab.py`` prints for an A/B."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(__file__), "..", "scripts", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BASE = [100.0, 101.0, 99.0, 100.5, 99.5, 100.0, 101.0, 99.0, 100.0, 100.0]


def test_gain_needs_nine_of_ten_and_more_than_the_base_iqr():
    assert ab.verdict(BASE, [x - 20 for x in BASE], True, 0.25) == "gain"
    eight = [x - 20 for x in BASE[:8]] + [x + 1 for x in BASE[8:]]
    assert ab.verdict(BASE, eight, True, 0.25) == "flat"
    assert ab.verdict(BASE, [x - 0.5 for x in BASE], True, 0.25) == "flat"  # < IQR
    # direction: higher is better
    assert ab.verdict(BASE, [x + 20 for x in BASE], False, 0.25) == "gain"


def test_regression_is_a_median_worse_than_the_bound():
    assert ab.verdict(BASE, [x * 1.3 for x in BASE], True, 0.25) == "regression"
    assert ab.verdict(BASE, [x * 1.2 for x in BASE], True, 0.25) == "flat"
    assert ab.verdict(BASE, [x * 0.7 for x in BASE], False, 0.25) == "regression"


def test_unresolved_when_the_base_spreads_wider_than_the_bound():
    wide = [60.0, 140.0, 70.0, 130.0, 100.0, 65.0, 135.0, 100.0, 90.0, 110.0]
    assert ab.verdict(wide, [x - 5 for x in wide], True, 0.25) == "unresolved"
