"""Unit tests of the result comparison used against the DuckDB oracles and
of the median estimator behind ``op_p50_s``.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from run import hd_median
from workloads import match


def _frame(**cols):
    return pd.DataFrame(cols)


def test_same_cells_in_any_order_match_exactly():
    a = _frame(k=[1, 2, 3], v=[0.5, 1.25, 2.0])
    b = a.iloc[::-1][["v", "k"]]
    assert match(a, b) == "exact"


def test_date_and_midnight_timestamp_match_exactly():
    a = _frame(d=[dt.date(2024, 1, 2)], n=[1])
    b = _frame(d=[pd.Timestamp("2024-01-02")], n=[1])
    assert match(a, b) == "exact"


def test_cent_tie_passes_only_as_cent():
    a = _frame(k=["x", "y"], total=[1000.005, 7.5])
    b = _frame(k=["y", "x"], total=[7.5, 1000.015])
    assert match(a, b) == "cent"


def test_cent_tie_on_a_large_sum_passes_as_cent():
    a = _frame(k=[81], total=[16873144.87])
    b = _frame(k=[81], total=[16873144.86])
    assert match(a, b) == "cent"
    assert match(a, _frame(k=[81], total=[16873144.85])) is None


def test_gap_above_a_cent_fails_even_within_six_digits():
    a = _frame(k=["x"], total=[1234567.0])
    b = _frame(k=["x"], total=[1234568.0])
    assert match(a, b) is None


def test_int_against_float_fails_as_in_the_gate():
    a = _frame(k=["x"], n=[2996])
    b = _frame(k=["x"], n=[2996.0])
    assert match(a, b) is None


def test_key_difference_fails():
    a = _frame(k=["x"], total=[1.0])
    b = _frame(k=["z"], total=[1.0])
    assert match(a, b) is None


def test_shape_difference_fails():
    assert match(_frame(k=[1]), _frame(k=[1, 2])) is None
    assert match(_frame(k=[1]), _frame(j=[1])) is None


def test_hd_median_is_the_median_on_symmetric_and_large_samples():
    assert hd_median([5.0]) == 5.0
    assert abs(hd_median([1.0, 2.0, 3.0]) - 2.0) < 1e-9
    assert abs(hd_median([1.0, 2.0, 3.0, 4.0]) - 2.5) < 1e-9
    x = np.random.default_rng(0).normal(10.0, 1.0, 2001)
    assert abs(hd_median(x) - np.median(x)) < 0.05


def test_hd_median_moves_less_than_the_middle_value_across_a_gap():
    low = [1.0, 1.0, 1.0, 1.1, 1.2, 1.25, 1.8, 1.9, 2.0, 2.5, 3.0]
    high = [1.0, 1.0, 1.0, 1.1, 1.2, 1.75, 1.8, 1.9, 2.0, 2.5, 3.0]
    assert np.median(high) - np.median(low) == 0.5
    assert hd_median(high) - hd_median(low) < 0.25
