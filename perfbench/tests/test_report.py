"""The percentile rule: a percentile is reported only where ten samples
lie beyond it, else the highest one that has ten beyond it."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.run import tail_percentile  # noqa: E402


def test_percentile_with_ten_samples_beyond_is_reported_as_asked():
    assert tail_percentile([float(i) for i in range(100)], 0.9) == (89.0, 0.9)


def test_percentile_falls_back_to_the_highest_with_ten_beyond():
    value, q = tail_percentile([float(i) for i in range(13)], 0.9)
    assert q == 3 / 13
    assert value == 2.0  # ten samples (3..12) lie beyond it


def test_no_percentile_under_eleven_samples():
    assert tail_percentile([1.0] * 10, 0.5)[0] is None
