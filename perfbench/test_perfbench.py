"""Self-tests of the benchmark's statistics and correctness checkers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import (  # noqa: E402
    check_analytics,
    check_exactly_once,
    check_file_split,
    check_kafka,
    multiset,
)
from harness import covered_seconds, geomean, percentile, quartile_spread  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0) == 1
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 25) == 2
    assert percentile([10, 20], 99) == pytest.approx(19.9)
    assert percentile([7.5], 99) == 7.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert quartile_spread([2.0] * 10) == 0.0


def test_geomean_and_coverage():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    # overlapping and clipped intervals count once
    assert covered_seconds([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == pytest.approx(5.0)
    assert covered_seconds([(None, 2)], 0, 10) == 0.0


def test_analytics_checker_is_strict_on_types_and_multisets():
    cols = ["b", "a"]
    want = {"q": (["a", "b"], [(1, "x"), (2, "y")])}
    same = {"q": (cols, [("y", 2), ("x", 1)])}  # reordered rows and columns
    assert check_analytics(same, want)[:3] == (1, 0, True)
    float_not_int = {"q": (cols, [("x", 1.0), ("y", 2)])}
    assert check_analytics(float_not_int, want)[1] == 1
    assert check_analytics({"q": (cols, [])}, {"q": (["a", "b"], [])})[1] == 1
    assert check_analytics({"q": "ValueError: boom"}, want)[1] == 1
    assert multiset(["a"], [(float("nan"),)]) == ["f:nan"]


def test_exactly_once_counts_missing_duplicates_and_strays():
    attempted, failed, correct, d = check_exactly_once([1, 2, 3], [1, 1, 3, 9])
    assert (attempted, failed, correct) == (3, 2, False)
    assert (d["missing"], d["duplicated"], d["unexpected"]) == (1, 1, 1)


def test_kafka_checker_expects_every_unfiltered_id_once():
    grp = [0, 1, 2, 0, 5, 6]
    ok = check_kafka(grp, 1, 6, [1, 2, 4, 5], bad_content=0)
    assert ok[:3] == (5, 0, True)
    lost_and_dup = check_kafka(grp, 1, 6, [1, 1, 2, 5], bad_content=0)
    assert lost_and_dup[:3] == (5, 2, True)
    filtered_leaked = check_kafka(grp, 1, 6, [1, 2, 3, 4, 5], bad_content=0)
    assert filtered_leaked[2] is False
    assert check_kafka(grp, 1, 6, [1, 2, 4, 5], bad_content=1)[2] is False


def test_file_checker_splits_destination_and_dlq():
    grp = [1, 0, 1, 1, 0, 1, 0, 1]  # ids 0..7, DLQ every 4th id
    dest, dlq = [2, 3, 5, 7], [0, 4]
    assert check_file_split(grp, 8, dest, dlq, 4)[:3] == (8, 0, True)
    # an errored record the filter also matches (id 4) must still reach
    # the DLQ: losing it is a failure
    assert check_file_split(grp, 8, dest, [0], 4)[:3] == (8, 1, True)
    # a DLQ record in the destination is misrouted
    assert check_file_split(grp, 8, dest + [0], dlq, 4)[2] is False
