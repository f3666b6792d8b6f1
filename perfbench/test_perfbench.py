"""Tests of the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from checks import check_p1, check_p2_lsh  # noqa: E402
from gen import SOURCE_BREAK_SHARE, _sources  # noqa: E402
from spans import Span, attribute_job, covered, driver_idle_share, self_times  # noqa: E402
from spread import quartile_spread, summarise, tail_percentile  # noqa: E402


def _span(i, parent, start, end, layer="l"):
    return Span(i, parent, layer, f"f{i}", "q", start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: a pool thread
        _span(3, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_self_times_of_a_tree_sum_to_its_root_without_overlap():
    spans = [_span(0, None, 0.0, 9.0), _span(1, 0, 0.5, 3.0), _span(2, 1, 1.0, 2.0),
             _span(3, 0, 3.0, 8.5)]
    assert sum(self_times(spans).values()) == pytest.approx(9.0)


def test_job_attribution_prefers_group_then_innermost_open_span():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 1, 3.0, 4.0)]
    assert attribute_job(spans, "w:q:l.f#1", 3.5).id == 1
    assert attribute_job(spans, None, 3.5).id == 2
    assert attribute_job(spans, None, 4.5).id == 1
    assert attribute_job(spans, "other-group", 6.0).id == 0
    assert attribute_job(spans, None, 11.0) is None


def test_driver_idle_share():
    assert driver_idle_share(0.0, 2.0, 4) == 1.0
    assert driver_idle_share(8.0, 2.0, 4) == 0.0
    assert driver_idle_share(2.0, 2.0, 4) == pytest.approx(0.75)
    assert driver_idle_share(1.0, 0.0, 4) == 0.0


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.6, 9.7]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / med)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    p, v = tail_percentile([float(i) for i in range(1, 21)])
    assert p == 50 and v == 10.0
    p, v = tail_percentile([float(i) for i in range(1, 101)])
    assert p == 90 and v == 90.0
    s = summarise([float(i) for i in range(1, 201)])
    assert s["n"] == 200 and s["p95"] == 190.0 and s["median"] == 100.5


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("n", [10, 400, 801])
def test_source_blocks_change_at_fixed_shares(seed, n):
    src = _sources(np.random.default_rng(seed), n)
    k = int(n * SOURCE_BREAK_SHARE)
    assert sum(src[i] != src[i + 1] for i in range(n - 1)) == k
    assert sum(src[i] != src[i + 2] for i in range(n - 2)) == 2 * k


def test_check_p1_requires_both_labels():
    source = {0: "a", 1: "a", 2: "a", 3: "b"}
    cols = ["srcId", "dstId", "label", "prediction"]
    assert check_p1(source, cols, [("0", "2", 1, 1.0), ("1", "3", 0, 0.0)])
    assert not check_p1(source, cols, [("0", "2", 0, 1.0), ("1", "3", 0, 0.0)])
    same = {d: "a" for d in range(4)}
    assert not check_p1(same, cols, [("0", "2", 1, 1.0), ("1", "3", 1, 1.0)])


def test_check_p2_lsh_recomputes_jaccard():
    sets = {"1": frozenset(range(10)), "2": frozenset(range(9)), "3": frozenset(range(7))}
    cols = ["srcId", "dstId", "jaccardSimilarity"]
    assert check_p2_lsh(sets, cols, [("1", "2", 0.9)])
    assert not check_p2_lsh(sets, cols, [("1", "2", 0.95)])  # reported value is wrong
    assert not check_p2_lsh(sets, cols, [("1", "3", 0.7)])  # below the threshold
    assert not check_p2_lsh(sets, cols, [("2", "1", 0.9)])  # not canonical
    assert not check_p2_lsh(sets, cols, [("1", "9", 0.9)])  # not in the sample
