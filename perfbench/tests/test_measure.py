"""Percentiles with their sample count, span unions and the top-k
comparison used by the BM25 check."""

import pytest

from perfbench.measure import Tracer, percentile, union_seconds
from perfbench.oracle import same_ranking


def test_percentile_nearest_rank_and_counts():
    values = list(range(1, 101))  # 1..100
    p90 = percentile(values, 0.9)
    assert p90 == {"value": 90, "n": 100, "n_beyond": 10}
    p50 = percentile(values, 0.5)
    assert p50 == {"value": 50, "n": 100, "n_beyond": 50}


def test_percentile_small_sample_reports_too_few_beyond():
    # with 9 samples a p90 has no sample beyond it: the count says so
    p90 = percentile([5, 1, 4, 2, 3, 9, 8, 7, 6], 0.9)
    assert p90["value"] == 9 and p90["n"] == 9 and p90["n_beyond"] == 0


def test_percentile_ties_count_only_strictly_beyond():
    assert percentile([1, 2, 2, 2, 3], 0.5) == {"value": 2, "n": 5, "n_beyond": 1}


@pytest.mark.parametrize("bad", [[], None])
def test_percentile_rejects_no_samples(bad):
    with pytest.raises((ValueError, TypeError)):
        percentile(bad, 0.5)


def test_percentile_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        percentile([1.0], 1.0)


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_seconds([]) == 0


def test_tracer_nesting_phase_and_hook():
    seen = []
    tr = Tracer(enabled=True, on_enter=lambda s: seen.append(None if s is None else s.name))
    tr.phase = "timed"
    with tr.span("outer", "index"):
        with tr.span("inner", "search"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert [s.name for s in tr.select("timed") if s.parent is None] == ["outer"]
    assert seen == ["outer", "inner", "outer", None]
    assert outer.t0 <= inner.t0 <= inner.t1 <= outer.t1
    assert tr.hook_s["timed"] >= 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False, on_enter=lambda s: 1 / 0)
    with tr.span("x", "index") as s:
        assert s is None
    assert tr.spans == []


def test_same_ranking_tolerates_last_digit_and_cutoff_ties():
    want = [("a", 3.0), ("b", 2.0), ("c", 1.0)]
    assert same_ranking([("a", 3.0000005), ("b", 2.0), ("c", 1.0)], want)
    # a tie at the cut-off may be broken either way
    assert same_ranking([("a", 3.0), ("b", 2.0), ("d", 1.0)], want)
    assert not same_ranking([("a", 3.0), ("x", 2.0), ("c", 1.0)], want)
    assert not same_ranking([("a", 3.1), ("b", 2.0), ("c", 1.0)], want)
    assert not same_ranking(want[:2], want)
