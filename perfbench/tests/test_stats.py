import statistics

import pytest

from perfbench.stats import describe, percentile, spread, tail_percentile


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    # 500 samples: p99 leaves 5 above its rank, p98 leaves exactly 10
    values = [float(i) for i in range(1, 501)]
    assert tail_percentile(values) == (98.0, 490.0)
    # 100 samples: p90 is the first with 10 beyond
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    # 1,000 samples: p99 leaves 10 beyond
    assert tail_percentile([float(i) for i in range(1, 1001)])[0] == 99.0


def test_no_tail_for_small_samples():
    assert tail_percentile([1.0] * 39) is None
    assert tail_percentile([]) is None


def test_nearest_rank_percentile():
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 100) == 5.0
    assert percentile([7.0], 98) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_describe_states_sample_count():
    assert describe([1.0, 2.0, 3.0]) == "median 2 (n=3)"
    text = describe([float(i) for i in range(1, 501)])
    assert "(n=500)" in text and "p98 490" in text


def test_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 30.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / 14.5)
