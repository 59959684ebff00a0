"""The percentile rule: report the highest percentile with >= 10 samples beyond."""

from stats import highest_percentile, percentile, summary


def test_highest_percentile_needs_ten_samples_beyond():
    assert highest_percentile(100) == 90.0
    assert highest_percentile(99) == 75.0
    assert highest_percentile(40) == 75.0
    assert highest_percentile(20) == 50.0
    assert highest_percentile(19) is None
    assert highest_percentile(1000) == 99.0


def test_summary_reports_median_and_supported_tail():
    xs = [float(i) for i in range(1, 101)]
    assert summary(xs) == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert summary(xs[:12]) == {"n": 12, "p50": 6.5}
    assert percentile(xs, 90.0) == 90.0
