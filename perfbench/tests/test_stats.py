import pytest

from stats import percentile, summarize, supported_percentile


def test_supported_percentile_needs_ten_samples_beyond():
    assert supported_percentile(19) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(39) == 50.0
    assert supported_percentile(40) == 75.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(199) == 90.0
    assert supported_percentile(200) == 95.0
    assert supported_percentile(1000) == 99.0
    assert supported_percentile(10_000) == 99.9


def test_percentile_interpolates_between_order_statistics():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_and_unsupported_tail():
    small = summarize([0.3, 0.1, 0.2])
    assert small == {"n": 3, "p50": 0.2, "tail_p": None, "tail": None}
    big = summarize([float(i) for i in range(1, 101)])
    assert big["n"] == 100 and big["tail_p"] == 90.0
    assert big["tail"] == pytest.approx(90.1)
    assert big["p50"] == 50.5
