import math

import pytest
from stats import geomean, percentile, tail_percentile


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(39) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    for n in range(20, 2000, 7):
        p = tail_percentile(n)
        assert n - math.ceil(n * p / 100) >= 10


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values[::-1], 99) == 99
    assert percentile([3.0], 75) == 3.0


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    assert geomean([]) == 0.0
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
