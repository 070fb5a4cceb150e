from stats import beyond, median, p95, percentile


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 95) == 95
    assert percentile(xs, 50) == 50
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_p95_needs_200_samples_for_ten_beyond():
    assert beyond(200, 95) == 10
    assert p95(list(range(200))) == 189
    # one sample short, p95 would leave only 9 beyond it
    assert beyond(199, 95) == 9
    assert p95(list(range(199))) is None
