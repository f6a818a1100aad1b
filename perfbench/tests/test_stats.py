from stats import median, quartile_spread, tail, union_length


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 31))  # 30 samples
    value, pct = tail(xs)
    assert value == 20
    assert sum(1 for x in xs if x > value) == 10
    assert abs(pct - 100 * 20 / 30) < 1e-9


def test_tail_is_the_highest_such_percentile():
    xs = [5.0] * 50 + [float(i) for i in range(100, 111)]  # 61 samples
    value, _ = tail(xs)
    # 10 beyond, and the next sample up would leave only 9 beyond it
    assert value == 100.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_of_ten_or_fewer_is_the_interpolated_90th_percentile():
    assert tail([3.0, 1.0, 2.0]) == (2.8, 90.0)
    assert tail([1.0, 2.0, 3.0, 4.0, 5.0, 7.0]) == (6.0, 90.0)  # two largest
    assert abs(tail(list(range(10)))[0] - 8.1) < 1e-12
    assert tail([4.0]) == (4.0, 90.0)
    assert tail([]) == (0.0, 0.0)


def test_tail_ignores_order():
    xs = [9, 1, 7, 3, 5, 2, 8, 4, 6, 10, 11, 12]
    assert tail(xs)[0] == sorted(xs)[1]


def test_median_and_spread():
    assert median([3, 1, 2]) == 2
    vs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q3 = 2.75, 8.25  # statistics.quantiles default (exclusive) method
    assert abs(quartile_spread(vs) - (q3 - q1) / 5.5) < 1e-12


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
