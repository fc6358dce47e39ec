from percentiles import tail_percentile


def test_too_few_samples_have_no_tail():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_eleven_samples_give_the_minimum_with_ten_beyond():
    samples = [float(i) for i in range(11, 0, -1)]
    assert tail_percentile(samples) == (1.0, 9, 10)


def test_hundred_samples_give_p90():
    samples = [float(i) for i in range(1, 101)]
    assert tail_percentile(samples) == (90.0, 90, 10)


def test_twenty_samples_give_the_median():
    samples = [float(i) for i in range(1, 21)]
    value, pct, beyond = tail_percentile(samples)
    assert (value, pct, beyond) == (10.0, 50, 10)
