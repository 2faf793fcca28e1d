import pytest

from perfbench.stats import OpLog, OpRecord, beyond, median, quantile, tail_percentile


def op(ok=True, seconds=1.0, cycle=0, measured=True, kind="read"):
    return OpRecord("q", kind, cycle, 0.0, seconds, ok, measured)


def test_quantile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert quantile(xs, 0.5) == 50
    assert quantile(xs, 0.9) == 90
    assert quantile(xs, 1.0) == 100
    assert quantile([7.0], 0.99) == 7.0
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


@pytest.mark.parametrize(
    "n, level",
    [(19, None), (20, 0.5), (39, 0.5), (40, 0.75), (100, 0.9), (199, 0.9), (200, 0.95), (1000, 0.99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, level):
    xs = [float(i) for i in range(n)]
    got = tail_percentile(xs)
    if level is None:
        assert got is None
        return
    q, value = got
    assert q == level
    assert beyond(xs, q) >= 10
    assert sum(1 for x in xs if x > value) >= 10
    # the next level up would leave fewer than ten samples beyond it
    higher = [lv for lv in (0.99, 0.95, 0.9, 0.75, 0.5) if lv > q]
    assert all(beyond(xs, lv) < 10 for lv in higher)


def test_latencies_skip_unmeasured_ops():
    log = OpLog()
    log.add(op(seconds=1.0, cycle=0))
    log.add(op(seconds=2.0, cycle=0))
    log.add(op(seconds=5.0, cycle=1, ok=False))
    log.add(op(seconds=9.0, cycle=1, measured=False))
    assert log.latencies() == [1.0, 2.0, 5.0]
    assert log.cycles() == [0, 1]
    assert log.cycle_seconds() == [3.0, 5.0]


def test_empty_log_has_no_errors():
    assert OpLog().error_rate() == 0.0


def test_geomean():
    from perfbench.stats import geomean

    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        geomean([])
