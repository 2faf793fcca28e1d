from perfbench.run import Bench


def bench():
    return Bench(spark=None, work="", seed=1, trace=False, cpus=1)


def boom():
    raise RuntimeError("operation failed")


def test_failed_and_wrong_results_both_count_as_errors():
    b = bench()
    b.measuring = True
    assert b.op("good", "read", lambda: 41, lambda r: r == 41) == 41
    b.op("wrong", "read", lambda: 40, lambda r: r == 41)
    b.op("raises", "read", boom, lambda r: True)
    b.op("check_raises", "read", lambda: None, lambda r: r["missing"])
    assert b.log.attempted == 4
    assert b.log.failed == 3
    assert b.log.error_rate() == 0.75
    assert [o.name for o in b.log.ops if o.ok] == ["good"]


def test_unmeasured_operations_are_checked_but_not_timed():
    # set-up and end-state checks count as attempted, but carry no latency
    b = bench()
    b.op("setup_check", "verify", lambda: 1, lambda r: r == 2)
    assert b.log.failed == 1 and b.log.latencies() == []
