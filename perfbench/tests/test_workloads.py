from workloads import Op, PassResult, Workload


class _Fixed(Workload):
    """A workload whose pass is one instant operation (no Spark)."""

    min_timed_passes = 3

    def one_pass(self, tag):
        return [Op(f"{tag}.a", "query", "a")]

    def reference(self):
        self.reference_s.append(1.0)


def _pass(tag, seconds, timed=True):
    ops = [Op(f"{tag}.{name}", "query", name, seconds=s) for name, s in seconds.items()]
    return PassResult(sum(seconds.values()), ops, timed)


def test_typical_pass_takes_each_operations_median_over_timed_passes():
    wl = Workload(None, "", 0)
    wl.passes = [
        _pass("w0", {"a": 9.0, "b": 9.0}, timed=False),
        _pass("p0", {"a": 1.0, "b": 5.0}),
        _pass("p1", {"a": 3.0, "b": 2.0}),
        _pass("p2", {"a": 2.0, "b": 4.0}),
    ]
    assert wl.typical_pass_s() == 2.0 + 4.0


def test_run_makes_the_minimum_of_timed_passes_after_the_warm_up():
    wl = _Fixed(None, "", 0)
    wl.warm_up()
    wl.run(0.0)
    assert [p.timed for p in wl.passes] == [False, False, True, True, True]
    assert [op.op_id for op in wl.ops()] == ["w0.a", "w1.a", "p0.a", "p1.a", "p2.a"]
    assert not wl.warming
    # timed before the first timed pass and after each; the warm-up's is dropped
    assert len(wl.reference_s) == 4


def test_run_stops_at_max_passes():
    wl = _Fixed(None, "", 0)
    wl.run(60.0, max_passes=1)
    assert len(wl.timed_passes()) == 1
