import pytest

from perfbench.workloads import Stopwatch


class FakeRuntime:
    cpu = 0.0

    def cpu_s(self):
        return self.cpu


def test_stopwatch_leaves_out_unmeasured_stretches():
    rt = FakeRuntime()
    watch = Stopwatch(rt)
    rt.cpu = 2.0
    with watch.unmeasured():
        rt.cpu = 5.0
    rt.cpu = 6.0
    res = watch.result([], {"replay_identical": True})
    assert res.cpu == pytest.approx(3.0)
    assert res.extra == {"replay_identical": True}
    assert 0.0 <= res.wall < 1.0
