import threading

import pytest

from perfbench.run import percentile_with_tail
from perfbench.tracing import Recorder, union_length


class Layer:
    def outer(self, inner):
        return inner()

    def inner(self):
        return 7


def test_spans_nest_on_one_thread_and_across_threads():
    rec = Recorder()
    rec.wrap(Layer, "outer", "outer")
    rec.wrap(Layer, "inner", "inner")
    try:
        layer = Layer()
        rec.set_op(3)

        def from_other_thread():
            t = threading.Thread(target=layer.inner)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
            return layer.inner()

        assert layer.outer(from_other_thread) == 7
    finally:
        rec.uninstall()
    outer, threaded, inner = rec.spans
    assert (outer.name, outer.parent) == ("outer", None)
    # a thread with no open span of its own nests under the benchmark thread
    assert (threaded.name, threaded.parent) == ("inner", 0)
    assert (inner.name, inner.parent) == ("inner", 0)
    assert all(s.op == 3 for s in rec.spans)
    assert all(outer.start <= s.start <= s.end <= outer.end for s in rec.spans)
    assert Layer.inner.__qualname__ == "Layer.inner"  # unwrapped again


def test_span_closes_when_the_call_raises():
    rec = Recorder()
    rec.wrap(Layer, "inner", "inner")
    try:
        with pytest.raises(ZeroDivisionError):
            Layer().outer(lambda: 1 / 0)
        Layer().inner()
    finally:
        rec.uninstall()
    assert [s.parent for s in rec.spans] == [None]
    assert rec.spans[0].end >= rec.spans[0].start


def test_union_length_clips_and_merges():
    assert union_length([], 0, 1) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert union_length([(2, 3)], 0, 1) == 0


def test_p90_needs_ten_samples_beyond_it():
    assert percentile_with_tail([float(i) for i in range(90)], 0.9) is None
    for n in range(2, 130):
        values = [float(i) for i in range(n)]
        p90 = percentile_with_tail(values, 0.9)
        assert (p90 is None) == (n < 92), n
        if p90 is not None:
            assert sum(v > p90 for v in values) >= 10
    values = [float(i) for i in range(1, 101)]
    p90 = percentile_with_tail(values, 0.9)
    assert sum(v > p90 for v in values) == 10
    assert percentile_with_tail(values, 0.5) == pytest.approx(50.5)


class FakeContext:
    """Records SparkContext.setLocalProperty per thread."""

    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        self.props[(threading.get_ident(), key)] = value


def test_each_thread_carries_its_innermost_span():
    sc = FakeContext()
    rec = Recorder(sc)
    seen = []

    class Probe:
        def call(self):
            seen.append(sc.props.get((threading.get_ident(), "perfbench.span")))

    rec.wrap(Probe, "call", "probe")
    try:
        rec.set_op(0)
        Probe().call()
        t = threading.Thread(target=Probe().call)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    finally:
        rec.uninstall()
    assert seen == ["0", "1"]
    assert all(v is None for (_, k), v in sc.props.items() if k == "perfbench.span")
    assert sc.props[(threading.get_ident(), "perfbench.op")] == "0"
