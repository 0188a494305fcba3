import pytest

from perfbench import tracing
from perfbench.tracing import Span, Tracer, self_times


def test_self_time_subtracts_merged_children():
    spans = [
        Span(1, "pass", "t", None, 0.0, 10.0),
        Span(2, "a", "t", 1, 1.0, 4.0),
        Span(3, "b", "t", 1, 3.0, 6.0),     # overlaps a: union 1..6
        Span(4, "c", "t", 1, 8.0, 12.0),    # clipped to the parent's end
        Span(5, "a.inner", "t", 2, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeContext:
    def __init__(self):
        self.props = {"spark.job.description": "stream batch 3"}

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setJobDescription(self, value):
        self.setLocalProperty("spark.job.description", value)


def test_segments_tile_the_root_and_tag_spark():
    clock, sc = FakeClock(), FakeContext()
    tr = Tracer(sc, clock=clock)
    root = tr.begin("pass", "p1")
    clock.t = 1.0
    tr.segment("normalize")
    assert sc.props[tracing.LAYER_PROP] == "normalize"
    assert sc.props[tracing.TRACE_PROP] == "p1"
    assert sc.props["spark.job.description"] == "perfbench p1 normalize"
    clock.t = 3.0
    tr.segment("signatures")
    clock.t = 6.0
    tr.end()
    kids = tr.children(root)
    assert [(k.name, k.duration) for k in kids] == [("normalize", 2.0),
                                                    ("signatures", 3.0)]
    assert root.duration == 6.0
    # tags cleared, the caller's own job description restored
    assert tracing.LAYER_PROP not in sc.props
    assert sc.props["spark.job.description"] == "stream batch 3"
    dumped = {d["name"]: d["self_time"] for d in tr.dump()}
    assert dumped["pass"] == pytest.approx(1.0)


def test_segment_without_root_is_ignored():
    tr = Tracer()
    tr.segment("normalize")
    assert tr.spans == [] and tr.current() is None


def test_patches_wrap_and_undo():
    class Owner:
        @staticmethod
        def fn(x):
            return x + 1

    tr = Tracer(clock=FakeClock())
    p = tracing.Patches()
    p.wrap(Owner, "fn", tracing._enter(tr, "verify"))
    tr.enabled = True
    tr.begin("pass", "p1")
    assert Owner.fn(1) == 2
    assert tr.current() == "verify"
    p.undo()
    assert Owner.fn.__name__ == "fn" and not hasattr(Owner.fn, "__wrapped__")
