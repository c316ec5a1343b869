import threading
import types

import pytest
import spans
from spans import Span, Tracer


def closed(sid, start, end, parent=None, query="q"):
    s = Span(sid, f"s{sid}", "layer", start, parent, query)
    s.end = end
    return s


def test_self_time_subtracts_nested_children():
    tree = [closed(0, 0, 10), closed(1, 1, 4, 0), closed(2, 2, 3, 1), closed(3, 5, 7, 0)]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10 - 3 - 2)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10)


def test_self_time_counts_overlapping_children_once_and_clips_to_parent():
    tree = [closed(0, 0, 10), closed(1, 2, 6, 0), closed(2, 4, 8, 0), closed(3, 9, 12, 0)]
    st = spans.self_times(tree)
    # union of children inside [0, 10]: [2, 8] and [9, 10] -> 7
    assert st[0] == pytest.approx(3)


def test_open_spans_have_no_self_time():
    assert spans.self_times([Span(0, "s", "l", 0.0, None, None)]) == {}


def fake_clock(values):
    it = iter(values)
    return lambda: next(it)


class FakeSC:
    def __init__(self):
        self.props = {}
        self.log = []

    def setLocalProperty(self, key, value):
        self.props[key] = value
        if key == "spark.jobGroup.id":
            self.log.append(value)


def test_spans_set_and_restore_job_groups():
    sc = FakeSC()
    tr = Tracer(sc, clock=fake_clock(range(100)))
    tr.query = "0:q"
    with tr.span("build", "build") as outer:
        with tr.span("op", "operators.x") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
    assert sc.props["spark.jobGroup.id"] is None
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.query == outer.query == "0:q"
    assert sc.log == [outer.group, inner.group, outer.group, None]


def test_jobs_are_attributed_by_group_then_by_submission_time():
    tree = [closed(0, 0, 10), closed(1, 2, 5, 0), closed(2, 6, 9, 0)]
    jobs = [
        {"id": 1, "group": tree[1].group, "submitted": 8.0},  # group wins over time
        {"id": 2, "group": None, "submitted": 3.0},  # innermost span holding t=3
        {"id": 3, "group": "someone-else", "submitted": 9.5},  # only the root holds t=9.5
        {"id": 4, "group": None, "submitted": 42.0},  # outside every span
    ]
    left = spans.attribute_jobs(tree, jobs)
    assert [j["id"] for j in tree[1].jobs] == [1, 2]
    assert [j["id"] for j in tree[0].jobs] == [3]
    assert tree[2].jobs == []
    assert [j["id"] for j in left] == [4]
    assert [s.sid for s in spans.subtree(tree, tree[0])] == [0, 2, 1]


def test_helper_thread_spans_are_parented_to_the_main_threads_open_span():
    tr = Tracer(None)
    seen = {}
    with tr.span("build", "build") as outer:
        t = threading.Thread(target=lambda: seen.setdefault("s", tr.open("w", "sources.x")))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert seen["s"].parent == outer.sid


def test_install_wraps_every_binding_and_uninstall_restores(tmp_path):
    import sys

    def write_thing(t, path):
        with open(path, "wb") as fh:
            fh.write(b"x" * 123)
        return "done"

    mod = types.ModuleType("ezdata_spark_fake_a")
    mod.write_thing = write_thing
    other = types.ModuleType("ezdata_spark_fake_b")
    other.write_thing = write_thing  # a module-level "from a import write_thing"
    sys.modules[mod.__name__] = mod
    sys.modules[other.__name__] = other
    try:
        tr = Tracer(None)
        tr.install([(mod.__name__, "write_thing", "sources.fake")])
        assert mod.write_thing is not write_thing and other.write_thing is mod.write_thing
        assert mod.write_thing.__wrapped__ is write_thing
        assert mod.write_thing.__qualname__ == write_thing.__qualname__
        assert other.write_thing(None, str(tmp_path / "g.bin")) == "done"
        (span,) = tr.spans
        assert (span.layer, span.bytes_written) == ("sources.fake", 123)
        assert span.end is not None
        tr.uninstall()
        assert mod.write_thing is write_thing and other.write_thing is write_thing
    finally:
        del sys.modules[mod.__name__], sys.modules[other.__name__]
