import threading
import types

import pytest

import tracing
from tracing import Span, Tracer, self_times, summarize


def _span(sid, start, end, parent=None, name="x"):
    return Span(name, start, end, sid, parent, None)


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),   # overlaps span 2: [1, 5] counted once
        _span(4, 8.0, 12.0, parent=1),  # clipped to the parent's end
        _span(5, 2.5, 2.75, parent=3),  # grandchild: only its parent loses it
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.25)


def test_self_time_of_leaf_is_its_duration():
    assert self_times([_span(1, 2.0, 2.5)]) == {1: pytest.approx(0.5)}


def test_nested_wrappers_record_parent_and_request():
    tr = Tracer()
    inner = tr.wrap("inner", lambda: [1])
    outer = tr.wrap("outer", lambda: inner() + inner())
    with tr.request("topk:1"):
        assert outer() == [1, 1]
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    (o,) = by_name["outer"]
    assert [s.parent for s in by_name["inner"]] == [o.span_id, o.span_id]
    assert {s.request for s in tr.spans} == {"topk:1"}
    assert o.parent is None
    summ = summarize(tr.spans)
    assert summ["inner"]["calls"] == 2 and summ["inner"]["truthy"] == 2
    assert summ["outer"]["self_s"] <= summ["outer"]["total_s"]


def test_threads_keep_their_own_parents_and_requests():
    tr = Tracer()
    leaf = tr.wrap("leaf", lambda: None)
    barrier = threading.Barrier(4)

    def client(i):
        with tr.request(f"topk:{i}"):
            with tr.span("root"):
                barrier.wait(timeout=10)
                leaf()

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    roots = {s.span_id: s.request for s in tr.spans if s.name == "root"}
    leaves = [s for s in tr.spans if s.name == "leaf"]
    assert len(leaves) == 4
    for s in leaves:
        assert roots[s.parent] == s.request


def test_install_patches_lookup_site_and_uninstall_restores():
    mod = types.ModuleType("fake_layer")

    def f(x):
        return [x]

    class C:
        def m(self, x):
            return [x, x]

    mod.f, mod.C = f, C
    import sys

    sys.modules["fake_layer"] = mod
    try:
        orig_m = C.__dict__["m"]
        tr = Tracer()
        undo = tracing.install(
            tr, (("fake_layer", "f", "layer.f"), ("fake_layer:C", "m", "layer.m"))
        )
        assert mod.f(3) == [3] and C().m(4) == [4, 4]
        assert [s.name for s in tr.spans] == ["layer.f", "layer.m"]
        undo()
        assert mod.f is f and C.__dict__["m"] is orig_m
    finally:
        del sys.modules["fake_layer"]


def test_written_bytes_counts_new_and_changed_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 5)
    before = tracing.tree_files(str(tmp_path))
    (tmp_path / "c").write_bytes(b"z" * 7)
    (tmp_path / "b").write_bytes(b"y" * 6)
    after = tracing.tree_files(str(tmp_path))
    assert tracing.written_bytes(before, after) == 13
    assert tracing.tree_bytes(str(tmp_path)) == 23
