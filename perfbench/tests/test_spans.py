"""Span recording, binding patches and self-time arithmetic."""

from __future__ import annotations

import sys
import threading
import types

import pytest

from perfbench.spans import Span, Tracer, clipped, self_times, union_length


def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5
    assert union_length([(1, 1), (3, 2)]) == 0
    assert union_length([(2, 3), (0, 1), (0.5, 2.5)]) == 3


def test_clipped_keeps_only_the_overlap():
    assert clipped([(0, 2), (3, 9), (10, 12)], 1, 10) == [(1, 2), (3, 9)]


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", 0.0, 10.0, None, 0, 1),
        Span("a", 1.0, 4.0, 0, 0, 1),
        Span("b", 2.0, 3.0, 1, 0, 1),
        # two overlapping children on other threads: covered once
        Span("c", 5.0, 8.0, 0, 0, 2),
        Span("c", 6.0, 9.0, 0, 0, 3),
        # a child running past its parent counts only inside it
        Span("d", 9.5, 12.0, 0, 0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (3 + 4 + 0.5))
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(2.5)


def test_self_times_sum_to_root_wall_time():
    spans = [
        Span("op", 0.0, 6.0, None, 0, 1),
        Span("x", 0.5, 2.0, 0, 0, 1),
        Span("y", 2.0, 5.0, 0, 0, 1),
        Span("z", 3.0, 4.0, 2, 0, 1),
    ]
    assert sum(self_times(spans)) == pytest.approx(6.0)


def _fake_package():
    pkg = "fakepkg_spans"
    core = types.ModuleType(f"{pkg}.core")

    def work(x):
        return helper(x) + 1

    def helper(x):
        return x * 2

    work.__module__ = helper.__module__ = core.__name__
    core.work, core.helper = work, helper
    user = types.ModuleType(f"{pkg}.user")
    user.work = work  # a by-name import
    sys.modules[core.__name__] = core
    sys.modules[user.__name__] = user
    return pkg, core, user


def test_patch_function_covers_by_name_imports_and_unpatches():
    pkg, core, user = _fake_package()
    try:
        original = core.work
        t = Tracer()
        t.patch_function(core, "work", "core.work", pkg, count=lambda out: out)
        assert core.work is user.work and core.work is not original
        t.enabled = True
        with t.op_span(0, "op"):
            assert user.work(3) == 7
        t.enabled = False
        assert user.work(1) == 3  # still correct, not recorded
        assert [s.name for s in t.spans] == ["op", "core.work"]
        assert t.spans[1].parent == 0 and t.spans[1].op == 0
        assert t.counts["core.work"] == [7]
        t.unpatch()
        assert core.work is original and user.work is original
    finally:
        sys.modules.pop(core.__name__)
        sys.modules.pop(user.__name__)


def test_patch_module_wraps_each_function_once():
    pkg, core, user = _fake_package()
    try:
        originals = (core.work, core.helper)
        t = Tracer()
        t.patch_module(core, "core", pkg)
        t.patch_module(core, "core", pkg)
        t.enabled = True
        with t.op_span(0, "op"):
            assert core.work(3) == 7 and core.helper(1) == 2
        assert [s.name for s in t.spans] == ["op", "core.work", "core.helper"]
        t.unpatch()
        assert (core.work, core.helper) == originals
    finally:
        sys.modules.pop(core.__name__)
        sys.modules.pop(user.__name__)


def test_spans_from_another_thread_parent_to_the_open_op_span():
    t = Tracer()
    t.enabled = True

    def callback():
        with t.span("stream.batch"):
            pass

    with t.op_span(4, "op"):
        with t.span("run_stream"):
            th = threading.Thread(target=callback)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
    names = {s.name: i for i, s in enumerate(t.spans)}
    batch = t.spans[names["stream.batch"]]
    assert batch.parent == names["run_stream"] and batch.op == 4
    assert batch.thread != t.spans[names["op"]].thread


def test_patch_method_and_failure_keeps_stack_balanced():
    class Store:
        def read(self):
            raise ValueError("boom")

    t = Tracer()
    t.patch_method(Store, "read", "store.read")
    t.enabled = True
    with pytest.raises(ValueError):
        with t.op_span(0, "op"):
            Store().read()
    assert t.op is None and t._op_stack == []
    assert all(s.end >= s.start for s in t.spans)
    t.unpatch()
