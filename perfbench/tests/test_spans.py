import pytest

from perfbench.spans import Span, Tracer, self_times, under


def test_self_time_subtracts_covered_children():
    spans = [
        Span(1, None, "merge_into", "mutable", 0.0, 10.0),
        Span(2, 1, "fsutil.rename", "fsutil", 1.0, 2.0),
        Span(3, 1, "spark.job", "spark", 1.5, 6.0),     # overlaps span 2
        Span(4, 1, "spark.job", "spark", 9.0, 12.0),    # runs past the op
        Span(5, 2, "fsutil.exists", "fsutil", 1.2, 1.4),
    ]
    got = self_times(spans)
    # op: 10 - union([1, 6], [9, 10]) = 10 - 6
    assert got["mutable"] == pytest.approx(4.0)
    # rename 1.0 - 0.2 nested exists, plus the exists itself
    assert got["fsutil"] == pytest.approx(0.8 + 0.2)
    assert got["spark"] == pytest.approx(4.5 + 3.0)


def test_under_keeps_the_roots_and_their_descendants():
    spans = [
        Span(1, None, "compact", "store", 0.0, 1.0),
        Span(2, 1, "fsutil.rename", "fsutil", 0.1, 0.2),
        Span(3, None, "write_points", "store", 2.0, 3.0),
        Span(4, 3, "fsutil.flip_lock", "fsutil", 2.1, 2.5),
        Span(5, 4, "fsutil.create_exclusive", "fsutil", 2.1, 2.2),
    ]
    assert sorted(s.id for s in under(spans, [3])) == [3, 4, 5]
    assert under(spans, []) == []


def test_tracer_nests_child_spans_under_the_op():
    t = Tracer()
    with t.op("lookup", "mutable") as root:
        with t.span("fsutil.read_text", "fsutil") as outer:
            with t.span("fsutil.exists", "fsutil"):
                pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["fsutil.read_text"].parent == root
    assert by_name["fsutil.exists"].parent == outer
    assert by_name["lookup"].parent is None


def test_wrappers_record_only_while_recording():
    import contextlib
    import types

    calls = []

    class HadoopFS:
        pass

    for name in ("exists", "exists_or_recover", "list_dirs", "read_text",
                 "write_text_atomic", "rename", "create_exclusive",
                 "promote_dir_tree"):
        setattr(HadoopFS, name, lambda self, *a, _n=name: calls.append(_n))
    HadoopFS.clone_dir_tree = lambda self, src, dst: 3

    @contextlib.contextmanager
    def flip_lock(fs, lock, what=""):
        yield

    fsutil = types.SimpleNamespace(HadoopFS=HadoopFS, flip_lock=flip_lock)
    other = types.SimpleNamespace(flip_lock=flip_lock)
    t = Tracer()
    restore = t.install(fsutil, other)
    fs = HadoopFS()
    fs.rename("a", "b")                       # not recording: no span
    t.recording = True
    with t.op("merge_into", "mutable") as root:
        fs.rename("a", "b")
        fs.clone_dir_tree("a", "b")
        with other.flip_lock(fs, "x"):
            fs.exists("x")                    # held, not waiting
    with t.op("lookup", "mutable"):
        fs.clone_dir_tree("a", "b")
    t.recording = False
    restore()
    c = t.fs_counters(under(t.spans, [root]))
    assert calls == ["rename", "rename", "exists"]
    assert c["fsutil.rename.calls"] == 1
    assert c["fsutil.clone_dir_tree.calls"] == 1
    assert c["fsutil.clone_dir_tree.files"] == 3
    assert c["fsutil.flip_lock.wait_s"] >= 0
    assert t.fs_counters(t.spans)["fsutil.clone_dir_tree.files"] == 6
    by_name = {s.name: s for s in t.spans}
    assert by_name["fsutil.flip_lock"].parent == root
    assert by_name["fsutil.exists"].parent == root
    assert other.flip_lock is flip_lock and fsutil.flip_lock is flip_lock
