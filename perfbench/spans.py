"""In-memory spans for the traced run, and per-layer self time.

A span is ``(id, parent, name, layer, start, end)`` in wall-clock
seconds (the clock Spark's event log uses).  The benchmark records one
root span per op and a child span for each ``fsutil`` call it wraps and
for each wait to take a ``flip_lock``; Spark job spans from the event
log join as children of their op.  Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from typing import NamedTuple

from perfbench.eventlog import union_s

#: HadoopFS methods timed as ``fsutil.<method>``.
FS_METHODS = ("exists", "exists_or_recover", "list_dirs", "read_text",
              "write_text_atomic", "rename", "create_exclusive",
              "promote_dir_tree", "clone_dir_tree")


class Span(NamedTuple):
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float


def self_times(spans) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of it
    that its children cover (children clipped to the span)."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_s(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]
            if min(c.end, s.end) > max(c.start, s.start))
        out[s.layer] += (s.end - s.start) - covered
    return dict(out)


def under(spans, roots) -> list[Span]:
    """The spans with an id in ``roots`` and all their descendants."""
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    roots = set(roots)
    keep = [s for s in spans if s.id in roots]
    todo = list(keep)
    while todo:
        more = kids[todo.pop().id]
        keep += more
        todo += more
    return keep


class Tracer:
    """Collects spans while ``recording``; wrappers installed by
    :meth:`install` cost one attribute test when it is off."""

    def __init__(self):
        self.spans: list[Span] = []
        self.recording = False
        self.clone_files: dict[int, int] = {}   # clone span id -> files
        self._ids = 0
        self._root: int | None = None
        self._local = threading.local()
        self._mu = threading.Lock()

    def _next_id(self) -> int:
        with self._mu:
            self._ids += 1
            return self._ids

    @contextmanager
    def op(self, name: str, layer: str):
        """Root span for one op call."""
        sid, start = self._next_id(), time.time()
        self._root = sid
        try:
            yield sid
        finally:
            self._root = None
            self.spans.append(Span(sid, None, name, layer, start,
                                   time.time()))

    @contextmanager
    def span(self, name: str, layer: str):
        """Child span of the innermost open span on this thread (or of
        the current op, from a pool thread)."""
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self._next_id()
        parent = stack[-1] if stack else self._root
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._mu:
                self.spans.append(Span(sid, parent, name, layer, start,
                                       time.time()))

    def add(self, parent: int, name: str, layer: str, start: float,
            end: float) -> None:
        self.spans.append(Span(self._next_id(), parent, name, layer,
                               start, end))

    def install(self, fsutil, *modules):
        """Wrap the HadoopFS methods and ``flip_lock`` (in ``fsutil`` and
        every module in ``modules`` that imported it by name); returns
        a function that restores the originals."""
        undo = []
        cls = fsutil.HadoopFS
        for name in FS_METHODS:
            orig = cls.__dict__[name]
            undo.append((cls, name, orig))
            setattr(cls, name, self._wrap_method(name, orig))
        orig_lock = fsutil.flip_lock
        wrapped = self._wrap_lock(orig_lock)
        for mod in (fsutil, *modules):
            if getattr(mod, "flip_lock", None) is orig_lock:
                undo.append((mod, "flip_lock", orig_lock))
                mod.flip_lock = wrapped

        def restore():
            for obj, name, orig in reversed(undo):
                setattr(obj, name, orig)
        return restore

    def _wrap_method(self, name: str, orig):
        @functools.wraps(orig)
        def call(fs, *args, **kwargs):
            if not self.recording:
                return orig(fs, *args, **kwargs)
            with self.span("fsutil." + name, "fsutil") as sid:
                out = orig(fs, *args, **kwargs)
            if name == "clone_dir_tree":
                self.clone_files[sid] = int(out)
            return out
        return call

    def _wrap_lock(self, orig):
        @contextmanager
        @functools.wraps(orig)
        def flip_lock(*args, **kwargs):
            if not self.recording:
                with orig(*args, **kwargs):
                    yield
                return
            # the wait is a span of its own; the held section is not
            with ExitStack() as held:
                with self.span("fsutil.flip_lock", "fsutil"):
                    held.enter_context(orig(*args, **kwargs))
                yield
        return flip_lock

    def fs_counters(self, spans) -> dict[str, float]:
        """``fsutil.*`` totals over ``spans``."""
        out = {}
        for name in FS_METHODS:
            mine = [s for s in spans if s.name == "fsutil." + name]
            out[f"fsutil.{name}.calls"] = float(len(mine))
            out[f"fsutil.{name}.busy_s"] = sum(s.end - s.start for s in mine)
        out["fsutil.flip_lock.wait_s"] = sum(
            s.end - s.start for s in spans if s.name == "fsutil.flip_lock")
        out["fsutil.clone_dir_tree.files"] = float(sum(
            self.clone_files.get(s.id, 0) for s in spans))
        return out
