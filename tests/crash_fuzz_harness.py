"""Kill-at-every-FS-boundary crash fuzz for the persisted vector
indexes (hnsw.py HNSWIndex, vector_index.py VectorIndex).

The r10/r11 ADVICE crash bugs were all of one shape: a process dying
between two metadata-FS mutations (the shard/bucket/dir swap windows)
left a state some later verb misread.  The targeted regression tests
pin each KNOWN window; this harness generalizes them: every index FS
mutation (rename / delete / mkdirs / create_exclusive /
write_text_atomic, and each rename and delete INSIDE
write_text_atomic's tmp+backup replace) is a kill point, and for each
one we

  1. run the verb script until the countdown kills it there
     (:class:`SimulatedCrash` — the fsutil fault-injection exception),
  2. reopen the index cold (fresh instance on the same root — true
     process-restart semantics, no in-memory state survives),
  3. probe immediately (crash recovery must serve reads, not just
     writes),
  4. replay the ENTIRE script (at-least-once delivery: append_batch
     dedups by batch id and by already-graphed vec_ids, delete and
     compact are idempotent),
  5. assert the final persisted state is byte-for-byte the no-crash
     state: same meta counters, same vector-id set, same probe
     results.

This is the convergence law the index documents — "replaying any
prefix of batches converges to the single-copy state" — proven at
every boundary instead of the two windows ADVICE happened to find.

Spark-side writes (parquet staging dirs) are not kill points here:
a died Spark write leaves an orphan staging dir that the restore
sweep already ignores; the consistency-critical sequencing is all in
the FS mutations this harness gates.
"""

from __future__ import annotations

import shutil

from rados_timestore_spark.fsutil import SimulatedCrash

#: FS methods that mutate state — each call is a kill boundary.
MUTATORS = ("rename", "delete", "mkdirs", "write_text_atomic")


class CountdownFS:
    """Proxy over a HadoopFS that raises :class:`SimulatedCrash` on
    the mutating call once ``fuel`` prior mutations have run.
    ``fuel=None`` counts without killing (the dry run).  ``paths``
    records the first argument (the path) of each mutation that ran,
    so ``paths[i]`` is what boundary ``fuel=i`` kills before.  A
    composite verb (a whole ``write_text_atomic``) is ONE boundary
    here: the targeted window tests pin their fuels in this unit,
    while the sweeps kill inside composites too
    (:func:`countdown_fs_class`)."""

    def __init__(self, inner, fuel: int | None = None):
        self.inner = inner
        self.fuel = fuel
        self.ops = 0
        self.paths: list[str] = []

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if name in MUTATORS and callable(attr):
            def wrapped(*args, **kw):
                if self.fuel is not None and self.ops >= self.fuel:
                    raise SimulatedCrash(
                        f"killed before {name} #{self.ops}: "
                        f"{args[0] if args else ''}")
                self.ops += 1
                self.paths.append(str(args[0]) if args else "")
                return attr(*args, **kw)
            return wrapped
        return attr


def countdown_fs_class():
    """A HadoopFS SUBCLASS whose mutators count and kill — for
    TimeStore and the indexes, whose composite FS verbs (``promote_dir_tree``,
    ``sweep_files``, ``write_text_atomic``'s tmp+backup dance)
    dispatch their inner renames/deletes through ``self``: a proxy in
    front of the object would count the composite as ONE boundary,
    the subclass kills INSIDE it — the half-promoted-batch and
    mid-meta-swap windows are exactly the interesting ones.  Pass as
    ``TimeStore(..., fs_class=...)`` and set ``store.fs.fuel``; an
    index takes an instance as its ``fs`` (:func:`countdown_index`).
    ``paths`` records the argument of each mutation that ran, so
    ``paths[i]`` is what ``fuel=i`` kills before.

    A kill leaves the instance's fuel exhausted, so every later FS
    call in the same verb (except-handlers, finallys) also dies —
    faithfully modeling a hard process kill, where no in-process
    cleanup runs either.
    """
    from rados_timestore_spark.fsutil import HadoopFS

    class _CountdownHadoopFS(HadoopFS):
        def __init__(self, spark, root):
            super().__init__(spark, root)
            self.fuel = None
            self.ops = 0
            self.paths: list[str] = []

        def _tick(self, name, arg):
            if self.fuel is not None and self.ops >= self.fuel:
                raise SimulatedCrash(
                    f"killed before {name} #{self.ops}: {arg}")
            self.ops += 1
            self.paths.append(str(arg))

        def mkdirs(self, p):
            self._tick("mkdirs", p)
            return super().mkdirs(p)

        def write_text_atomic(self, p, text):
            self._tick("write_text_atomic", p)
            return super().write_text_atomic(p, text)

        def rename(self, src, dst):
            self._tick("rename", src)
            return super().rename(src, dst)

        def create_exclusive(self, p, content=b""):
            self._tick("create_exclusive", p)
            return super().create_exclusive(p, content)

        def delete(self, p, recursive=True):
            self._tick("delete", p)
            return super().delete(p, recursive)

    return _CountdownHadoopFS


def countdown_index(ix, fuel: int | None = None):
    """Give index ``ix`` a :func:`countdown_fs_class` FS on its root
    with ``fuel`` (None = count without killing); returns it."""
    fs = countdown_fs_class()(ix.spark, ix.root)
    fs.fuel = fuel
    ix.fs = fs
    return fs


def dry_run(make_index, template_root: str, script,
            paths: list | None = None) -> tuple[int, object]:
    """Run ``script`` fault-free against a COPY of the template index,
    counting FS mutations.  Returns (total_mutations, root_of_final_state);
    ``paths``, when given, is extended with each mutation's path (see
    :func:`countdown_fs_class`).
    """
    final_root = template_root + ".final"
    shutil.copytree(template_root, final_root)
    ix = make_index(final_root)
    fs = countdown_index(ix)
    script(ix)
    if paths is not None:
        paths.extend(fs.paths)
    return fs.ops, final_root


def crash_at(make_index, template_root: str, script, fuel: int,
             work_root: str):
    """Copy the template, run ``script`` with a countdown of ``fuel``
    mutations, and return the crashed root.  Asserts the kill actually
    fired (fuel < total guarantees it)."""
    shutil.rmtree(work_root, ignore_errors=True)
    shutil.copytree(template_root, work_root)
    ix = make_index(work_root)
    countdown_index(ix, fuel)
    try:
        script(ix)
    except SimulatedCrash:
        return work_root
    raise AssertionError(
        f"fuel={fuel} did not crash — script mutation count shrank; "
        "re-derive TOTAL with dry_run")


def recover_and_replay(make_index, work_root: str, script, probe,
                       allowed_cold_errors: tuple = ()):
    """Reopen the crashed index cold, probe (recovery must serve
    reads — or fail LOUDLY with a declared retryable error, never
    serve wrong data silently), then replay the whole script and
    return the final state via ``probe`` for comparison against the
    no-crash run.

    ``allowed_cold_errors``: exception types the cold probe may raise
    mid-crash-state — e.g. VectorIndexNotBuilt when the kill landed
    before enable_pq ever ran (probe_pq's documented loud-and-
    retryable contract).  SimulatedCrash is never allowed: the cold
    instance has a real FS.

    A kill inside the CAS meta-commit window (r13, _commit_meta)
    leaves the flip lock held — production reclaims it via the 60 s
    stale-break; the fuzz models that accelerated by sweeping lock
    files before reopening (the same runbook step the store crash
    fuzz applies, tools/store_crash_fuzz.py).
    """
    import glob

    for lk in glob.glob(f"{work_root}/**/*.lock", recursive=True):
        import os

        os.remove(lk)
    cold = make_index(work_root)
    try:
        probe(cold)
    except allowed_cold_errors:
        pass
    replayed = make_index(work_root)
    script(replayed)
    return probe(make_index(work_root))
