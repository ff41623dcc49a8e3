"""Filesystem-agnostic metadata I/O via the Hadoop FileSystem API.

The reference's Store typeclass (Core.hs:82-143) abstracts MemoryStore
vs RadosStore; here the same duality is the Hadoop FS layer: a local
path in tests, ``s3a://bucket/prefix`` (Ceph RGW) or ``hdfs://`` in
production — one code path, resolved per-URI through
``spark._jvm.org.apache.hadoop.fs.FileSystem``.

Only *metadata* goes through this class (the ``_meta.json`` index/
watermark document, rollover size probes, compaction swaps); bulk data
always moves through Spark's own readers/writers.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for one root."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._root_path = self._path(root)
        self.fs = self._root_path.getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    # ------------------------------------------------------- queries

    def exists(self, p: str) -> bool:
        return self.fs.exists(self._path(p))

    def is_dir(self, p: str) -> bool:
        path = self._path(p)
        return self.fs.exists(path) and self.fs.getFileStatus(path).isDirectory()

    def list_dirs(self, p: str, only=None) -> list[str]:
        """Names of child directories (e.g. ``epoch=3`` partition dirs).

        ``only`` keeps the child names in that set, matched by one glob
        inside the JVM: the driver then pays a py4j round trip per
        match instead of per child, which on a 128-bucket epoch dir is
        the difference between ~4 round trips and ~400 for a point
        read."""
        if only is None:
            path = self._path(p)
            if not self.fs.exists(path):
                return []
            statuses = self.fs.listStatus(path)
        else:
            only = sorted(only)
            if not only:
                return []
            statuses = self.fs.globStatus(
                self._path(f"{p}/{{{','.join(only)}}}")) or []
        return [st.getPath().getName() for st in statuses
                if st.isDirectory()]

    def dir_has_partition_data(self, base: str, prefix: str) -> bool:
        """True when ``base`` holds at least one ``<prefix>N``
        partition directory containing a data file.  Shared by the
        vector indexes' empty-index guards (review finding, r11:
        deleting every vector leaves partition-less dirs whose raw
        parquet read throws UNABLE_TO_INFER_SCHEMA — and keeping two
        copies of this probe in sibling modules invited drift).
        Short-circuits on the first non-empty partition, so the
        common case is one listing."""
        if not self.is_dir(base):
            return False
        for d in self.list_dirs(base):
            if not d.startswith(prefix):
                continue
            for st in self.fs.listStatus(self._path(f"{base}/{d}")):
                if not st.getPath().getName().startswith(("_", ".")):
                    return True
        return False

    def dir_size(self, p: str) -> int:
        """Total bytes under a directory (recursive content summary)."""
        path = self._path(p)
        if not self.fs.exists(path):
            return 0
        return int(self.fs.getContentSummary(path).getLength())

    # ------------------------------------------------------ mutation

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self._path(p))

    def read_text(self, p: str) -> str:
        stream = self.fs.open(self._path(p))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        """Crash-safe document replace: tmp + backup + rename.

        Hadoop's ``FileSystem.rename`` refuses to clobber an existing
        destination on HDFS/local, so a naive delete-then-rename has a
        window where NO complete copy of the document exists — a crash
        there would destroy ``_meta.json`` (the namespace's index,
        watermarks and points_version pointer).  Instead the previous
        version is moved aside to ``p.bak`` before the new file renames
        in, so at every crash point at least one complete copy (``p``
        or ``p.bak``) survives; :meth:`exists_or_recover` restores from
        the backup when the primary is missing (plain :meth:`read_text`
        does NOT recover — callers must check :meth:`exists_or_recover`
        first, as :func:`read_meta` does).  A crash in the middle
        can lose the *newest* write (the backup holds the previous
        version) but never the document.
        """
        import os as _os
        import time as _time

        tmp = f"{p}.tmp.{_os.getpid()}.{_time.monotonic_ns()}"
        out = self.fs.create(self._path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        bak = p + ".bak"
        # Bounded replace loop (r7 review finding): a concurrent
        # reader's exists_or_recover can RESURRECT the old primary
        # from .bak in the window between our two renames, making the
        # final non-clobber rename fail.  The resurrected file is the
        # previous version, so moving it aside again and retrying is
        # exact — and the window is transient by construction, so a
        # handful of attempts always suffices.
        for _ in range(10):
            if self.exists(p):
                if self.exists(bak):
                    self.delete(bak, False)
                if not self.rename(p, bak):
                    raise IOError(f"backup rename failed: {p} -> {p}.bak")
            if self.rename(tmp, p):
                # New primary in place; backup is only crash insurance.
                if self.exists(bak):
                    self.delete(bak, False)
                return
        raise IOError(f"rename failed after retries: {tmp} -> {p}")

    def exists_or_recover(self, p: str) -> bool:
        """True iff ``p`` exists, restoring it from the ``p.bak``
        crash backup (see :meth:`write_text_atomic`) if needed."""
        if self.fs.exists(self._path(p)):
            return True
        bak = p + ".bak"
        if self.exists(bak):
            if self.rename(bak, p):
                return True
            # Rename can fail because a concurrent reader already
            # recovered the file or a writer recreated it between the
            # two exists checks — re-check rather than reporting a
            # spurious miss (which would surface as a bogus
            # NamespaceNotRegistered from read_meta).
            return bool(self.fs.exists(self._path(p)))
        return False

    def rename(self, src: str, dst: str) -> bool:
        return bool(self.fs.rename(self._path(src), self._path(dst)))

    def create_exclusive(self, p: str, content: bytes = b"") -> bool:
        """Atomically create ``p`` iff absent; True on success.

        Hadoop's RawLocalFileSystem implements ``create(overwrite=
        false)`` as a client-side exists-check-then-create — NOT atomic
        (r7 review finding: two local lock contenders could both pass
        the check).  For file:// / scheme-less paths this uses
        ``java.io.File.createNewFile`` instead, which is the POSIX
        O_CREAT|O_EXCL one-syscall create; HDFS keeps ``fs.create``
        (namenode-atomic); object stores remain documented best-effort
        (S3 has no create-if-absent primitive).
        """
        jpath = self._path(p)
        uri = jpath.toUri()
        scheme = uri.getScheme()
        if scheme is None or scheme == "file":
            jf = self._jvm.java.io.File(uri.getPath())
            parent = jf.getParentFile()
            if parent is not None:
                parent.mkdirs()
            if not jf.createNewFile():
                return False
            if content:
                out = self._jvm.java.io.FileOutputStream(jf)
                try:
                    out.write(bytearray(content))
                finally:
                    out.close()
            return True
        try:
            out = self.fs.create(jpath, False)
            try:
                if content:
                    out.write(bytearray(content))
            finally:
                out.close()
            return True
        except Exception:
            return False

    def delete(self, p: str, recursive: bool = True) -> bool:
        return bool(self.fs.delete(self._path(p), recursive))

    def promote_dir_tree(self, stage: str, dest: str,
                         prefix: str = "") -> int:
        """Move every DATA file under ``stage`` into ``dest``,
        preserving relative directory layout (hidden ``_``/``.``
        entries like _SUCCESS are skipped); returns the move count.
        ``prefix`` is prepended to each promoted file's BASENAME —
        callers use a per-batch tag so a failed half-promote can be
        swept back out by :meth:`sweep_files` (ADVICE r9: without it,
        a promote that dies partway leaves orphan rows the caller's
        retry double-counts).

        This is how a partitioned batch is APPENDED concurrently:
        ``df.write.mode("append")`` into a shared directory funnels
        every concurrent job through ONE Hadoop committer
        ``_temporary`` tree, and the first job to commit deletes the
        others' in-flight task files (TASK_WRITE_FAILED — observed
        under the 4-writer stress test).  Writing to a per-batch
        staging dir and renaming files into place gives each job its
        own committer tree; part-file names carry the writing job's
        UUID, so two promotions can never collide on a name.  Renames
        are metadata-rate on a real FS; per-file visibility matches
        the direct append's (readers could always see a partially
        committed batch — the meta flip is the publish point).
        """
        stage_p = self.fs.makeQualified(self._path(stage))
        dest_p = self.fs.makeQualified(self._path(dest))
        if stage_p.toUri().getScheme() == "file":
            # Local filesystem: the recursive JVM listing alone costs
            # one py4j round trip per entry (~0.5 s for a 64-bucket
            # batch) while the renames are microseconds — walk and
            # rename in-process instead.  Same contract: data files
            # only, relative layout preserved, prefix prepended,
            # refuse to clobber (Hadoop rename's non-overwrite rule),
            # raise part-way on failure (caller sweeps the prefix).
            return self._promote_dir_tree_local(
                stage_p.toUri().getPath(), dest_p.toUri().getPath(),
                prefix)
        stage_q = stage_p.toString()
        dest_q = dest_p.toString()
        moves: list[tuple] = []
        made_dirs: set[str] = set()
        it = self.fs.listFiles(self._path(stage), True)
        while it.hasNext():
            f = it.next().getPath()
            if f.getName().startswith(("_", ".")):
                continue
            rel = f.toString()[len(stage_q) + 1:]
            if prefix and "/" in rel:
                head, base = rel.rsplit("/", 1)
                rel = f"{head}/{prefix}{base}"
            elif prefix:
                rel = prefix + rel
            target = f"{dest_q}/{rel}"
            made_dirs.add(target.rsplit("/", 1)[0])
            moves.append((f, target))
        for parent in sorted(made_dirs):
            self.fs.mkdirs(self._path(parent))

        def mv(pair) -> None:
            f, target = pair
            if not self.fs.rename(f, self._path(target)):
                raise IOError(
                    f"promote_dir_tree: rename failed {f} -> {target}")

        # Renames are independent metadata ops; issue them from a small
        # thread pool so a batch's promote costs ~max(latency) instead
        # of sum(latency) — each rename is one JVM (and on a real
        # deployment one namenode/object-store) round trip, ~15 ms here
        # x 64 bucket files = ~1 s serial per ingest batch.  A failure
        # propagates exactly as before: the promote stops part-way and
        # the caller sweeps this batch's prefix back out.
        if len(moves) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                    max_workers=min(16, len(moves))) as pool:
                for _ in pool.map(mv, moves):
                    pass
        else:
            for pair in moves:
                mv(pair)
        return len(moves)

    def _promote_dir_tree_local(self, stage: str, dest: str,
                                prefix: str) -> int:
        import os as _os

        # Parity with the Hadoop path, where fs.listFiles raises on a
        # missing stage dir: os.walk would silently yield nothing and
        # a caller could commit meta for a batch whose files were
        # never promoted.
        if not _os.path.isdir(stage):
            raise IOError(
                f"promote_dir_tree: stage dir missing: {stage}")
        moved = 0
        for base, _dirs, files in _os.walk(stage):
            rel_dir = _os.path.relpath(base, stage)
            tdir = dest if rel_dir == "." else _os.path.join(dest, rel_dir)
            made = False
            for fn in sorted(files):
                if fn.startswith(("_", ".")):
                    continue
                if not made:
                    _os.makedirs(tdir, exist_ok=True)
                    made = True
                src = _os.path.join(base, fn)
                target = _os.path.join(tdir, prefix + fn)
                try:
                    # link(2) refuses an existing target ATOMICALLY —
                    # POSIX rename(2) silently replaces one, so an
                    # exists()+rename pair would have a TOCTOU window
                    # in which a concurrent promote's file is
                    # clobbered.  A crash between link and unlink
                    # leaves the file in both trees; the caller's
                    # prefix sweep + whole-batch retry already covers
                    # that (same recovery as a half-done promote).
                    _os.link(src, target)
                except FileExistsError:
                    raise IOError(
                        f"promote_dir_tree: rename failed "
                        f"{src} -> {target}")
                except OSError:
                    # filesystem without hardlinks: keep the
                    # best-effort guard + plain rename
                    if _os.path.exists(target):
                        raise IOError(
                            f"promote_dir_tree: rename failed "
                            f"{src} -> {target}")
                    _os.rename(src, target)
                else:
                    _os.unlink(src)
                moved += 1
        return moved

    def clone_dir_tree(self, src: str, dest: str) -> int:
        """Make every DATA file under ``src`` visible under ``dest``
        at the same relative path WITHOUT touching ``src`` (hidden
        ``_``/``.`` entries skipped); returns the clone count.

        The incremental-rewrite primitive (VERDICT r14 #3): a pruned
        generation rewrite carries forward the partitions its
        transform did not touch.  The source tree must stay live and
        byte-identical — readers may be scanning it, and a crash
        before the meta flip must leave the old generation exactly as
        committed — so this is never a rename.  On ``file://`` each
        clone is a hardlink (metadata-rate however large the
        partition; deleting the old generation afterwards just drops
        one name from the shared inode).  Elsewhere it is a
        whole-object server-side copy (``FileUtil.copy`` without
        deleteSource — the object-store COPY verb): no Spark job, no
        cluster compute, O(bytes) on the storage backend only, which
        at 100 TB is the difference between a metadata operation and
        shuffling every untouched row through the cluster."""
        src_p = self.fs.makeQualified(self._path(src))
        dest_p = self.fs.makeQualified(self._path(dest))
        if src_p.toUri().getScheme() == "file":
            import os as _os
            import shutil as _sh

            sroot = src_p.toUri().getPath()
            droot = dest_p.toUri().getPath()
            if not _os.path.isdir(sroot):
                raise IOError(f"clone_dir_tree: src dir missing: {sroot}")
            cloned = 0
            for base, _dirs, files in _os.walk(sroot):
                rel = _os.path.relpath(base, sroot)
                tdir = droot if rel == "." else _os.path.join(droot, rel)
                made = False
                for fn in sorted(files):
                    if fn.startswith(("_", ".")):
                        continue
                    if not made:
                        _os.makedirs(tdir, exist_ok=True)
                        made = True
                    s = _os.path.join(base, fn)
                    t = _os.path.join(tdir, fn)
                    try:
                        # link(2) refuses an existing target atomically
                        # (same no-clobber contract as promote)
                        _os.link(s, t)
                    except FileExistsError:
                        raise IOError(
                            f"clone_dir_tree: target exists: {t}")
                    except OSError:
                        # filesystem without hardlinks: real copy
                        if _os.path.exists(t):
                            raise IOError(
                                f"clone_dir_tree: target exists: {t}")
                        _sh.copy2(s, t)
                    cloned += 1
            return cloned
        src_q = src_p.toString()
        dest_q = dest_p.toString()
        copies: list[tuple] = []
        made_dirs: set[str] = set()
        it = self.fs.listFiles(self._path(src), True)
        while it.hasNext():
            f = it.next().getPath()
            if f.getName().startswith(("_", ".")):
                continue
            rel = f.toString()[len(src_q) + 1:]
            target = f"{dest_q}/{rel}"
            made_dirs.add(target.rsplit("/", 1)[0])
            copies.append((f, target))
        for parent in sorted(made_dirs):
            self.fs.mkdirs(self._path(parent))
        FileUtil = self._jvm.org.apache.hadoop.fs.FileUtil

        def cp(pair) -> None:
            f, target = pair
            # deleteSource=False, overwrite=False: the source stays
            # live and an existing target is an error, like promote
            ok = FileUtil.copy(self.fs, f, self.fs, self._path(target),
                               False, False, self._conf)
            if not ok:
                raise IOError(
                    f"clone_dir_tree: copy failed {f} -> {target}")

        if len(copies) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                    max_workers=min(16, len(copies))) as pool:
                for _ in pool.map(cp, copies):
                    pass
        else:
            for pair in copies:
                cp(pair)
        return len(copies)

    def sweep_files(self, dest: str, prefix: str) -> int:
        """Delete every file under ``dest`` whose basename starts with
        ``prefix``; returns the delete count.  The undo of a partial
        :meth:`promote_dir_tree` — the caller's per-batch prefix makes
        the sweep exact (only THIS batch's files match), so a retry of
        the whole batch cannot double-count the half-promoted rows."""
        if not prefix:
            raise ValueError("sweep_files requires a non-empty prefix")
        if not self.is_dir(dest):
            return 0
        swept = 0
        it = self.fs.listFiles(self._path(dest), True)
        while it.hasNext():
            f = it.next().getPath()
            if f.getName().startswith(prefix):
                self.fs.delete(f, False)
                swept += 1
        return swept


#: LRU cap on per-lineage exactly-once fences (ADVICE r12 #4), shared
#: by the KV store's ``merge_fences`` and both ANN indexes'
#: ``batch_fences``: every checkpoint reset adds one fence entry
#: forever, inflating every CAS meta read/write on long-lived
#: namespaces.  Advancing a fence re-inserts its app id as
#: most-recent; beyond the cap the OLDEST-advanced entries drop.  A
#: dropped lineage that later resumes would double-apply its replays —
#: but resuming a checkpoint after 64 newer lineages have advanced is
#: operator error (each new checkpoint is a new lineage; 64 resets
#: deep, the abandoned checkpoint's source offsets are long stale).
MAX_FENCE_LINEAGES = 64


def bump_fence_lru(fences: dict, app_id: str, batch_id: int) -> dict:
    """Advance ``fences[app_id]`` to at least ``batch_id``, re-insert
    it as most-recently-advanced, and evict beyond
    :data:`MAX_FENCE_LINEAGES`.  Returns the same dict."""
    fences[app_id] = max(int(fences.get(app_id, -1)), int(batch_id))
    v = fences.pop(app_id)
    fences[app_id] = v
    while len(fences) > MAX_FENCE_LINEAGES:
        fences.pop(next(iter(fences)))
    return fences


class ConcurrentMaintainerError(Exception):
    """Two maintenance writers interleaved on one namespace's metadata
    document — the store raises its own :class:`ConcurrentWriterError`
    subclassing idea independently; the persisted ANN indexes raise
    this (VERDICT r12 #4: a second concurrent maintainer must fail
    LOUDLY, never corrupt silently).  Retry by re-reading and
    re-running the verb."""


from contextlib import contextmanager  # noqa: E402


def fs_now_ms(fs: HadoopFS, probe_dir: str) -> int:
    """The FILESYSTEM's own clock, observed by stat-ing a freshly
    created probe file (ADVICE r12 #3): modification times on an
    object store / remote HDFS are server-assigned, so comparing them
    against the driver's wall clock inherits the full driver-storage
    skew — a live writer's young tmp could look past the staleness
    horizon (and be swept mid-flip), or crashed remnants could look
    forever young.  Deriving 'now' from the same clock that stamps
    the mtimes makes the age comparison skew-free.  Cost: one create
    + stat + delete per call."""
    import os
    import uuid

    probe = (f"{probe_dir.rstrip('/')}/.clockprobe."
             f"{os.getpid()}.{uuid.uuid4().hex}")
    if not fs.create_exclusive(probe, b""):
        # freak collision or create race — the uuid makes this
        # practically unreachable; fall back to the driver clock
        # rather than failing the maintenance verb
        import time

        return int(time.time() * 1000)
    try:
        return int(fs.fs.getFileStatus(
            fs._path(probe)).getModificationTime())
    finally:
        fs.delete(probe, False)


@contextmanager
def flip_lock(fs: HadoopFS, lock: str, what: str,
              timeout: float = 30.0, stale_after: float = 60.0,
              err_cls: type = ConcurrentMaintainerError):
    """Best-effort exclusive marker around a metadata CAS
    read->write window (the reference pairs its index CAS re-check
    with advisory locks, StoreHelpers.hs:214-219 / TimeStore.hs:98-137);
    the one lock of the store and both persisted ANN indexes.

    * Create-exclusive is atomic where the FS provides it
      (:meth:`HadoopFS.create_exclusive`: O_CREAT|O_EXCL for local
      paths, namenode create for HDFS), so there two writers can never
      both be inside the window.  On object stores it is best-effort
      (S3 has no atomic create-if-absent), which is why callers pair
      the lock with a txn CAS re-check (:func:`meta_fence`): the lock
      narrows the window, the CAS detects whatever slips through.
    * A marker older than ``stale_after`` seconds is a crashed holder,
      broken via RENAME-then-delete so only ONE waiter wins the break
      (r7 review: a blind delete let two waiters each
      delete-and-recreate, putting both inside the window).
    * Release verifies OWNERSHIP (r8 review): each acquire writes a
      unique token (pid+thread+nonce; pid alone collides across
      threads) and the release deletes the lock only while the stored
      content still matches.  Without it, a holder that stalls past
      ``stale_after`` (GC pause, slow py4j call) would, on wake,
      delete the fresh lock a legitimate stale-breaker had since
      created, letting a third writer into the window.  The content
      write after the atomic create is not atomic, but every mismatch
      direction is safe: an empty or partial read skips the delete
      (the stale-break reclaims a crashed mid-acquire marker), and a
      partial read of one fixed-length token never equals another
      full token.  The read->delete instant left is the one
      unavoidable TOCTOU; it needs a second 60 s stall inside a
      microsecond window.
    """
    import os
    import random
    import threading
    import time
    import uuid

    token = (f"{os.getpid()}.{threading.get_ident()}"
             f".{uuid.uuid4().hex}")
    deadline = time.monotonic() + timeout
    while True:
        if fs.create_exclusive(lock, token.encode()):
            break
        if fs.exists(lock):
            try:
                mtime = fs.fs.getFileStatus(
                    fs._path(lock)).getModificationTime()
                age_ms = int(time.time() * 1000) - mtime
                # wall-clock age is only the cheap pre-filter — the
                # break is CONFIRMED against the filesystem's own
                # clock (ADVICE r12 #3: with driver-storage skew >
                # stale_after, a LIVE holder's lock looks ancient to
                # the driver; both timestamps below come from the
                # storage, so the comparison is skew-free).  The
                # probe only runs when the pre-filter passes; a
                # fresh-confirmed lock falls through to the normal
                # deadline check + sleep, NEVER a bare continue (a
                # continue here would hot-spin past the timeout).
                if (age_ms > stale_after * 1000
                        and fs_now_ms(fs, lock.rsplit("/", 1)[0])
                        - mtime > stale_after * 1000):
                    tomb = (f"{lock}.stale.{os.getpid()}"
                            f".{time.monotonic_ns()}")
                    if fs.rename(lock, tomb):
                        fs.delete(tomb, False)
                    continue
            except SimulatedCrash:
                raise  # fault injection models a hard kill
            except Exception:
                pass  # vanished between exists and stat
        if time.monotonic() > deadline:
            raise err_cls(
                f"{what}: meta flip lock {lock} held past {timeout}s; "
                f"a writer is stuck or stale"
            )
        time.sleep(random.uniform(0.002, 0.02))
    try:
        yield
    finally:
        try:
            if fs.read_text(lock).strip() == token:
                fs.delete(lock, False)
            # mismatch => a stale-breaker superseded us while we
            # stalled; the lock now belongs to someone else
        except SimulatedCrash:
            # fault injection models a HARD process kill — no
            # best-effort cleanup runs after a kill, so the crash
            # must propagate (the leftover lock is exactly what a
            # real crash leaves; the stale-break reclaims it)
            raise
        except Exception:
            pass  # releasing best-effort; stale-break cleans up


def read_meta(fs: HadoopFS, path: str, missing: Exception | None,
              parse=None):
    """The one reader of a meta document (the store's ``_meta.json``,
    both ANN indexes' metas).  :meth:`HadoopFS.exists_or_recover`
    first restores the document from its ``.bak`` when a
    :meth:`HadoopFS.write_text_atomic` was killed between its two
    renames; an absent document raises ``missing``, or returns None
    when ``missing`` is None.  The open itself can still race a live
    replace (the primary is briefly renamed aside between the exists
    check and the read); that window is transient by construction, so
    a bounded re-check-and-retry is exact.  ``parse`` maps the decoded
    JSON (a KeyError/TypeError from it on a half-replaced document is
    the same transient)."""
    import json
    import time

    last_exc: Exception | None = None
    for _ in range(20):
        if not fs.exists_or_recover(path):
            if missing is None:
                return None
            raise missing
        try:
            doc = json.loads(fs.read_text(path))
            return doc if parse is None else parse(doc)
        except (ValueError, KeyError, TypeError, FileNotFoundError) as exc:
            # ValueError: a partial document (JSONDecodeError);
            # FileNotFoundError: the vanished primary as a Python FS
            # layer reports it (no JVM class name in str, ADVICE r8)
            last_exc = exc
        except Exception as exc:
            # only a vanished primary is part of the replace window;
            # permission errors, py4j failures and other genuine I/O
            # problems surface at once with their root cause (ADVICE r7)
            if "FileNotFoundException" not in str(exc):
                raise
            last_exc = exc
        time.sleep(0.01)
    raise IOError(f"{path} unreadable after 20 attempts "
                  f"(writer replace storm?)") from last_exc


@contextmanager
def meta_fence(fs: HadoopFS, path: str, lock: str, what: str, txn: int,
               err_cls: type = ConcurrentMaintainerError):
    """The CAS re-check of every meta commit (the reference's re-check
    under an advisory lock, StoreHelpers.hs:214-219): hold the flip
    lock, re-read the stored document and raise ``err_cls`` unless it
    still carries ``txn``; the body then writes under the same hold.
    Yields the stored document (None when absent).

    ``txn`` is the one the caller read AT VERB ENTRY, so the CAS window
    spans the verb's whole run: its Spark jobs run for seconds between
    that read and this check, and every gate the verb computed from
    its entry read is fenced with it.  The lock serializes the
    re-check->write window itself; the txn check is the backstop for
    interleavings wider than the window and for filesystems whose
    create-exclusive is not atomic.  A document without a ``txn`` (an
    index persisted before the fence existed) or none at all (a first
    build) reads as txn 0."""
    with flip_lock(fs, lock, what=what, err_cls=err_cls):
        stored = read_meta(fs, path, None)
        stored_txn = 0 if stored is None else int(stored.get("txn", 0))
        if stored_txn != int(txn):
            raise err_cls(
                f"{what}: meta txn advanced {int(txn)} -> {stored_txn} "
                f"since this verb read it (concurrent writer detected); "
                f"re-read and re-run")
        yield stored


def cas_commit_meta(fs: HadoopFS, path: str, lock: str, what: str,
                    doc: dict, txn: int,
                    err_cls: type = ConcurrentMaintainerError) -> None:
    """Commit ``doc`` as the meta document at ``path`` iff the stored
    one still carries the caller's entry-read ``txn``
    (:func:`meta_fence`), stamping ``txn + 1``."""
    import json

    with meta_fence(fs, path, lock, what, txn, err_cls):
        doc["txn"] = int(txn) + 1
        fs.write_text_atomic(path, json.dumps(doc))


def maintain_plan(n: int, parts: int, bound: int, skewed: bool,
                  refit_same_layout: bool) -> int | None:
    """Pure growth-decision rule shared by both persisted ANN
    indexes' ``maintain`` verbs (one definition so the policy cannot
    drift; the extracted-invariant test pattern of
    tests/test_registry.py applies — the rule is unit-tested
    exhaustively without Spark fixtures).

    Inputs: ``n`` stored vectors over ``parts`` partitions (IVF
    buckets / HNSW shards) under the ``bound``-rows-per-partition
    sizing rule; ``skewed`` = some EXACT per-partition count exceeds
    the bound even if the mean does not (from ``stats``).

    Returns the new partition count to grow to, or ``None`` when the
    index is healthy (mean density within bound and no skewed
    partition) — the caller then guarantees a byte-untouched no-op.

    The target restores density to ``bound // 2`` (headroom: a
    maintain that lands exactly at the bound would re-trip on the
    next append).  ``refit_same_layout`` caps the count at ``n``
    (the IVF retrain cannot train more centroids than vectors; HNSW
    hash shards may exceed the row count harmlessly, but growing
    past it is pointless so both cap).

    CONVERGENCE (the law repeated calls rely on): a mean-density
    violation heals to ``<= target`` in one step and cannot
    re-trigger without ingest.  A skew-only violation (mean fine,
    one partition over the EXACT bound) cannot be healed by
    re-running the deterministic layout at the same count — the
    refit reproduces the identical index — so the count DOUBLES
    (clamped at ``n``) to split the dense partition; once the count
    can no longer grow, the bound is unachievable for this data
    (duplicate-heavy corpora) and the plan reports healthy rather
    than prescribing a provably-identical relayout forever.

    The termination argument needs the CALLER to feed back a
    ``parts`` that actually grew: the IVF retrain may COMMIT fewer
    centroids than requested (kmeans drops empty clusters on
    duplicate-heavy data), so ``VectorIndex.maintain`` plans against
    ``max(committed k, persisted k_requested)`` — never the possibly-
    collapsed committed k alone."""
    if n <= 0:
        return None
    parts = max(int(parts), 1)
    mean_over = n > parts * bound
    if not (mean_over or skewed):
        return None
    target = max(bound // 2, 1)
    want = -(-n // target)  # ceil(n / target)
    if mean_over:
        # want > parts whenever the mean is over (n > parts * bound
        # >= parts * target), so this always grows
        return min(want, n) if refit_same_layout else max(want, parts + 1)
    # skew-only: double to split the dense partition
    out = min(max(want, parts * 2), n)
    return out if out > parts else None


def _app_tag(app_id: str) -> str:
    """Filesystem-safe stable tag for an ingest lineage id — embedded
    in per-batch stage names and file prefixes so two lineages' equal
    batch ids never sweep each other's files.  sha1 is fine here: the
    tag only needs to separate lineages, not resist an adversary, and
    12 hex chars keep promoted file names short."""
    import hashlib

    return hashlib.sha1(app_id.encode("utf-8")).hexdigest()[:12]


class IndexKernel:
    """The crash-and-commit protocol of the persisted ANN indexes
    (``vector_index.VectorIndex``, ``hnsw.HNSWIndex``): the meta
    document and its CAS commit, the rename swap, the remnant restore,
    the relayout roll-forward and the ``append_batch`` fence.  A
    subclass declares only its on-disk layout, as the class constants
    below.  Every index verb runs :meth:`_restore_remnants` first and
    commits through :meth:`_commit_meta` (or, for the relayout verb,
    :meth:`_commit_relayout`) last.

    Every swap step here is a single ``self.fs`` call, so a countdown
    FS (``tests/crash_fuzz_harness.py``) sees each rename and delete
    of a swap, and of a meta document's replace, as its own kill
    point."""

    #: meta document under the namespace dir (the commit marker)
    META: str
    #: raised by :meth:`meta` on a never-built namespace
    NOT_BUILT: type
    #: message label, e.g. ``"vector index"``
    WHAT: str
    #: hive partition column of the partitioned dirs (``bucket=N``)
    PART_COL: str
    #: namespace subdirs a verb swaps WHOLE (live -> ``.old``)
    WHOLE_DIRS: tuple
    #: namespace subdirs whose partitions a verb swaps one by one
    PART_DIRS: tuple
    #: the relayout verb (retrain / reshard), its roll-forward marker,
    #: the subdirs it stages, in swap order, and the suffixes of its
    #: staging and moved-aside dirs
    ROLL_VERB: str
    ROLL_MARKER: str
    ROLL_DIRS: tuple
    ROLL_STAGING: str
    ROLL_PRE: str

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = HadoopFS(spark, self.root)

    def _ns_dir(self, ns: str) -> str:
        return f"{self.root}/{ns}"

    def _lock(self, ns: str) -> str:
        return f"{self._ns_dir(ns)}/{self.META}.lock"

    def _what(self, ns: str) -> str:
        return f"{self.WHAT} {ns!r}"

    # ---------------------------------------------------------- meta

    def _meta_path(self, ns: str) -> str:
        return f"{self._ns_dir(ns)}/{self.META}"

    def meta(self, ns: str) -> dict:
        return read_meta(self.fs, self._meta_path(ns), self.NOT_BUILT(
            f"{self.WHAT} {ns!r} has no {self.META} under {self.root} "
            f"— run build() first"))

    def _write_meta(self, ns: str, doc: dict) -> None:
        import json

        self.fs.write_text_atomic(self._meta_path(ns), json.dumps(doc))

    def _commit_meta(self, ns: str, doc: dict) -> None:
        """CAS-fenced meta flip (VERDICT r12 #4): maintenance verbs on
        one index are serial BY CONTRACT, and a second concurrent
        maintainer used to silently lose the first's meta update.
        Every verb carries the ``txn`` it READ at entry in ``doc``;
        :func:`cas_commit_meta` re-checks it under the flip lock and
        raises :class:`ConcurrentMaintainerError` on a mismatch."""
        cas_commit_meta(self.fs, self._meta_path(ns), self._lock(ns),
                        self._what(ns), doc, int(doc.get("txn", 0)))

    # ---------------------------------------------------------- swap

    def _swap_dir(self, live: str, staging: str, what: str) -> None:
        """Replace ``live`` by ``staging``: rename(live -> live.old),
        rename(staging -> live), delete(live.old).  An absent ``live``
        (a partition the verb creates, first codebooks) is not moved
        aside; an absent ``staging`` (a partition that held only
        deleted rows) makes ``live`` vanish; a failed second rename
        moves ``.old`` back so the index stays readable, then raises.

        A crash BETWEEN the renames leaves no live dir, only ``.old``:
        the uncommitted verb rolls back when :meth:`_restore_remnants`
        renames it back (the replay then re-runs against the pre-crash
        state).  A crash AFTER the second rename leaves a stale
        ``.old`` beside the new live dir, which the restore deletes."""
        old = f"{live}.old"
        moved = self.fs.exists(live)
        if moved and not self.fs.rename(live, old):
            raise IOError(f"{what}: cannot move {live} aside")
        if self.fs.exists(staging) and not self.fs.rename(staging, live):
            if moved:
                self.fs.rename(old, live)
            raise IOError(f"{what}: cannot promote {staging}")
        self.fs.delete(old, recursive=True)

    def _swap_parts(self, live: str, staging: str, names,
                    what: str) -> None:
        """:meth:`_swap_dir` for each partition dir ``name`` of
        ``live`` from the same name under ``staging``, then delete the
        staging.  The swaps are independent metadata ops, so more than
        four are issued from a small thread pool (serially, 3-4 py4j
        round trips per partition were ~3 s of a 9 s IVF delete at
        k=256).  An error propagates and leaves some partitions
        swapped — the state a mid-loop crash leaves, recovered by the
        verb's replay and its commit-time recount."""
        names = list(names)

        def one(name: str) -> None:
            self._swap_dir(f"{live}/{name}", f"{staging}/{name}", what)

        if len(names) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                    max_workers=min(16, len(names))) as pool:
                for _ in pool.map(one, names):
                    pass
        else:
            for name in names:
                one(name)
        self.fs.delete(staging, recursive=True)

    # ------------------------------------------------------- restore

    def _restore_remnants(self, ns: str,
                          sweep_stagings: bool = False) -> None:
        """Crash recovery; every verb and probe entry calls this
        BEFORE its entry meta read (a roll-forward commits meta, so a
        txn read first would fail the verb's own commit, and a probe
        would serve the torn state as a non-retryable error).

        * Relayout roll-forward: a pending :attr:`ROLL_MARKER`
          completes under the meta flip lock (:meth:`_roll_forward`).
          The verb's own completion call and a concurrent probe entry
          may both see the marker; unserialized they race the
          non-clobber renames (the loser raised IOError from a pure
          read path), so one runner completes the whole swap and the
          other finds the marker gone.
        * ``sweep_stagings`` (VERB entries only): relayout stagings
          without a marker belong to a relayout that died before its
          commit point and are deleted, as are ``.clockprobe.`` files
          (an :func:`fs_now_ms` probe killed between create and
          delete).  PROBE entries must not sweep: a LIVE relayout
          spends its whole staging-build window — minutes at scale —
          before the marker exists, and probes legitimately run beside
          the single maintainer.  Verbs are serial with it by
          contract, so a marker-less staging seen at a verb entry IS
          orphaned.
        * ``.old`` remnants of :meth:`_swap_dir`, whole-dir
          (:attr:`WHOLE_DIRS`) and per partition (:attr:`PART_DIRS`),
          roll back or are deleted (see :meth:`_swap_dir`), so no
          reader ever sees a vanished dir.  Before this ran at every
          entry, a delete replay saw a vanished partition as
          unaffected (its rows were lost), and a kill inside a
          compact's whole-dir swap failed every other verb and probe
          until compact itself was re-run."""
        nsd = self._ns_dir(ns)
        if not self.fs.exists(nsd):
            # never built: nothing to recover, and the listing below
            # would raise a raw Py4J FileNotFoundException — let the
            # caller's meta() raise NOT_BUILT (ADVICE r14 #2)
            return
        marker = f"{nsd}/{self.ROLL_MARKER}"
        if self.fs.exists(marker):
            with flip_lock(self.fs, self._lock(ns), what=self._what(ns)):
                self._roll_forward(ns, marker)
        if sweep_stagings:
            # the roll-forward above consumed any committed staging,
            # so every relayout staging left here is an orphan
            orphans = {f"{d}{self.ROLL_STAGING}" for d in self.ROLL_DIRS}
            for st in self.fs.fs.listStatus(self.fs._path(nsd)):
                name = st.getPath().getName()
                if name in orphans or ".clockprobe." in name:
                    self.fs.delete(f"{nsd}/{name}",
                                   recursive=name in orphans)
        for d in self.WHOLE_DIRS:
            if self.fs.exists(f"{nsd}/{d}.old"):
                self._heal_old(f"{nsd}/{d}")
        for d in self.PART_DIRS:
            for name in self.fs.list_dirs(f"{nsd}/{d}"):
                if name.endswith(".old") and "=" in name:
                    self._heal_old(f"{nsd}/{d}/{name[:-len('.old')]}")

    def _heal_old(self, live: str) -> None:
        """``live.old`` exists: delete it beside a committed ``live``,
        else roll the uncommitted swap back."""
        if self.fs.exists(live):
            self.fs.delete(f"{live}.old", recursive=True)
        else:
            self.fs.rename(f"{live}.old", live)

    def _roll_forward(self, ns: str, marker: str) -> None:
        """Complete a committed relayout's swaps and meta, CALLED WITH
        THE META FLIP LOCK HELD (see :meth:`_restore_remnants`) — a
        contender that waited out the lock re-checks the marker and
        finds it gone.

        The marker holds the full target meta and is written before
        the first of the relayout's whole-dir swaps, which cannot be
        made atomic together; every kill between them resumes here.
        Each :attr:`ROLL_DIRS` dir moves aside to :attr:`ROLL_PRE`,
        then its :attr:`ROLL_STAGING` dir is promoted; each step is
        skipped when a previous run already did it.  Swap order is the
        probe-consistency proof: the first dir carries the build
        marker that binds the new layout to the target meta, so a
        probe that re-reads it after listing its files proves its
        snapshot predates the relayout entirely."""
        import json

        if not self.fs.exists(marker):
            return  # the lock's previous holder completed it
        target = json.loads(self.fs.read_text(marker))
        for d in self.ROLL_DIRS:
            base = f"{self._ns_dir(ns)}/{d}"
            staging = f"{base}{self.ROLL_STAGING}"
            pre = f"{base}{self.ROLL_PRE}"
            if self.fs.exists(staging):
                if self.fs.exists(base) and not self.fs.exists(pre):
                    if not self.fs.rename(base, pre):
                        raise IOError(
                            f"{self.ROLL_VERB}({ns!r}) roll-forward: "
                            f"cannot move {base} aside")
                if not self.fs.exists(base):
                    if not self.fs.rename(staging, base):
                        raise IOError(
                            f"{self.ROLL_VERB}({ns!r}) roll-forward: "
                            f"cannot promote {staging}")
            if self.fs.exists(pre):
                self.fs.delete(pre, recursive=True)
        stored = self.meta(ns)
        if int(stored.get("version", 0)) < int(target["version"]):
            # direct fenced write: the flip lock is already held (the
            # CAS wrapper would self-deadlock), and the marker IS the
            # commit — this is its tail, not a new commit point
            target["txn"] = int(stored.get("txn", 0)) + 1
            self._write_meta(ns, target)
        self.fs.delete(marker, recursive=False)

    def _commit_relayout(self, ns: str, entry_txn: int,
                         target: dict) -> dict:
        """The relayout's COMMIT POINT, once all its stagings are
        complete: under one flip-lock hold, CAS-check the stored txn
        against ``entry_txn``, bump it, and write the roll-forward
        marker carrying ``target``; then run the roll-forward and
        return the committed meta.

        The bump (ADVICE r14 #1) fences a maintainer verb already past
        its entry read: without it, that verb could pass
        :func:`cas_commit_meta` between this commit point and the
        roll-forward's meta write, and the swaps would silently
        clobber its changes; with it, its CAS re-check fails loudly.
        Fence BEFORE marker: a kill between the two writes ABORTS the
        relayout (marker-less stagings are swept at the next verb
        entry; one txn number is burned).  The roll-forward's own
        meta write bumps again, so the index lands at
        ``entry_txn + 2``."""
        import json

        with meta_fence(self.fs, self._meta_path(ns), self._lock(ns),
                        self._what(ns), entry_txn) as stored:
            self._write_meta(ns, {**stored, "txn": entry_txn + 1})
            self.fs.write_text_atomic(
                f"{self._ns_dir(ns)}/{self.ROLL_MARKER}",
                json.dumps(target))
        self._restore_remnants(ns)
        return self.meta(ns)

    # ------------------------------------------------------- helpers

    def _has_data(self, base: str) -> bool:
        """True when ``base`` holds a partition with a data file.
        Deleting every vector leaves partition-less dirs, and a swept
        crashed attempt leaves data-less ones; raw reads of either
        throw UNABLE_TO_INFER_SCHEMA, so every read of a live table
        treats them as the empty index."""
        return self.fs.dir_has_partition_data(base, f"{self.PART_COL}=")

    @staticmethod
    def _batch_fence(doc: dict, app_id: str | None) -> int:
        """Last committed ``append_batch`` id of the lineage — the
        exactly-once fence of Structured Streaming's foreachBatch
        (SIGMOD 2018).  ``app_id`` scopes it to one checkpoint lineage
        (Delta's (txnAppId, txnVersion) pattern, ``batch_fences``):
        batch ids restart at 0 under a new checkpoint, and the
        unscoped ``last_batch_id`` fence would silently skip the new
        lineage's early batches."""
        if app_id is None:
            return int(doc.get("last_batch_id", -1))
        return int(doc.get("batch_fences", {}).get(app_id, -1))

    @staticmethod
    def _advance_batch_fence(doc: dict, app_id: str | None,
                             batch_id: int) -> None:
        """Record ``batch_id`` as committed in ``doc`` (LRU-bounded
        lineages, rationale at :data:`MAX_FENCE_LINEAGES`)."""
        if app_id is None:
            doc["last_batch_id"] = int(batch_id)
        else:
            doc["batch_fences"] = bump_fence_lru(
                dict(doc.get("batch_fences", {})), app_id, int(batch_id))

    @staticmethod
    def _batch_names(batch_id: int, app_id: str | None) -> tuple:
        """``(stage suffix, file prefix)`` of one ``append_batch``.
        Both are lineage-scoped like the fence: two lineages share
        batch id 0, so an unscoped ``b0-`` sweep deleted the OTHER
        lineage's committed batch-0 files as crashed-attempt remnants,
        and an unscoped stage's delete-if-exists clobbered the other's
        in-flight staging on interleaved replays (r12 review).
        Unkeyed callers keep the ``.batch_<id>`` / ``b<id>-``
        shapes."""
        b = int(batch_id)
        if app_id is None:
            return f".batch_{b}", f"b{b}-"
        tag = _app_tag(app_id)
        return f".batch_a{tag}_{b}", f"a{tag}b{b}-"


class SimulatedCrash(Exception):
    """Raised by :class:`ObjectStoreFS` fault injection — models the
    process dying inside a non-atomic rename window."""


class ObjectStoreFS(HadoopFS):
    """Object-store-semantics shim for the metadata layer.

    Real object stores (Ceph RGW via s3a, S3) have NO atomic rename:
    s3a emulates ``rename`` as copy-then-delete, so a crash mid-rename
    can leave the object at BOTH paths (copy done, delete pending) or
    only the source (crash before the copy completes — S3 PUTs are
    atomic per object, partial objects never become visible).  This
    subclass reproduces exactly those semantics over any backing FS so
    the backend-contract suite (reference tests/StoreTests.hs:101-203)
    can prove the metadata machinery — ``write_text_atomic``'s
    tmp+backup scheme and ``exists_or_recover`` — without assuming the
    POSIX rename atomicity a local filesystem quietly provides.

    Fault injection: set ``crash_before_copy`` / ``crash_before_delete``
    to make the NEXT rename die at that window (flag auto-clears so
    recovery code can rename again).

    Scope: metadata objects only (single files).  Directory renames are
    refused — object stores have no directories, and the store's bulk
    data path never renames directories through this layer (Spark's
    own committer handles task commits; on a real s3a deployment that
    is the S3A committer's job, configured Spark-side).
    """

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        self.crash_before_copy = False
        self.crash_before_delete = False
        self.renames = 0

    def rename(self, src: str, dst: str) -> bool:
        src_p, dst_p = self._path(src), self._path(dst)
        if not self.fs.exists(src_p):
            return False
        if self.fs.getFileStatus(src_p).isDirectory():
            raise IOError(f"ObjectStoreFS refuses directory rename: {src}")
        if self.fs.exists(dst_p):
            return False  # same non-clobber contract as Hadoop rename
        self.renames += 1
        if self.crash_before_copy:
            self.crash_before_copy = False
            raise SimulatedCrash(f"crash before copy: {src} -> {dst}")
        # Copy-then-delete, the s3a rename emulation.  The copy is one
        # whole-object transfer (object stores never expose partial
        # objects); Hadoop's own FileUtil.copy carries the bytes.
        ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self.fs, src_p, self.fs, dst_p, False, True, self._conf
        )
        if not ok:
            raise IOError(f"object copy failed: {src} -> {dst}")
        if self.crash_before_delete:
            self.crash_before_delete = False
            raise SimulatedCrash(
                f"crash after copy, before delete: {src} -> {dst}"
            )
        self.fs.delete(src_p, False)
        return True
