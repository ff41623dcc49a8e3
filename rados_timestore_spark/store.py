"""TimeStore: the engine's namespace/table layer.

Reference API surface (SURVEY.md §2 / §3):

* ``registerNamespace`` / ``isRegistered`` — lib/TimeStore.hs:74-95
* ``writeEncoded`` (ingest) — lib/TimeStore.hs:98-137
* ``readSimple`` / ``readExtended`` — lib/TimeStore.hs:139-177
* watermark maintenance (``updateLatest``) — StoreHelpers.hs:227-265
* epoch rollover (``maybeRollover``) — StoreHelpers.hs:194-221

Spark-native design
-------------------
One ``points`` Parquet table per namespace, directory-partitioned by
``(epoch, bucket)``.  The reference's physical object name
``<bucket>_<epoch>_<kind>`` (Core.hs:203-208) becomes the partition
path; its index objects become a small ``_meta.json``; its advisory
locks (Core.hs:128-164) are obviated by the single-writer-per-table
model (Structured Streaming or batch appends + atomic parquet task
commits).

Scale notes (100 TB): reads prune on the ``epoch`` partition column
(time range) and the ``bucket`` partition column (address set) before
any row is touched — the same pruning ``targetObjs``
(StoreHelpers.hs:80-104) does, but performed by Catalyst from the
partition predicate.  Dedup + sort happen after pruning on only the
matching partitions.  Appends never read-modify-write data files
(write-optimized, like the reference's append-only buckets); a
separate ``compact()`` job is the read-optimizing merge the reference
never does.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import cached_property
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rados_timestore_spark import fsutil
from rados_timestore_spark.core import POINTS_SCHEMA, kind_col, one_slice_df
from rados_timestore_spark.index import Index
from rados_timestore_spark.session import shuffle_partition_count

DEFAULT_BUCKETS = 128
#: Rollover threshold: reference default 4 MiB per bucket object
#: (Core.hs:88-90).  For a Parquet table this bounds the *latest
#: epoch's* per-bucket size before a new epoch entry is cut.
DEFAULT_ROLLOVER_BYTES = 4 * 1024 * 1024

_META = "_meta.json"

#: ``monotonically_increasing_id``'s id block per input partition: the
#: id is ``(partition id << 33) + row offset in the partition``.
_SEQ_BLOCK = 1 << 33

#: Crashed-FILE remnant name markers: ``.tmp.`` from a writer killed
#: inside ``write_text_atomic`` before its rename, ``.lock.stale.``
#: tombs from a stale-breaker killed between rename and delete,
#: ``.clockprobe.`` from an fs_now_ms probe killed between create and
#: delete.  One tuple shared by :meth:`TimeStore.gc` (the sweep) and
#: :meth:`TimeStore.stats` (the debt report) — r14 review: two copies
#: invited drift.
_REMNANT_MARKERS = (".tmp.", ".lock.stale.", ".clockprobe.")


def _is_stale_points_dir(name: str, live_v: int) -> bool:
    """One definition of the crashed-generation classification,
    shared by :meth:`TimeStore.gc` (sweeps them), :meth:`TimeStore.verify`
    (reports them as orphans) and :meth:`TimeStore.stats` (debt
    observability) — r14 review: three hand-rolled copies invited the
    drift this repo's ``dir_has_partition_data`` consolidation
    exists to prevent.  Stale = the legacy ``points`` dir once a
    later generation is live, any ``points_vN`` strictly older than
    the live version (a FUTURE generation may be a concurrent
    compact's under-construction output — never stale), or a
    ``.stage_`` dir a crashed write_points left behind (never
    promoted; gc runs serially with writers by the maintenance
    contract, so no LIVE stage is ever classified here)."""
    if name == "points":
        return live_v > 0
    if name.startswith("points_v") and name[len("points_v"):].isdigit():
        return int(name[len("points_v"):]) < live_v
    return name.startswith(".stage_")


class NamespaceNotRegistered(Exception):
    """Raised like ``userError "Invalid namespace"`` (StoreHelpers.hs:69-76)."""


class ConcurrentWriterError(Exception):
    """A second writer modified ``_meta.json`` between this writer's
    read and its flip.

    The reference coordinates multiple writer daemons with advisory
    locks plus a CAS re-check of the index object before updating it
    (StoreHelpers.hs:214-219, stress-tested 100x100 in
    StoreTests.hs:128-157).  This port's contract is single-writer, so
    instead of locks it carries a fencing counter (``_Meta.txn``) that
    every mutation bumps through :meth:`TimeStore._write_meta_cas`:
    interleaving writers are DETECTED and fail loudly rather than
    silently last-write-wins-ing each other's index/watermark updates.
    The losing writer's appended data files remain (appends are
    additive), so recovery is "re-read meta and retry the batch".
    """


@dataclass
class _Meta:
    index: Index
    latest_simple: int | None = None    # simple watermark (X3)
    latest_extended: int | None = None  # extended watermark (X3)
    seq_base: int = 0                   # next ingest-sequence block
    points_version: int = 0             # compaction generation
    txn: int = 0                        # writer fencing counter (CAS)
    expire_gen: int = 0                 # TTL-expiry generation (r8)
    #: Highest committed MutableKV.merge_into batch id (r11) — the
    #: exactly-once fence for streaming MERGE ingest, the store-side
    #: analog of VectorIndex.append_batch's last_batch_id.  -1 =
    #: never fenced; existing metas deserialize unchanged.
    merge_batch_id: int = -1
    #: Per-application merge fences (r12, ADVICE r11): Spark restarts
    #: micro-batch ids at 0 whenever a stream gets a NEW checkpoint
    #: directory, so the single ``merge_batch_id`` fence above would
    #: silently skip every replayed-looking batch of the new lineage —
    #: silent data loss.  Keying the fence on ``(app_id, batch_id)``
    #: (Delta's ``(txnAppId, txnVersion)`` idempotent-write pattern)
    #: scopes the monotonicity contract to one checkpoint lineage;
    #: ``stream_kv_merges`` derives the app id from the checkpoint's
    #: own query id, so a fresh checkpoint is a fresh fence.  Empty =
    #: never fenced; existing metas deserialize unchanged.
    merge_fences: dict = field(default_factory=dict)
    #: One-shot upgrade marker (r13, ADVICE r12 #1): the FIRST keyed
    #: merge on a namespace whose legacy unkeyed ``merge_batch_id``
    #: had advanced seeds its lineage fence from it (max of the two)
    #: — an in-place upgrade resumes the SAME checkpoint, so the
    #: redelivered in-flight micro-batch (id <= legacy fence) was
    #: already applied and must stay skipped.  The marker makes the
    #: inheritance one-shot: every LATER new lineage (new checkpoint,
    #: ids back at 0) starts at -1 as designed — seeding those would
    #: resurrect the silent-skip the keying fixed.
    merge_fences_migrated: bool = False
    #: Steady-state marker for the KV merge fast path (r14, VERDICT
    #: r13 #6): True = every extended chain in the live generation
    #: holds exactly ONE non-tombstone row (the state merge_into's
    #: whole-view fold and vacuum both produce), so a later merge's
    #: fold of an UNTOUCHED key is provably the identity and needs no
    #: per-key Python call — only batch keys pay one, the dominant
    #: streaming-merge term.  Cleared by every raw append
    #: (write_points) because a multi-row chain's fold is NOT the
    #: identity; False = the conservative full fold
    #: (pre-r14 behavior).  Existing metas deserialize unchanged.
    kv_folded: bool = False
    #: Separate extended-kind index (reference parity: TimeStore.hs:74-90
    #: registers simpleBucketCount and extendedBucketCount, and
    #: Index.hs:45-49 keeps simple_days/extended_days as two documents
    #: with INDEPENDENT rollover, StoreHelpers.hs:194-221).  ``None`` =
    #: unified mode (one index governs both kinds, the r2-r9 layout) —
    #: existing metas deserialize unchanged.
    index_extended: Index | None = None

    @property
    def dual(self) -> bool:
        return self.index_extended is not None

    def index_for(self, kind: int) -> Index:
        """The index governing ``kind`` rows (0=simple, 1=extended)."""
        if kind == 1 and self.index_extended is not None:
            return self.index_extended
        return self.index

    def part_cols(self) -> tuple[str, ...]:
        """Physical partition columns.  Dual-index namespaces lead
        with ``kind`` — the Parquet translation of the reference's
        per-kind object sets (``<bucket>_<epoch>_simple`` vs
        ``_extended``, Core.hs:203-208): per-kind rollover probes and
        per-kind reads then prune whole directory trees."""
        return ("kind", "epoch", "bucket") if self.dual else (
            "epoch", "bucket")

    def to_json(self) -> dict:
        d = {
            "index": self.index.to_json(),
            "latest_simple": self.latest_simple,
            "latest_extended": self.latest_extended,
            "seq_base": self.seq_base,
            "points_version": self.points_version,
            "txn": self.txn,
            "expire_gen": self.expire_gen,
        }
        if self.index_extended is not None:
            d["index_extended"] = self.index_extended.to_json()
        if self.merge_batch_id >= 0:
            d["merge_batch_id"] = self.merge_batch_id
        if self.merge_fences:
            d["merge_fences"] = {
                str(k): int(v) for k, v in self.merge_fences.items()}
        if self.merge_fences_migrated:
            d["merge_fences_migrated"] = True
        if self.kv_folded:
            d["kv_folded"] = True
        return d

    @classmethod
    def from_json(cls, d: dict) -> "_Meta":
        xe = d.get("index_extended")
        return cls(
            index=Index.from_json(d["index"]),
            latest_simple=d.get("latest_simple"),
            latest_extended=d.get("latest_extended"),
            seq_base=int(d.get("seq_base", 0)),
            points_version=int(d.get("points_version", 0)),
            txn=int(d.get("txn", 0)),
            expire_gen=int(d.get("expire_gen", 0)),
            merge_batch_id=int(d.get("merge_batch_id", -1)),
            merge_fences={str(k): int(v)
                          for k, v in d.get("merge_fences", {}).items()},
            kv_folded=bool(d.get("kv_folded", False)),
            merge_fences_migrated=bool(d.get("merge_fences_migrated",
                                             False)),
            index_extended=None if xe is None else Index.from_json(xe),
        )


class TimeStore:
    """Namespace-scoped point store over Parquet.

    ``root`` is any Hadoop-visible URI prefix: a local directory in
    tests, ``s3a://bucket/prefix`` on Ceph RGW in production — the
    MemoryStore/RadosStore duality (Stores/Memory.hs, Stores/Rados.hs)
    reduced to a path swap.
    """

    def __init__(self, spark: SparkSession, root: str,
                 rollover_bytes: int = DEFAULT_ROLLOVER_BYTES,
                 fs_class: type | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.rollover_bytes = rollover_bytes
        #: Metadata-FS implementation — HadoopFS by default; tests pass
        #: fsutil.ObjectStoreFS to run the backend-contract suite under
        #: object-store (non-atomic-rename) semantics.
        self._fs_class = fs_class

    @cached_property
    def fs(self):
        """Hadoop FS for the root URI — the Memory/Rados backend
        duality (Stores/Memory.hs vs Stores/Rados.hs) as one API."""
        from rados_timestore_spark.fsutil import HadoopFS

        return (self._fs_class or HadoopFS)(self.spark, self.root)

    # ------------------------------------------------------------ paths

    def _ns_dir(self, ns: str) -> str:
        if not ns or "_" in ns:
            # The reference rejects '_' in namespace names because it is
            # the object-name separator (Core.hs:226-230).  We keep the
            # constraint for layout compatibility ('_INTERNAL' shadow
            # namespaces are created through MutableKV only).
            if not ns.endswith("_INTERNAL") or ns.count("_") > 1:
                raise ValueError(f"invalid namespace: {ns!r}")
        return f"{self.root}/{ns}"

    def _points_dir(self, ns: str, meta: "_Meta | None" = None) -> str:
        """Current points directory.  Compaction writes a new
        generation and flips ``points_version`` atomically in the meta
        document (never a live-directory rename), so readers resolve
        the directory through the meta pointer; generation 0 keeps the
        legacy un-suffixed name."""
        if meta is None:
            meta = self._read_meta(ns)
        v = meta.points_version
        suffix = "points" if v == 0 else f"points_v{v}"
        return f"{self._ns_dir(ns)}/{suffix}"

    def _meta_path(self, ns: str) -> str:
        return f"{self._ns_dir(ns)}/{_META}"

    # ------------------------------------------------------------- meta

    def _read_meta(self, ns: str) -> _Meta:
        return fsutil.read_meta(self.fs, self._meta_path(ns),
                                NamespaceNotRegistered(ns),
                                parse=_Meta.from_json)

    def _write_meta(self, ns: str, meta: _Meta) -> None:
        self.fs.write_text_atomic(
            self._meta_path(ns), json.dumps(meta.to_json())
        )

    @contextmanager
    def _flip_lock(self, ns: str, timeout: float = 30.0,
                   stale_after: float = 60.0):
        """:func:`fsutil.flip_lock` on this namespace's meta document."""
        with fsutil.flip_lock(
                self.fs, f"{self._meta_path(ns)}.lock",
                what=f"namespace {ns!r}", timeout=timeout,
                stale_after=stale_after,
                err_cls=ConcurrentWriterError):
            yield

    def _write_meta_cas(self, ns: str, meta: _Meta) -> None:
        """Fenced meta flip (:func:`fsutil.cas_commit_meta`, see
        :class:`ConcurrentWriterError`): ``meta`` must carry the
        ``txn`` it was READ with; on success the stored and in-memory
        ``txn`` advance together, so a multi-flip flow (write_points ->
        _maybe_rollover) stays fenced across its own writes."""
        fsutil.cas_commit_meta(
            self.fs, self._meta_path(ns), f"{self._meta_path(ns)}.lock",
            f"namespace {ns!r}", meta.to_json(), meta.txn,
            err_cls=ConcurrentWriterError)
        meta.txn += 1

    def _commit_retrying(self, ns: str, meta: _Meta, apply,
                         retries: int) -> _Meta:
        """Run ``apply(meta)`` and CAS-commit ``meta``.  A lost flip
        backs off, re-reads, and re-runs ``apply`` on the fresh
        document, at most ``retries`` times (the reference's
        re-fetch-index-and-re-check, StoreHelpers.hs:214-219).
        ``apply`` returns False when nothing is left to commit (a
        concurrent writer's change supersedes this one) and raises
        :class:`ConcurrentWriterError` when the fold would be unsound.
        Returns the committed (or superseding) document."""
        import random
        import time

        for attempt in range(retries + 1):
            if not apply(meta):
                return meta
            try:
                self._write_meta_cas(ns, meta)
                return meta
            except ConcurrentWriterError:
                if attempt == retries:
                    raise
                time.sleep(random.uniform(0.01, 0.05 * (attempt + 1)))
                meta = self._read_meta(ns)

    # -------------------------------------------------------------- DDL

    def register_namespace(self, ns: str, buckets: int = DEFAULT_BUCKETS,
                           extended_buckets: int | None = None) -> None:
        """Create a namespace with initial index ``[(0, buckets)]``
        (TimeStore.hs:74-90).  Idempotent.

        ``extended_buckets`` mirrors the reference's second
        ``registerNamespace`` argument (TimeStore.hs:74-90 takes
        separate simple/extended bucket counts; Index.hs:45-49 keeps
        the two kinds' indexes as separate documents): when given, the
        namespace runs in DUAL-INDEX mode — extended rows route
        through their own ``[(0, extended_buckets)]`` index, each
        kind's epochs roll over independently of the other's volume
        (the tests/UnitTests.hs:62-73 corner case: an extended write
        after a simple-only rollover keeps its own epoch layout), and
        the points table is partitioned ``(kind, epoch, bucket)`` so
        per-kind reads prune the other kind's entire directory tree.
        When ``None`` (default), one index governs both kinds — the
        unified layout, oracle-identical for single-kind workloads."""
        self.fs.mkdirs(self._ns_dir(ns))
        if not self.is_registered(ns):
            xidx = (None if extended_buckets is None
                    else Index(((0, extended_buckets),)))
            self._write_meta(ns, _Meta(index=Index(((0, buckets),)),
                                       index_extended=xidx))

    def is_registered(self, ns: str) -> bool:
        """Registered iff the index exists (TimeStore.hs:92-95)."""
        return self.fs.exists_or_recover(self._meta_path(ns))

    # ------------------------------------------------------------ write

    def write_points(self, ns: str, df: DataFrame,
                     retries: int = 0) -> None:
        """Ingest one batch — the ``writeEncoded`` pipeline
        (TimeStore.hs:98-137):

        1. route every row to its (epoch, bucket) via index stab +
           ``placeBucket`` (``groupMixed``, Algorithms.hs:111-178);
        2. stamp the ingest sequence (dedup determinism, SURVEY §4);
        3. one partitioned append (``writeBuckets``,
           StoreHelpers.hs:107-149);
        4. monotone watermark update (``updateLatest``,
           StoreHelpers.hs:227-265);
        5. rollover check (``maybeRollover``, StoreHelpers.hs:194-221).

        ``df`` needs columns (address, time) plus ``value`` and/or
        ``payload``; ``seq`` is honored if present, else stamped.

        ``retries`` bounds re-read-and-retry of the meta flip when a
        concurrent writer advanced ``_meta.json`` between this writer's
        read and its flip (the reference's re-fetch-index-and-re-check,
        StoreHelpers.hs:214-219).  The data append is NOT repeated —
        only the flip: our observed watermark/seq maxima fold into the
        freshly-read document (both updates are monotone maxima, so the
        merge is order-independent and exact).  If the concurrent
        writer changed the INDEX (cut an epoch / rescaled), this
        batch's (epoch, bucket) placement was computed under a stale
        index and a flip merge would be unsound — the error propagates
        and recovery is re-running the batch (duplicate rows are
        first-wins-deduped at read and removed by compact).
        """
        from pyspark.sql import Observation

        meta = self._read_meta(ns)
        idx = meta.index

        cols = set(df.columns)
        if "value" not in cols:
            df = df.withColumn("value", F.lit(None).cast("long"))
        if "payload" not in cols:
            df = df.withColumn("payload", F.lit(None).cast("binary"))
        if "seq" not in cols:
            # Block-stamped sequence: unique and ingest-ordered within
            # the batch (monotonically_increasing_id preserves the
            # source order inside each partition), strictly above every
            # previous batch.  No global sort needed; the block size is
            # taken from the batch's actual max id (observed in the
            # same pass as the write) so >2048-partition batches cannot
            # overflow into the next batch's range.  An offset
            # reaching the partition's id block would spill into the
            # next partition's ids, so the task fails instead.
            df = df.withColumn("seq", F.monotonically_increasing_id())
            in_block = F.assert_true(
                F.col("seq") - F.spark_partition_id().cast("long")
                * _SEQ_BLOCK < _SEQ_BLOCK,
                F.lit(f"write_points: an input partition holds "
                      f"{_SEQ_BLOCK} points or more"))
            df = df.withColumn("seq", F.lit(meta.seq_base) + F.col("seq")
                               + F.coalesce(in_block.cast("long"), F.lit(0)))

        routed = df.select(
            "address", "time", "value", "payload", "seq"
        ).withColumn("kind", kind_col())
        if meta.dual:
            # Per-kind routing: each kind stabs ITS index (independent
            # epochs and bucket counts, Index.hs:45-49) — still one
            # literal CASE chain per column, JVM-side, no join.
            xidx = meta.index_extended
            routed = routed.withColumn(
                "epoch",
                F.when(F.col("kind") == 1, xidx.epoch_col("time"))
                .otherwise(idx.epoch_col("time")),
            ).withColumn(
                "bucket",
                F.when(F.col("kind") == 1,
                       place_bucket_by_index(xidx, "time", "address"))
                .otherwise(place_bucket_by_index(idx, "time", "address")),
            )
        else:
            routed = routed.withColumn(
                "epoch", idx.epoch_col("time")
            ).withColumn(
                "bucket", place_bucket_by_index(idx, "time", "address"),
            )

        # Staged append (r9): a direct mode("append") into the shared
        # points dir funnels every CONCURRENT writer through one
        # Hadoop committer _temporary tree — the first job to commit
        # deletes the others' in-flight task files (TASK_WRITE_FAILED
        # under the interleaved-writers stress test).  Each batch
        # writes its own staging dir (own committer tree) and promotes
        # files by rename; part names carry the job UUID, so
        # promotions never collide.  Crash between write and promote
        # leaves a hidden .stage_* dir (invisible to scans); gc()
        # sweeps them.
        import uuid as _uuid

        batch_tag = _uuid.uuid4().hex
        stage = f"{self._ns_dir(ns)}/.stage_{batch_tag}"
        pdir = self._points_dir(ns, meta)
        try:
            # Shape the staged batch like a generation rewrite
            # (shape_rewrite): hash-partition by the layout columns so
            # each (epoch, bucket) is written by ONE task — bounded
            # file count at any input parallelism (tasks x buckets
            # files otherwise) — and pre-sort by (pcols, address,
            # time) so the partitioned writer's own partition-column
            # sort is satisfied by the incoming order instead of
            # re-sorting per task.  Measured 2.7 s -> 1.6 s on the
            # sf0.1 19k-row ingest; at scale it is the difference
            # between 64 files and 64 x tasks files per batch.
            #
            # Watermark maxima + seq high-water are observed during
            # the write itself (StoreHelpers.hs:241-259's
            # updateLatest, minus the second job the naive
            # agg-after-write would cost).  The observe sits ABOVE
            # the shaping exchange, directly under the write: observed
            # below an exchange, an empty batch leaves the metrics row
            # schemaless and obs.get throws (Spark 4.1 toPyRow
            # assertion — the same trap _rewrite_generation documents).
            obs = Observation()
            shaped = shape_rewrite(routed, meta.part_cols(), 1,
                                   ("address", "time")).observe(
                obs,
                F.max(F.when(F.col("kind") == 0, F.col("time")))
                .alias("max_simple"),
                F.max(F.when(F.col("kind") == 1, F.col("time")))
                .alias("max_extended"),
                F.max("seq").alias("max_seq"),
            )
            (
                shaped.write.mode("overwrite")
                .partitionBy(*meta.part_cols())
                .parquet(stage)
            )
            try:
                self.fs.promote_dir_tree(stage, pdir, prefix=f"s{batch_tag}-")
            except BaseException:
                # A promote that dies partway has already made SOME of
                # this batch's files live; a caller retry re-writes the
                # whole batch at fresh seqs and would double-count them
                # (ADVICE r9).  The per-batch prefix makes the undo
                # exact: sweep only THIS batch's promoted files, then
                # raise — the points dir is back to its pre-call state.
                self.fs.sweep_files(pdir, f"s{batch_tag}-")
                raise
        finally:
            self.fs.delete(stage, recursive=True)

        got = obs.get
        entry = meta

        def fold(m: _Meta) -> bool:
            if (m.index.entries != entry.index.entries
                    or m.index_extended != entry.index_extended
                    # an expire between our file write and this flip
                    # may have dropped our just-committed files, so a
                    # fold would record watermarks for vanished data
                    # (r8 review)
                    or m.expire_gen != entry.expire_gen
                    # a generation rewrite (compact/vacuum/merge_into)
                    # flipped after our promote: our files went into
                    # the OLD generation dir, which the winner deleted
                    # (r15 review — silent data loss)
                    or m.points_version != entry.points_version):
                # placement was routed under a stale index, or our
                # rows are gone: the caller re-runs the batch
                raise ConcurrentWriterError(
                    f"namespace {ns!r}: a concurrent writer changed the "
                    f"index, expired epochs or swapped the generation "
                    f"under this batch; re-run it")
            m.latest_simple = _mono_max(m.latest_simple, got["max_simple"])
            m.latest_extended = _mono_max(
                m.latest_extended, got["max_extended"])
            if got["max_seq"] is not None:
                m.seq_base = max(m.seq_base, int(got["max_seq"]) + 1)
            # any raw append can grow a chain past one row, so the KV
            # merge fast path's steady-state marker no longer holds
            # (see _Meta.kv_folded)
            m.kv_folded = False
            return True

        meta = self._commit_retrying(ns, meta, fold, retries)
        self._maybe_rollover(ns, meta, retries=retries)

    def _maybe_rollover(self, ns: str, meta: _Meta,
                        retries: int = 0) -> None:
        """Cut a new epoch at the watermark when the latest epoch's
        largest bucket exceeds the threshold (StoreHelpers.hs:194-221).

        The new epoch starts at the current watermark so no in-flight
        point can land behind the boundary (StoreHelpers.hs:228-231).
        Bucket count is carried over (rescale hook: pass a different
        count here to rescale forward without rewriting history).

        With ``retries`` > 0 a CAS race on the cut is resolved by
        re-reading: if another writer already advanced the index, their
        cut supersedes ours (the threshold decision is idempotent — at
        most one cut per flush is needed) and this writer simply
        returns; otherwise the cut is retried against the fresh doc.
        """
        if meta.dual:
            self._maybe_rollover_dual(ns, meta, retries=retries)
            return
        latest_epoch, buckets = meta.index.latest()
        pdir = f"{self._points_dir(ns, meta)}/epoch={latest_epoch}"
        if not self.fs.is_dir(pdir):
            return
        max_bucket_bytes = 0
        for bucket_dir in self.fs.list_dirs(pdir):
            size = self.fs.dir_size(f"{pdir}/{bucket_dir}")
            max_bucket_bytes = max(max_bucket_bytes, size)
        if max_bucket_bytes <= self.rollover_bytes:
            return
        watermark = max(
            meta.latest_simple or 0, meta.latest_extended or 0
        )
        if watermark <= latest_epoch:
            return
        # Cut at watermark + 1, NOT the watermark: points at
        # time == watermark were already written under the old epoch,
        # and the new epoch must start strictly after every point seen
        # (splitRemainder's exact-boundary back-off, Index.hs:80-88) —
        # otherwise range_lookup(start == watermark) would prune to the
        # new (empty) epoch and silently drop them.

        def cut(m: _Meta) -> bool:
            if m.index.latest()[0] > latest_epoch:
                return False  # another writer's cut supersedes ours
            # the boundary comes from THIS document's watermarks: an
            # interleaving writer may have advanced them
            wm = max(m.latest_simple or 0, m.latest_extended or 0)
            m.index = Index(m.index.entries + ((wm + 1, buckets),))
            return True

        self._commit_retrying(ns, meta, cut, retries)

    def _maybe_rollover_dual(self, ns: str, meta: _Meta,
                             retries: int = 0) -> None:
        """Per-kind rollover for dual-index namespaces: each kind's
        index is probed and cut against ITS OWN latest epoch volume
        and ITS OWN watermark — simple-volume pressure never re-epochs
        the extended layout and vice versa (StoreHelpers.hs:194-221
        runs once per kind over separate index documents; corner case
        tests/UnitTests.hs:62-73: an extended write after a
        simple-only rollover still reads back under the extended
        index's original epoch).  Both kinds' cuts — when both fire —
        land in ONE fenced meta write."""
        base = self._points_dir(ns, meta)

        def cut_for(idx: Index, wm: int | None, kind: int) -> Index | None:
            latest_epoch, buckets = idx.latest()
            pdir = f"{base}/kind={kind}/epoch={latest_epoch}"
            if not self.fs.is_dir(pdir):
                return None
            max_bucket_bytes = 0
            for bucket_dir in self.fs.list_dirs(pdir):
                max_bucket_bytes = max(
                    max_bucket_bytes,
                    self.fs.dir_size(f"{pdir}/{bucket_dir}"))
            if max_bucket_bytes <= self.rollover_bytes:
                return None
            if wm is None or wm <= latest_epoch:
                return None
            # watermark + 1, same exact-boundary back-off as the
            # unified cut (Index.hs:80-88)
            return Index(idx.entries + ((wm + 1, buckets),))

        def cut(m: _Meta) -> bool:
            # a superseding writer's cut empties the probe (its new
            # latest epoch has no over-threshold dir yet)
            new_s = cut_for(m.index, m.latest_simple, 0)
            new_x = cut_for(m.index_extended, m.latest_extended, 1)
            if new_s is not None:
                m.index = new_s
            if new_x is not None:
                m.index_extended = new_x
            return new_s is not None or new_x is not None

        self._commit_retrying(ns, meta, cut, retries)

    def write_points_batched(self, ns: str, df: DataFrame,
                             batch_col: str,
                             rollover_rows: int | None = None) -> None:
        """Bulk backfill ingest: sequential rollover semantics, ONE
        write pass.

        Semantically identical to calling :meth:`write_points` once per
        ascending ``batch_col`` value — i.e. the reference's ingest
        loop of ``writeEncoded`` + ``maybeRollover`` probes
        (TimeStore.hs:98-137, StoreHelpers.hs:194-221) replayed over a
        whole history — but executed as tiny metadata aggregates plus
        one partitioned write instead of a driver loop of per-batch
        jobs.  A loop re-scans the source once per batch
        and serializes on per-batch meta round-trips; this path scans
        the data at most three times (stats, threshold counts, write)
        regardless of batch count — the difference between hours and
        days on a 100 TB backfill.

        ``rollover_rows=None`` (default): every watermark-advancing
        batch cuts an epoch — the ``rollover_bytes -> 0`` limit, i.e.
        the epoch-per-day/hour chunk layout a backfill usually wants,
        with only the per-batch stats pass as overhead.
        ``rollover_rows=N``: replay the sequential size-threshold rule
        with ROW COUNT as the size probe (bytes are only observable
        after writing): a batch cuts iff, after it, the latest epoch's
        fullest bucket holds > N rows AND the watermark advanced.
        Implemented with one extra metadata aggregate — per (batch,
        bucket, candidate-epoch) row counts, where the candidates are
        every ``watermark_i + 1`` (every possible cut point), so the
        threshold fold can attribute each batch's rows to the
        then-latest epoch exactly.
        Threshold accumulation starts at zero, so on a store that
        already holds data in its latest epoch the first cut can fire
        up to N rows later than a byte-probing sequential loop would.

        Epoch-cut equivalence with the sequential loop:

        * the sequential cut after batch i is at ``watermark_i + 1``
          where ``watermark_i`` = max over batches <= i of the batch
          max time (and the pre-existing watermark) — a function of
          per-batch maxima only, never of routing; the cut fires iff
          the watermark strictly advanced past the current latest
          boundary, which (boundary = previous watermark + 1) also
          implies the latest epoch is nonempty — the same predicate
          ``_maybe_rollover`` evaluates via the dir-size probe;
        * routing a batch-i row through the FINAL index equals routing
          it through the index as of batch i: every boundary cut at or
          after batch i exceeds ``watermark_i`` and hence every time
          in batch i, so the stab can never select it.

        So the fold below over the collected per-batch maxima (one row
        per batch) reproduces the sequential index exactly, and a
        single write routed by the final index reproduces the
        sequential placement exactly.

        First-wins determinism across batches is preserved by stamping
        ``seq`` in disjoint per-batch-ordinal blocks (earlier batch ⇒
        smaller seq), sized from the actual partition count so blocks
        can never collide.  ``df`` needs (address, time) plus ``value``
        and/or ``payload``; ``batch_col`` values must sort in ingest
        order (e.g. ``time div US_PER_DAY``).

        Dual-index namespaces (r11, closes the r10 refusal): the fold
        runs ONCE PER KIND — ``_maybe_rollover_dual`` cuts each kind
        against its own watermark and its own volume, both pure
        functions of that kind's per-batch stats, so two independent
        replays over the per-kind maxima reproduce the sequential
        per-batch loop exactly (law-tested against it), and rows route
        through their own kind's final index under the
        ``(kind, epoch, bucket)`` layout.
        """
        from pyspark.sql import Observation

        meta = self._read_meta(ns)
        cols = set(df.columns)
        if "value" not in cols:
            df = df.withColumn("value", F.lit(None).cast("long"))
        if "payload" not in cols:
            df = df.withColumn("payload", F.lit(None).cast("binary"))
        df = df.withColumn("kind", kind_col())

        # Pass 1 — tiny per-batch stats (one row per batch on the
        # driver): per-kind time maxima drive the watermark fold.
        stats = sorted(
            df.groupBy(F.col(batch_col).alias("_b")).agg(
                F.max(F.when(F.col("kind") == 0, F.col("time")))
                .alias("max_simple"),
                F.max(F.when(F.col("kind") == 1, F.col("time")))
                .alias("max_extended"),
            ).collect(),
            key=lambda r: r["_b"],
        )

        # Driver fold A: per-batch watermark progression, tracked PER
        # KIND — the unified rule folds them into one watermark, the
        # dual rule (``_maybe_rollover_dual``: each kind cuts against
        # its OWN watermark and volume) keeps them separate.
        latest_simple, latest_extended = meta.latest_simple, meta.latest_extended
        init_latest = {0: latest_simple, 1: latest_extended}
        batch_ordinals: dict = {}
        wm_series: dict = {0: [], 1: []}
        for ordinal, row in enumerate(stats):
            batch_ordinals[row["_b"]] = ordinal
            latest_simple = _mono_max(latest_simple, row["max_simple"])
            latest_extended = _mono_max(latest_extended, row["max_extended"])
            wm_series[0].append(latest_simple)
            wm_series[1].append(latest_extended)

        if meta.dual:
            # Per-kind replay of the SAME fold: kind k's sequential
            # cut depends only on its own watermark progression and
            # its own row volume (_maybe_rollover_dual's cut_for), so
            # two independent folds over the per-kind stats reproduce
            # the sequential per-batch loop exactly — the routing
            # argument (every boundary cut at or after batch i exceeds
            # watermark_i^k) holds per kind verbatim.
            plans = {
                0: (meta.index, init_latest[0], wm_series[0]),
                1: (meta.index_extended, init_latest[1], wm_series[1]),
            }
        else:
            unified = [max(a or 0, b or 0)
                       for a, b in zip(wm_series[0], wm_series[1])]
            plans = {None: (
                meta.index,
                max(init_latest[0] or 0, init_latest[1] or 0),
                unified,
            )}

        final: dict = {}
        for k, (idx0, init_wm, wms) in plans.items():
            entries0 = list(idx0.entries)
            _, buckets = entries0[-1]
            if rollover_rows is None:
                entries = list(entries0)
                for watermark in wms:
                    if watermark is not None and watermark > entries[-1][0]:
                        entries.append((watermark + 1, buckets))
            else:
                # Pass 1b — per (batch, bucket, candidate-epoch) counts
                # (tiny: ~batches x buckets rows per kind).  Candidates
                # are EVERY ``watermark_i + 1`` (plus the pre-existing
                # watermark's), unconditionally: under a threshold a
                # cut can fire at a watermark that advanced in an
                # EARLIER batch (the threshold crossing and the
                # watermark advance need not coincide), so gating
                # candidates on "advanced past the previous candidate"
                # would leave real cut points out of the stab and
                # misattribute later rows.  The floor entry keeps rows
                # belonging to PRE-EXISTING older epochs below the
                # latest boundary in the stab, so they never
                # accumulate.
                cand_index = Index(tuple(
                    (c, buckets)
                    for c in sorted({
                        entries0[0][0], entries0[-1][0],
                        (init_wm or 0) + 1,
                        *[w + 1 for w in wms if w is not None],
                    })
                ))
                sub = df if k is None else df.filter(F.col("kind") == k)
                counts = (
                    sub.groupBy(
                        F.col(batch_col).alias("_b"),
                        place_bucket_by_index(cand_index, "time",
                                              "address").alias("_bk"),
                        cand_index.epoch_col("time").alias("_ce"),
                    ).agg(F.count("*").alias("_n")).collect()
                )
                by_batch: dict = {}
                for r in counts:
                    by_batch.setdefault(r["_b"], []).append(
                        (int(r["_ce"]), int(r["_bk"]), int(r["_n"])))
                # Driver fold B: replay the sequential probe-then-cut
                # rule with per-bucket row accumulation in the latest
                # epoch.
                entries = list(entries0)
                accum: dict[int, int] = {}
                for row, watermark in zip(stats, wms):
                    boundary = entries[-1][0]
                    for ce, bk, n in by_batch.get(row["_b"], ()):
                        if ce >= boundary:  # iff time >= boundary
                            accum[bk] = accum.get(bk, 0) + n
                    if (accum and max(accum.values()) > rollover_rows
                            and watermark is not None
                            and watermark > boundary):
                        entries.append((watermark + 1, buckets))
                        accum = {}  # the new epoch starts empty
            final[k] = Index(tuple(entries))
        final_index = final[0] if meta.dual else final[None]

        # Pass 2 — stamp seq, route via the final index, one append.
        if "seq" not in cols:
            n_parts = df.rdd.getNumPartitions()
            block = (n_parts + 1) << 33  # > any monotonic id this frame
            if meta.seq_base + len(stats) * block >= (1 << 62):
                raise ValueError(
                    "write_points_batched: seq block range overflow "
                    f"({len(stats)} batches x {n_parts} partitions); "
                    "provide an explicit seq column"
                )
            ord_df = one_slice_df(
                df.sparkSession,
                [(b, o) for b, o in batch_ordinals.items()] or [(None, 0)],
                f"_b {df.schema[batch_col].dataType.simpleString()}, _ord long",
            )
            # assert_true yields NULL when the guard holds and raises
            # when a batch value was absent from the stats pass (a
            # nondeterministic source) — refusing to stamp NULL seqs.
            guard = F.coalesce(
                F.assert_true(
                    F.col("_ord").isNotNull(),
                    F.lit("write_points_batched: batch value absent from "
                          "the stats pass (nondeterministic input)"),
                ).cast("long"),
                F.lit(0),
            )
            df = (
                df.join(F.broadcast(ord_df),
                        df[batch_col] == ord_df["_b"], "left")
                .withColumn(
                    "seq",
                    F.lit(meta.seq_base)
                    + (F.col("_ord") + guard) * F.lit(block)
                    + F.monotonically_increasing_id(),
                )
            )
        if meta.dual:
            epoch_col = (
                F.when(F.col("kind") == 1, final[1].epoch_col("time"))
                .otherwise(final[0].epoch_col("time")))
            bucket_col = (
                F.when(F.col("kind") == 1,
                       place_bucket_by_index(final[1], "time", "address"))
                .otherwise(
                    place_bucket_by_index(final[0], "time", "address")))
        else:
            epoch_col = final_index.epoch_col("time")
            bucket_col = place_bucket_by_index(
                final_index, "time", "address")
        routed = (
            df.select("address", "time", "value", "payload", "seq", "kind")
            .withColumn("epoch", epoch_col)
            .withColumn("bucket", bucket_col)
        )
        # Shaped like write_points (one task/file per layout group —
        # a backfill routes to MANY epochs, so unshaped it writes up
        # to tasks x epochs x buckets files); the observe sits above
        # the exchange, directly under the write (empty-batch metrics
        # trap, see write_points).
        obs = Observation()
        shaped = shape_rewrite(routed, meta.part_cols(), 1,
                               ("address", "time")).observe(
            obs, F.max("seq").alias("max_seq"))
        # Direct append is safe HERE: bulk backfill is a single-writer
        # maintenance verb (it installs a new index wholesale — two
        # concurrent backfills already conflict semantically), so no
        # second job can share this committer's _temporary tree.  The
        # concurrent path (write_points) stages + promotes instead.
        (
            shaped.write.mode("append")
            .partitionBy(*meta.part_cols())
            .parquet(self._points_dir(ns, meta))
        )
        got = obs.get
        meta.index = final_index
        if meta.dual:
            meta.index_extended = final[1]
        meta.latest_simple = latest_simple
        meta.latest_extended = latest_extended
        if got["max_seq"] is not None:
            meta.seq_base = max(meta.seq_base, int(got["max_seq"]) + 1)
        meta.kv_folded = False  # raw append (see write_points)
        self._write_meta_cas(ns, meta)

    # ------------------------------------------------------------- read

    def _open_points(self, meta: _Meta | None, pdir: str,
                     kind: int | None = None,
                     partitions: dict[int, Sequence[int] | None]
                     | None = None,
                     **options) -> DataFrame:
        """Open the points generation ``pdir`` with the pinned points
        schema (:func:`_scan_schema`): no footer job infers it, a bucket
        dir with no data file reads as zero rows, and ``epoch``/
        ``bucket`` are always ``long`` (hive discovery types them by
        value).

        ``partitions`` maps each epoch a read touches to its bucket set
        (``None`` = all of the epoch's buckets).  Each touched epoch
        dir, under ``kind=<kind>/`` on a dual-index namespace, is
        listed once and only its existing bucket dirs in the set are
        opened: the ``targetObjs`` read of StoreHelpers.hs:80-104, with
        no discovery job over untouched dirs.  ``partitions=None``
        opens the whole tree (``meta`` is then unused).  A missing
        ``pdir`` or no matching dir gives the empty scan frame;
        ``options`` go to the reader (``pathGlobFilter``)."""
        if partitions is None:
            paths = [pdir] if self.fs.is_dir(pdir) else []
        else:
            base = (f"{pdir}/kind={int(kind)}"
                    if kind is not None and meta.dual else pdir)
            paths = []
            for e, buckets in sorted(partitions.items()):
                edir = f"{base}/epoch={int(e)}"
                only = (None if buckets is None
                        else {f"bucket={int(b)}" for b in buckets})
                paths += [f"{edir}/{name}"
                          for name in sorted(self.fs.list_dirs(edir, only))
                          if name.startswith("bucket=")]
        if not paths:
            return self.spark.createDataFrame([], _scan_schema())
        return (self.spark.read.schema(_scan_schema()).options(**options)
                .option("basePath", pdir).parquet(*paths))

    def _scan(self, ns: str, start: int, end: int,
              addresses: Sequence[int] | None,
              kind: int = 0) -> DataFrame:
        """Pruned scan: only the (epoch, bucket) dirs the range and
        the addresses hash to are opened (:meth:`_open_points`, the
        ``targetObjs`` of StoreHelpers.hs:80-104), then row-level
        filter time BETWEEN start AND end — closed interval on both
        ends, matching ``processSimple`` (Algorithms.hs:204-206).  The
        same (epoch, bucket) predicates stay on top as
        ``PartitionFilters``.

        ``kind`` selects which index drives the pruning (dual-index
        namespaces keep independent per-kind epoch layouts) and, on a
        dual namespace, which ``kind=`` tree is opened; callers still
        apply their own ``kind == k`` row filter."""
        meta = self._read_meta(ns)
        entries = meta.index_for(kind).range_lookup(start, end)
        # Per-epoch bucket sets (bucket counts may differ by epoch).
        # Word64 placement semantics, matching place_bucket().
        per_epoch = {
            e: None if addresses is None
            else sorted({((a & -2) % (1 << 64)) % n for a in addresses})
            for e, n in entries}
        df = self._open_points(meta, self._points_dir(ns, meta), kind,
                               per_epoch)

        epochs = [e for e, _ in entries]
        pred = F.col("epoch").isin(epochs)
        if addresses is not None:
            addr_pred = None
            for e, buckets in per_epoch.items():
                clause = (F.col("epoch") == e) & F.col("bucket").isin(buckets)
                addr_pred = clause if addr_pred is None else (addr_pred | clause)
            pred = pred & addr_pred
            df = df.filter(F.col("address").isin([int(a) for a in addresses]))
        df = df.filter(pred).filter(F.col("time").between(start, end))
        return df

    def read_simple(self, ns: str, start: int, end: int,
                    addresses: Sequence[int],
                    global_order: bool = False) -> DataFrame:
        """``readSimple`` (TimeStore.hs:142-156): filter → first-wins
        dedup on (address, time) → sorted output.

        Empty address list ⇒ empty result (``elem`` semantics,
        Algorithms.hs:204-206).  The default mirrors the reference's
        per-chunk ordering contract (TimeStore.hs:139-141: sorted
        within each (epoch, bucket) chunk, NOT globally) via
        ``sortWithinPartitions`` — no range-partitioned global sort in
        the hot path.  Pass ``global_order=True`` for a strictly
        stronger total order (one extra shuffle).
        """
        if not addresses:
            return self._scan(ns, start, end, []).filter(F.lit(False)) \
                .select("address", "time", "value", "seq")
        addresses = [a for a in addresses if (a & 1) == 0]
        df = self._scan(ns, start, end, addresses, kind=0)
        df = df.filter(F.col("kind") == 0)
        df = _dedup_agg(df, ("value",))
        df = self._ordered(df, global_order)
        return df.select("address", "time", "value", "seq")

    def read_extended(self, ns: str, start: int, end: int,
                      addresses: Sequence[int],
                      global_order: bool = False) -> DataFrame:
        """``readExtended`` (TimeStore.hs:161-177).  The reference's
        pointer→blob zip-join (Algorithms.hs:220-239) is obviated by
        the inline binary ``payload`` column — same filter/dedup/sort
        plan selecting ``payload`` instead of ``value``."""
        if not addresses:
            return self._scan(ns, start, end, []).filter(F.lit(False)) \
                .select("address", "time", "payload", "seq")
        addresses = [a | 1 for a in addresses]
        df = self._scan(ns, start, end, addresses, kind=1)
        df = df.filter(F.col("kind") == 1)
        df = _dedup_agg(df, ("payload",))
        df = self._ordered(df, global_order)
        return df.select("address", "time", "payload", "seq")

    @staticmethod
    def _ordered(df: DataFrame, global_order: bool) -> DataFrame:
        """Read-path ordering.  The reference guarantees only per-chunk
        (epoch, bucket) ordering, not a global one (TimeStore.hs:
        139-141); we mirror that with a partition-local sort — rows
        grouped by chunk then (time, address) within each task, no
        range exchange.  ``global_order=True`` buys a total order for
        one extra shuffle."""
        if global_order:
            return df.orderBy("time", "address")
        return df.sortWithinPartitions("epoch", "bucket", "time", "address")

    def write_encoded(self, ns: str, blobs: DataFrame,
                      blob_col: str = "blob") -> None:
        """``writeEncoded`` proper (TimeStore.hs:98-137): ingest packed
        wire blobs — the reference's client-facing entry point.

        ``blobs`` rows each hold one mixed wire blob (BinaryType).  One
        ``mapInArrow`` decodes them executor-side (numpy-vectorized
        codec) and the points run the standard :meth:`write_points`
        pipeline: its seq stamp runs in the decode's stage, over the
        points in the order they are decoded, so cross-blob first-wins
        order follows (partition, blob position, in-blob index) ingest
        order with no job to number the blobs first (the reference gets
        the same property from append order).
        """
        from rados_timestore_spark.codec import decode_wire_df

        self.write_points(ns, decode_wire_df(blobs, blob_col))

    # --------------------------------------------------- chunked reads

    def iter_chunks(self, ns: str, start: int, end: int,
                    addresses: Sequence[int], extended: bool = False):
        """Streaming chunk delivery — the reference's ``readSimple``
        Producer contract (TimeStore.hs:139-156, verified by
        tests/UnitTests.hs:109-114): yields ``((epoch, bucket), rows)``
        chunks, epoch-major ascending, rows sorted by (time, address)
        within each chunk; chunks are non-overlapping.

        Built on ``toLocalIterator`` over the globally chunk-sorted
        read, so the driver holds ONE Spark partition at a time (the
        executor-side read-ahead of the iterator mirrors the
        reference's 16-deep prefetch ring, StoreHelpers.hs:284-293).
        """
        if not addresses:
            return
        df, cols = self._chunk_frame(ns, start, end, addresses, extended)
        ordered = df.orderBy("epoch", "bucket", "time", "address")
        current_key, bucket_rows = None, []
        for row in ordered.toLocalIterator(prefetchPartitions=True):
            key = (row["epoch"], row["bucket"])
            if key != current_key:
                if bucket_rows:
                    yield current_key, bucket_rows
                current_key, bucket_rows = key, []
            bucket_rows.append(tuple(row[c] for c in cols))
        if bucket_rows:
            yield current_key, bucket_rows

    def _chunk_frame(self, ns: str, start: int, end: int,
                     addresses: Sequence[int], extended: bool):
        """Deduped, chunk-keyed read frame shared by the chunk
        iterators: (DataFrame with epoch/bucket columns, payload column
        names in chunk order)."""
        if extended:
            addrs = [a | 1 for a in addresses]
            df = self._scan(ns, start, end, addrs, kind=1)
            df = df.filter(F.col("kind") == 1)
            df = _dedup_agg(df, ("payload",))
            cols = ["address", "time", "payload", "seq"]
        else:
            addrs = [a for a in addresses if (a & 1) == 0]
            df = self._scan(ns, start, end, addrs, kind=0)
            df = df.filter(F.col("kind") == 0)
            df = _dedup_agg(df, ("value",))
            cols = ["address", "time", "value", "seq"]
        return df, cols

    def iter_chunks_arrow(self, ns: str, start: int, end: int,
                          addresses: Sequence[int], extended: bool = False):
        """Arrow chunk delivery — same contract as :meth:`iter_chunks`
        (``((epoch, bucket), chunk)`` epoch-major ascending, rows
        sorted by (time, address) within each chunk) but each chunk is
        a zero-copy ``pyarrow.Table`` slice instead of Python tuples,
        cutting driver-side deserialization ~10x for bulk consumers.

        Memory bound: ONE epoch is collected at a time (columnar), and
        epoch size is bounded by the rollover cut (Core.hs:88-90's 4MiB
        per-bucket threshold triggers an epoch cut), so the driver
        never holds the whole range — the Arrow analog of the
        reference's bounded read-ahead ring (StoreHelpers.hs:284-293).
        """
        import numpy as np

        if not addresses:
            return
        meta = self._read_meta(ns)
        entries = sorted(
            meta.index_for(1 if extended else 0).range_lookup(start, end))
        df, cols = self._chunk_frame(ns, start, end, addresses, extended)
        for e, _n in entries:
            edf = (
                df.filter(F.col("epoch") == e)
                .orderBy("bucket", "time", "address")
                .select("bucket", *cols)
            )
            tbl = edf.toArrow()
            if tbl.num_rows == 0:
                continue
            buckets = tbl.column("bucket").to_numpy()
            cuts = (np.flatnonzero(np.diff(buckets)) + 1).tolist()
            bounds = [0, *cuts, len(buckets)]
            body = tbl.select(cols)
            for i in range(len(bounds) - 1):
                s = bounds[i]
                n = bounds[i + 1] - s
                yield (e, int(buckets[s])), body.slice(s, n)

    # ------------------------------------------------------------ admin

    def latest(self, ns: str) -> tuple[int | None, int | None]:
        """(simple, extended) watermarks (Core.hs:181-185 latest files)."""
        meta = self._read_meta(ns)
        return meta.latest_simple, meta.latest_extended

    def index(self, ns: str, extended: bool = False) -> Index:
        """The namespace's index; ``extended=True`` returns the
        extended-kind index (same object on unified namespaces)."""
        return self._read_meta(ns).index_for(1 if extended else 0)

    def rescale(self, ns: str, buckets: int, extended: bool = False) -> None:
        """Cut a new epoch with a DIFFERENT bucket count — the forward
        rescale the per-epoch index exists for (Index.hs: each entry
        is (epoch, buckets); lookups stab per epoch, so historical
        epochs keep their layout forever while new writes route to the
        new count).  The boundary is watermark + 1, exactly like
        :meth:`_maybe_rollover`'s cut, so no point seen so far can
        land behind it.  Idempotent when the latest epoch already has
        ``buckets``.  ``extended=True`` rescales the extended-kind
        index of a dual-index namespace (per-kind layouts are
        independent; on a unified namespace it is an error)."""
        if buckets < 1:
            raise ValueError(f"buckets must be >= 1: {buckets}")
        meta = self._read_meta(ns)
        if extended and not meta.dual:
            raise ValueError(
                f"namespace {ns!r} has no separate extended index; "
                f"register with extended_buckets= for dual-index mode")
        idx = meta.index_extended if extended else meta.index
        latest_epoch, cur = idx.latest()
        if cur == buckets:
            return
        if meta.dual:
            # per-kind boundary: the OTHER kind's watermark must not
            # leak into this kind's epoch layout
            watermark = ((meta.latest_extended if extended
                          else meta.latest_simple) or 0)
        else:
            watermark = max(meta.latest_simple or 0,
                            meta.latest_extended or 0)
        boundary = max(watermark, latest_epoch) + 1
        new = Index(idx.entries + ((boundary, buckets),))
        if extended:
            meta.index_extended = new
        else:
            meta.index = new
        self._write_meta_cas(ns, meta)

    def expire(self, ns: str, older_than_us: int) -> list[int]:
        """TTL retention by EPOCH-PARTITION DROP: delete every epoch
        whose covered time range lies entirely before
        ``older_than_us``; returns the dropped epoch starts.

        An epoch ``e_i`` covers ``[e_i, e_{i+1})`` (Index.hs: entries
        are start-keyed, lookups stab the covering epoch), so it is
        fully expired iff the NEXT boundary is <= the cutoff.  The
        latest (open) epoch is never dropped.  Granularity is a whole
        epoch: a partially-covered epoch is retained in full —
        retention that rewrites files to split an epoch would be a
        data-size job, while this is one directory delete per expired
        (epoch x all buckets), i.e. metadata-rate work regardless of
        data size — the property that makes TTL viable at 100 TB
        (the same reason time-partitioned stores expire by dropping
        chunks, not by DELETE).

        The index keeps its expired entries: routing stays historical,
        so a point re-ingested with a pre-cutoff timestamp lands back
        in its original (recreated) epoch directory — append
        semantics, documented resurrect-on-replay.  Reads of expired
        ranges see no rows because the partition directories are gone
        (the scan's ``PartitionFilters`` prune against the live
        listing, never against the index).

        Maintenance verbs (``expire``, ``compact``, ``gc``) are
        scheduled serially by the operator, as with OPTIMIZE/VACUUM
        elsewhere: an expire racing a compact can resurrect expired
        rows from the pre-flip generation it read.

        CONCURRENT-INGEST fence (r8 review finding): a writer
        replaying pre-cutoff data (resurrect-on-replay is a documented
        write path) could have its just-committed files deleted here
        between ITS file write and ITS meta flip — a loss the txn CAS
        alone cannot see, because expire changes no field the fold
        touches.  So expire runs under the flip lock, re-reads the
        meta inside it, and (when anything was dropped) bumps
        ``expire_gen`` alongside ``txn``: the racing writer's CAS then
        fails, and its retry path REFUSES to merge-fold across an
        expire_gen change (write_points' retry loop) so the caller
        re-runs the batch, rewriting the files.
        """
        with self._flip_lock(ns):
            meta = self._read_meta(ns)

            def _expired(idx: Index) -> set[int]:
                es = sorted(e for e, _b in idx.entries)
                return {
                    es[i] for i in range(len(es) - 1)
                    if es[i + 1] <= older_than_us
                }

            pdir = self._points_dir(ns, meta)
            dropped = []
            if self.fs.is_dir(pdir):
                if meta.dual:
                    # per-kind epoch trees, per-kind boundaries
                    scopes = [
                        (f"{pdir}/kind={k}", _expired(meta.index_for(k)))
                        for k in (0, 1)
                        if self.fs.is_dir(f"{pdir}/kind={k}")
                    ]
                else:
                    scopes = [(pdir, _expired(meta.index))]
                for sdir, expired in scopes:
                    for name in self.fs.list_dirs(sdir):
                        if not name.startswith("epoch="):
                            continue
                        e = int(name[len("epoch="):])
                        if e in expired:
                            self.fs.delete(f"{sdir}/{name}", recursive=True)
                            dropped.append(e)
                if dropped and not any(
                    n.startswith("epoch=")
                    for sdir, _x in scopes
                    for n in self.fs.list_dirs(sdir)
                ):
                    # all epochs expired: drop the husk (marker files
                    # only) so verify's missing-dir branch serves the
                    # empty store — a file-less parquet dir fails the
                    # schema inference it runs; the next append
                    # recreates the layout
                    self.fs.delete(pdir, recursive=True)
            if dropped:
                # The deletes above are O(#expired epochs) and can
                # outlast the lock's stale_after, in which case a
                # waiter LEGITIMATELY breaks our lock and a concurrent
                # writer flips meta — writing the doc we read at lock
                # entry would then silently clobber that writer's
                # watermark/seq_base/txn updates (ADVICE r8: unlike
                # _write_meta_cas's microsecond window, this window is
                # unbounded).  Re-read AFTER the deletes and fold the
                # bump into the fresh document: expire changes no
                # other field, so the fold is exact and preserves a
                # superseding writer's updates.  (_write_meta_cas
                # itself would deadlock re-acquiring the flip lock.)
                fresh = self._read_meta(ns)
                fresh.txn += 1
                fresh.expire_gen += 1
                self._write_meta(ns, fresh)
        return sorted(set(dropped))

    def compact(self, ns: str, target_partitions_per_bucket: int = 1,
                sort_within: Sequence[str] | None = ("address", "time"),
                dedup: bool = False,
                ) -> None:
        """Read-optimizing merge (the OPTIMIZE the reference never does):
        rewrite each (epoch, bucket) partition's many small append files
        into ``target_partitions_per_bucket`` files, preserving rows.

        ``sort_within`` (default ``(address, time)``) additionally
        sorts rows inside each output file, clustering the parquet
        row-group min/max stats so post-compaction point reads skip
        row groups by BOTH the address filter and the time interval —
        append order interleaves addresses, which leaves every
        row-group stat spanning the whole domain.  Pass ``None`` to
        keep raw append order.

        ``dedup=True`` additionally applies the read path's first-wins
        rule AT REST: per (address, time) only the lowest-``seq`` row
        survives the rewrite (kind is a function of the address LSB,
        so the key needs no kind column).  Read results are invariant
        — reads dedup on the fly either way — but replay-heavy or
        multi-writer-retry histories stop paying storage and scan cost
        for their losers.  The key is GLOBAL (address, time) — not
        per-(epoch, bucket) — because the multi-writer recovery path
        can land a re-run batch's rows in a different epoch than the
        crashed original (stale-index routing), and those cross-epoch
        losers are exactly what "removed by compact" promises to
        clean.  The kernel is the same ``min_by`` hash aggregate the
        read path uses (core.first_wins_dedup: one shuffle, map-side
        partials, no per-partition sort); the winner keeps its OWN
        (epoch, bucket) placement columns.
        """
        if dedup:
            from rados_timestore_spark.core import first_wins_dedup

            transform = (lambda df:
                         first_wins_dedup(df, keys=("address", "time")))
        else:
            transform = None
        self._rewrite_generation(
            ns, self._read_meta(ns), transform,
            target_partitions_per_bucket, sort_within)

    def _rewrite_generation(self, ns: str, meta: _Meta, transform,
                            target_partitions_per_bucket: int = 1,
                            sort_within: Sequence[str] | None = (
                                "address", "time"),
                            meta_update=None,
                            allow_missing: bool = False,
                            prune_partitions=None,
                            pre_shaped: bool = False,
                            ) -> None:
        """Shared generation-flip rewrite: read the live points
        generation, apply ``transform`` (row-preserving or
        row-dropping — compact's dedup and MutableKV.vacuum's
        latest-per-key both ride this), write ``points_v{v+1}``, flip
        the meta pointer atomically (txn-CAS), delete the old dir.
        Crash-safe at every step: before the flip the old generation
        stays live (the new dir is a gc-able orphan); after it, only
        the old dir remains to delete.

        ``meta`` is the caller's ENTRY read: the flip CASes against its
        txn, so every gate the caller computed from it (merge_into's
        fold skip, layout gate and prune set) is fenced with it.

        ``prune_partitions`` (r15, VERDICT r14 #3 — the incremental
        rewrite): an explicit list of ``(epoch, bucket)`` pairs that
        are the ONLY partitions ``transform`` reads or emits.  The
        scan is pruned to those partition directories, the write emits
        only them, and every other partition of the old generation is
        carried into the new one by :meth:`fsutil.HadoopFS
        .clone_dir_tree` — a hardlink on ``file://``, a server-side
        whole-object copy elsewhere; never a Spark job.  The CALLER
        owns the correctness proof that untouched partitions are
        byte-preservable (merge_into's folded steady state: single-
        epoch index, constant bucket count, untouched chains already
        one folded row — so their rewrite is the identity).  Crash
        windows are unchanged: the clone populates the same
        not-yet-live ``points_v{v+1}`` orphan the write does, and the
        flip/delete sequence is identical.  Only plain
        ``(epoch, bucket)`` layouts qualify; dual-index (``kind``-led)
        layouts fall back to the full rewrite.  A write that lands a
        row outside the set (a non-deterministic source evaluated
        twice) deletes the new dir and raises before the flip.

        ``pre_shaped`` (r15, guide §2.4): the caller certifies that
        every (epoch, bucket) of its transform output lies wholly in
        ONE task (merge_into's layout-keyed fold shuffles BY the
        layout columns and unions nothing in beside it), so the
        shape_rewrite exchange is skipped and only the writer's
        within-partition sort runs — one shuffle for fold+layout
        instead of two, and still one file per written bucket dir.
        Rows that reach the writer from any other task (e.g. straight
        from the scan) break the invariant: the bucket then gets one
        file per such task, and its file count grows with every
        rewrite."""
        from pyspark.sql import Observation

        from rados_timestore_spark.core import kind_col

        pdir = self._points_dir(ns, meta)
        if prune_partitions is not None and meta.part_cols() != (
                "epoch", "bucket"):
            prune_partitions = None
        if not self.fs.is_dir(pdir):
            if not allow_missing:
                return
            # ``allow_missing`` (r11, for fenced merge_into): run the
            # transform over an EMPTY generation so the commit — and
            # the caller's fence fold in ``meta_update`` — still rides
            # the atomic flip.  Skipping here would force the caller
            # to commit data and fence in two separate writes, exactly
            # the crash window the fence exists to close.
            prune_partitions = None
        by_epoch = None
        if prune_partitions is not None:
            by_epoch = {}
            for e, b in prune_partitions:
                by_epoch.setdefault(int(e), set()).add(int(b))
        df = self._open_points(meta, pdir, partitions=by_epoch)
        if transform is not None:
            df = transform(df)
        next_version = meta.points_version + 1
        new_dir = f"{self._ns_dir(ns)}/points_v{next_version}"
        pcols = meta.part_cols()
        if pre_shaped:
            out = df.sortWithinPartitions(*pcols, *(sort_within or ()))
        else:
            out = shape_rewrite(df, pcols, target_partitions_per_bucket,
                                sort_within)
        # Watermark fold (ADVICE r10): a transform may EMIT rows above
        # the recorded watermarks — MutableKV.merge_into lands merged
        # heads at head_version + n_batch — and persisting them without
        # advancing latest_* leaves verify() reporting beyond_watermark
        # and a later rollover cutting BENEATH live rows.  observe() is
        # free (piggybacks on the write action); for row-preserving
        # transforms (compact, vacuum) the fold is a monotone no-op.
        # The observe sits LAST in the chain, directly under the write:
        # observed below the exchange, a transform that drains to zero
        # rows leaves the metrics row schemaless and obs.get throws
        # (Spark 4.1 toPyRow assertion — found by the KV fuzz).
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.when(kind_col("address") == 0, F.col("time")))
            .alias("max_simple"),
            F.max(F.when(kind_col("address") == 1, F.col("time")))
            .alias("max_extended"),
            F.max("seq").alias("max_seq"),
        ]
        if by_epoch is not None:
            inside = F.lit(False)
            for e, bs in by_epoch.items():
                inside = inside | ((F.col("epoch") == e)
                                   & F.col("bucket").isin(sorted(bs)))
            aggs.append(F.count(F.when(~F.coalesce(inside, F.lit(False)),
                                       1)).alias("n_outside"))
        obs = Observation()
        out = out.observe(obs, *aggs)
        (
            out.write.mode("overwrite").partitionBy(*pcols)
            .parquet(new_dir)
        )
        got = obs.get  # cached after the write action; no extra job
        cloned = 0
        if by_epoch is not None:
            if got["n_outside"]:
                self.fs.delete(new_dir, recursive=True)
                raise ValueError(
                    f"namespace {ns!r}: the pruned rewrite wrote "
                    f"{got['n_outside']} rows outside its "
                    f"{len(prune_partitions)} pruned partitions — its "
                    f"input changed between evaluations (cache or "
                    f"checkpoint a non-deterministic source); nothing "
                    f"was committed")
            # Carry the untouched partitions of the old generation
            # into the new one at metadata rate (see the docstring).
            # This happens BEFORE the flip, so a crash mid-clone
            # leaves the same recoverable orphan a crashed write does.
            touched = {(int(e), int(b)) for e, b in prune_partitions}

            def _part_val(name: str) -> int | None:
                # a non-numeric partition value (e.g. a legacy NULL
                # row's __HIVE_DEFAULT_PARTITION__) can never be in
                # the touched set — batch keys place to real buckets —
                # so it is untouched by definition and gets cloned
                try:
                    return int(name.split("=", 1)[1])
                except ValueError:
                    return None

            for ename in self.fs.list_dirs(pdir):
                if not ename.startswith("epoch="):
                    continue
                e = _part_val(ename)
                for bname in self.fs.list_dirs(f"{pdir}/{ename}"):
                    if not bname.startswith("bucket="):
                        continue
                    b = _part_val(bname)
                    if e is not None and b is not None and (
                            e, b) in touched:
                        continue
                    cloned += self.fs.clone_dir_tree(
                        f"{pdir}/{ename}/{bname}",
                        f"{new_dir}/{ename}/{bname}")
        if int(got["n_rows"] or 0) == 0 and cloned == 0:
            # The transform drained the generation (e.g. vacuum of a
            # fully-tombstoned KV).  A zero-file parquet dir is
            # unreadable (UNABLE_TO_INFER_SCHEMA — found by the KV
            # fuzz), and every reader already treats a MISSING points
            # dir as the empty namespace, so represent empty as absent.
            self.fs.delete(new_dir, recursive=True)
        # Atomic flip: readers resolve the directory via the meta
        # pointer, so a crash before this line leaves the old
        # generation live (new dir is an orphan, rewritten next time);
        # a crash after it leaves only the old dir to GC.  The
        # watermark fold rides the SAME CAS flip so no window exists
        # where the new generation is live under stale watermarks.
        meta.latest_simple = _mono_max(meta.latest_simple,
                                       got["max_simple"])
        meta.latest_extended = _mono_max(meta.latest_extended,
                                         got["max_extended"])
        if got["max_seq"] is not None:
            # A transform may EMIT rows (fenced merge_into on a fresh
            # namespace writes seq=0 while seq_base is still 0 —
            # seq_beyond_base, found by the fence law test).  Monotone
            # fold, a no-op for row-preserving rewrites whose seqs
            # already sit below the base.
            meta.seq_base = max(meta.seq_base, int(got["max_seq"]) + 1)
        meta.points_version = next_version
        if meta_update is not None:
            # caller-supplied fold (e.g. merge_into's batch fence)
            # rides the SAME CAS flip — no window where the new
            # generation is live without it
            meta_update(meta)
        self._write_meta_cas(ns, meta)
        self.fs.delete(pdir, recursive=True)

    def _verify_check_cols(self, meta: _Meta):
        """The integrity-scrub check columns shared by :meth:`verify`
        and :meth:`verify_df`: (expected epoch, expected bucket,
        beyond-watermark predicate) — all re-derived fresh from the
        meta document so a persisted row disagreeing with them is a
        genuine invariant violation."""
        from rados_timestore_spark.core import kind_col

        kind = kind_col("address")
        if meta.dual:
            xidx = meta.index_extended
            want_epoch = (
                F.when(kind == 1, xidx.epoch_col("time"))
                .otherwise(meta.index.epoch_col("time")))
            want_bucket = (
                F.when(kind == 1,
                       place_bucket_by_index(xidx, "time", "address"))
                .otherwise(place_bucket_by_index(
                    meta.index, "time", "address")))
        else:
            want_epoch = meta.index.epoch_col("time")
            want_bucket = place_bucket_by_index(
                meta.index, "time", "address")
        wm_s = meta.latest_simple
        wm_x = meta.latest_extended
        beyond = F.lit(False)
        if wm_s is not None:
            beyond = beyond | ((kind == 0) & (F.col("time") > wm_s))
        else:
            beyond = beyond | (kind == 0)
        if wm_x is not None:
            beyond = beyond | ((kind == 1) & (F.col("time") > wm_x))
        else:
            beyond = beyond | (kind == 1)
        return want_epoch, want_bucket, beyond

    def verify_df(self, ns: str) -> DataFrame:
        """The integrity scrub as a RELATION: one row per live epoch
        with its row count and per-invariant violation counts —
        :meth:`verify`'s distributed aggregate, grouped by epoch so
        the verdict is itself oracle-checkable (a healthy store's
        epochs carry exactly the relationally-predicted row counts and
        all-zero violation columns; any misplaced row shifts a count
        AND trips a violation column).  Read-only, one aggregate scan."""
        meta = self._read_meta(ns)
        pdir = self._points_dir(ns, meta)
        empty = ("epoch long, n_rows long, misplaced_epoch long, "
                 "misplaced_bucket long, beyond_watermark long, "
                 "seq_beyond_base long")
        if not self.fs.is_dir(pdir):
            return self.spark.createDataFrame([], empty)
        df = self.spark.read.parquet(pdir)
        want_epoch, want_bucket, beyond = self._verify_check_cols(meta)
        return (
            df.groupBy(F.col("epoch").cast("long").alias("epoch"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum((F.col("epoch").cast("long") != want_epoch)
                      .cast("long")).alias("misplaced_epoch"),
                F.sum((F.col("bucket").cast("long") != want_bucket)
                      .cast("long")).alias("misplaced_bucket"),
                F.sum(beyond.cast("long")).alias("beyond_watermark"),
                F.sum((F.col("seq") >= F.lit(int(meta.seq_base)))
                      .cast("long")).alias("seq_beyond_base"),
            )
        )

    def verify(self, ns: str) -> dict:
        """Integrity scrub — the read-only fsck for a namespace (the
        operational twin of :meth:`gc`: gc SWEEPS known-stale state,
        verify PROVES the live state is internally consistent).  One
        distributed aggregate over the live points generation checks
        every persisted row against the invariants the write path
        maintains:

        * **routing**: each row's (epoch, bucket) partition matches a
          fresh evaluation of the index placement (``epoch_col`` stab
          + Word64 bucket mod) — a mismatch means a row became
          unreachable to the pruned read path (``_scan`` would never
          look in its directory);
        * **watermark**: no simple/extended row's time exceeds the
          corresponding meta watermark (``latest_*`` is the max the
          writers observed — a row beyond it means a lost meta
          update);
        * **sequence fence**: ``max(seq) < seq_base`` — every ingest
          sequence was allocated from a reserved block;
        * **readability**: the scan itself proves every live parquet
          footer/page decodes (corruption raises, loudly);
        * **orphans**: stale generations / crashed staging dirs are
          REPORTED (gc's sweep preconditions, here without deleting).

        Returns a report dict; ``ok`` is True iff every check passed
        and there is nothing to sweep.  Read-only — safe to run
        concurrently with readers; run serially with writers for an
        exact watermark/seq comparison (a concurrent writer can
        legitimately be mid-flight between data write and meta flip).

        Reference parity: the reference's store laws assert exactly
        these invariants from the outside (tests/StoreTests.hs
        round-trip + index laws); verify() packages them as an
        in-engine verb a production operator can schedule.
        """
        meta = self._read_meta(ns)
        pdir = self._points_dir(ns, meta)
        report: dict = {
            "ns": ns,
            "points_version": meta.points_version,
            "n_rows": 0,
            "misplaced_bucket": 0,
            "misplaced_epoch": 0,
            "beyond_watermark": 0,
            "seq_beyond_base": 0,
            "orphan_dirs": [],
        }
        live_v = meta.points_version
        for name in self.fs.list_dirs(self._ns_dir(ns)):
            if _is_stale_points_dir(name, live_v):
                report["orphan_dirs"].append(name)
        if self.fs.is_dir(pdir):
            df = self.spark.read.parquet(pdir)
            want_epoch, want_bucket, beyond = self._verify_check_cols(meta)
            row = df.agg(
                F.count("*").alias("n"),
                F.sum((F.col("bucket").cast("long")
                       != want_bucket).cast("long")).alias("mb"),
                F.sum((F.col("epoch").cast("long")
                       != want_epoch).cast("long")).alias("me"),
                F.sum(beyond.cast("long")).alias("bw"),
                F.sum((F.col("seq") >= F.lit(int(meta.seq_base)))
                      .cast("long")).alias("sb"),
            ).collect()[0]
            report["n_rows"] = int(row.n or 0)
            report["misplaced_bucket"] = int(row.mb or 0)
            report["misplaced_epoch"] = int(row.me or 0)
            report["beyond_watermark"] = int(row.bw or 0)
            report["seq_beyond_base"] = int(row.sb or 0)
        report["ok"] = (
            report["misplaced_bucket"] == 0
            and report["misplaced_epoch"] == 0
            and report["beyond_watermark"] == 0
            and report["seq_beyond_base"] == 0
            and not report["orphan_dirs"]
        )
        return report

    def gc(self, ns: str, tmp_stale_after: float = 60.0) -> list[str]:
        """Remove stale points generations (crashed compactions leave
        orphan ``points_v{N}`` directories that were never flipped
        live).  Returns the deleted directory names.

        Only generations strictly OLDER than the live version are
        removed: a ``points_v{N}`` with N >= live may be the
        under-construction output of a concurrently running
        :meth:`compact` — deleting it would make the subsequent
        version flip resolve to a missing directory (silent empty
        reads).  Orphans from a *crashed* compaction become eligible
        once a later compaction flips past their version.

        Also sweeps crashed FILE remnants (r11): ``*.tmp.*`` from a
        writer killed inside ``write_text_atomic`` before its rename,
        and ``*.lock.stale.*`` tombs from a stale-breaker killed
        between its rename and delete (see :func:`fsutil.flip_lock`).
        Both are dead by construction — the tmp was never promoted (its
        writer is gone) and a stale tomb is the moved-aside corpse of
        an already-broken lock — but they accumulate listing overhead
        forever without a sweeper.  ``.bak`` files are NOT swept:
        they are ``exists_or_recover``'s crash insurance.

        The file sweep only takes names older than ``tmp_stale_after``
        seconds (default = ``_flip_lock``'s staleness horizon — the
        bound on how long any healthy writer holds a lock or an
        un-renamed tmp): a CONCURRENT writer mid
        ``write_text_atomic`` has a young tmp whose deletion would
        fail its meta flip (ADVICE r11), and a young ``.lock.stale.``
        tomb belongs to a stale-breaker still between its rename and
        delete.  Crashed remnants age past the horizon and sweep on
        the next pass.
        """
        meta = self._read_meta(ns)
        live_v = meta.points_version
        deleted = []
        nsdir = self._ns_dir(ns)
        horizon_ms = int(tmp_stale_after * 1000)
        # 'now' comes from the FILESYSTEM's clock, not the driver's
        # (ADVICE r12 #3): the ages below compare against mtimes the
        # storage assigned, and driver-storage skew > the horizon
        # would sweep a live writer's young tmp (failing its meta
        # flip) or retain crashed remnants forever
        now_ms = fsutil.fs_now_ms(self.fs, nsdir)
        for st in self.fs.fs.listStatus(self.fs._path(nsdir)):
            if st.isDirectory():
                continue
            name = st.getPath().getName()
            if any(m in name for m in _REMNANT_MARKERS):
                if now_ms - int(st.getModificationTime()) < horizon_ms:
                    continue  # possibly an in-flight writer's file
                self.fs.delete(f"{nsdir}/{name}", recursive=False)
                deleted.append(name)
        for name in self.fs.list_dirs(self._ns_dir(ns)):
            # classification shared with verify/stats — see
            # _is_stale_points_dir for the staleness rules
            if _is_stale_points_dir(name, live_v):
                self.fs.delete(f"{self._ns_dir(ns)}/{name}", recursive=True)
                deleted.append(name)
        return deleted

    #: Small-file sizing rule for :meth:`stats` / :meth:`maintain`:
    #: every append lands >=1 parquet file per touched (epoch, bucket),
    #: and scan cost (task scheduling, footer reads, object-store
    #: GETs) grows with file count, not bytes — a bucket past this
    #: many files wants :meth:`compact` (whose default rewrites each
    #: to ONE file).  Class attr so tests exercise the tripwire
    #: without thousand-file fixtures; the ANN indexes' BUCKET_BOUND /
    #: SHARD_BOUND convention.
    FILES_PER_BUCKET_BOUND = 16

    def stats(self, ns: str) -> dict:
        """Debt observability for the store, the ANN ``stats`` verbs
        cross-applied: exact parquet-file counts per leaf
        (epoch, bucket) partition of the LIVE generation (cost bounded
        by file count — pure listings, no data read), plus the crash
        debts :meth:`gc` sweeps (stale generations, crashed tmp/lock/
        stage remnants).  ``over_bound`` lists partitions whose file
        count exceeds :data:`FILES_PER_BUCKET_BOUND` —
        :meth:`maintain` heals them via :meth:`compact`."""
        meta = self._read_meta(ns)
        pdir = self._points_dir(ns, meta)
        nsdir = self._ns_dir(ns)
        per: dict[str, int] = {}

        def walk(base: str) -> None:
            for d in self.fs.list_dirs(base):
                sub = f"{base}/{d}"
                if d.startswith("bucket="):
                    n = sum(
                        1 for st in self.fs.fs.listStatus(
                            self.fs._path(sub))
                        if not st.isDirectory()
                        and not st.getPath().getName()
                        .startswith(("_", ".")))
                    per[sub[len(pdir) + 1:]] = n
                elif d.startswith(("kind=", "epoch=")):
                    walk(sub)

        if self.fs.is_dir(pdir):
            walk(pdir)
        live_v = meta.points_version
        stale_gens = [name for name in self.fs.list_dirs(nsdir)
                      if _is_stale_points_dir(name, live_v)]
        remnants = [
            st.getPath().getName()
            for st in self.fs.fs.listStatus(self.fs._path(nsdir))
            if not st.isDirectory()
            and any(m in st.getPath().getName()
                    for m in _REMNANT_MARKERS)
        ]
        over = sorted(b for b, c in per.items()
                      if c > self.FILES_PER_BUCKET_BOUND)
        return {
            "generation": int(live_v),
            "files_per_bucket": per,
            "bound": int(self.FILES_PER_BUCKET_BOUND),
            "over_bound": over,
            "stale_generations": sorted(stale_gens),
            "crashed_remnants": sorted(remnants),
        }

    def maintain(self, ns: str, dedup: bool = False) -> dict:
        """Measure-then-heal for the store
        (:meth:`VectorIndex.maintain` / :meth:`HNSWIndex.maintain`
        cross-applied — the lakehouse auto-OPTIMIZE shape): crash
        debts run :meth:`gc`; small-file debt past
        :data:`FILES_PER_BUCKET_BOUND` runs :meth:`compact` (row-
        preserving; pass ``dedup=True`` to also drop first-wins
        losers at rest).  A healthy namespace is a strict no-op
        (nothing written — law-tested byte-identical).

        Convergence: compact's default rewrites every partition to
        ONE file (<= any bound >= 1) and deletes the retired
        generation after its CAS flip, and gc removes every stale
        generation it lists, so the next maintain after a heal finds
        those debts gone.  The one bounded exception: a crashed
        remnant FILE younger than gc's staleness horizon (60 s — it
        may belong to an in-flight writer) survives the sweep and
        keeps maintain reporting "gc" until it ages out; the horizon
        bounds that window.  Serial with writers by the same
        maintenance contract as compact/gc."""
        st = self.stats(ns)
        actions = []
        if st["stale_generations"] or st["crashed_remnants"]:
            self.gc(ns)
            actions.append("gc")
        if st["over_bound"]:
            self.compact(ns, dedup=dedup)
            actions.append("compact")
        return {"action": "+".join(actions) if actions else "none",
                "stats": st}


def _dedup_agg(df: DataFrame, payload_cols: tuple[str, ...]) -> DataFrame:
    """First-write-wins dedup as a ``min_by`` hash aggregate.

    Same semantics as :func:`core.first_wins_dedup` (earliest ``seq``
    per (address, time) survives — Algorithms.hs:198-217) but ONE
    shuffle with map-side partial aggregation and no per-partition
    full sort, which beats the window variant on the 100 TB read path.
    (epoch, bucket) are functionally dependent on (address, time), so
    grouping by all four keeps chunk columns without changing keys.
    """
    # Scalar min_by per column (NOT one struct): primitive agg buffers
    # keep the simple path in HashAggregate with codegen; a struct
    # payload would demote the whole aggregate to SortAggregate (two
    # extra sorts).  All min_by calls pick the same row because seq is
    # unique, so per-column min_by == row-wise first.
    out = df.groupBy("address", "time", "epoch", "bucket").agg(
        *[F.min_by(c, "seq").alias(c) for c in payload_cols],
        F.min("seq").alias("seq"),
    )
    return out.select(
        "address", "time", *payload_cols, "seq", "epoch", "bucket"
    )


def place_bucket_by_index(idx: Index, time_col: str, addr_col: str):
    """Bucket column honoring per-epoch bucket counts (Word64 mod
    semantics — see :func:`core.word64_pmod`)."""
    from rados_timestore_spark.core import word64_pmod

    n = idx.bucket_count_col(time_col)
    return word64_pmod(F.col(addr_col).bitwiseAND(F.lit(-2)), n)


def shape_rewrite(df: DataFrame, pcols: Sequence[str],
                  target_partitions_per_bucket: int = 1,
                  sort_within: Sequence[str] | None = ("address", "time"),
                  ) -> DataFrame:
    """Shape a generation rewrite for the partitioned writer.

    Hash-partition by the LAYOUT COLUMNS, not into a fixed task
    count: repartition(N, cols) pins the whole rewrite into N tasks
    at ANY scale (the r2-r10 shape was N=1 — one task rewriting the
    entire namespace, a serial point at 100 TB).  repartition(cols)
    keeps each (epoch, bucket) group wholly in one task (=> still
    exactly ``target`` files per bucket dir) while parallelism scales
    with shuffle.partitions/AQE.  target > 1 adds an address-hash
    salt so a bucket can split into that many files/tasks.

    Module-level (not a TimeStore method) so test_plans can pin the
    exchange shape — hashpartitioning on the layout columns, never
    SinglePartition/round-robin — without standing up a store.

    The partition COUNT is pinned to the session's
    ``spark.sql.shuffle.partitions`` (r15): an un-counted
    ``repartition(cols)`` is AQE-coalescible, and AQE reasons in
    BYTES — on a small-bytes rewrite it merges the exchange into one
    task, which then commits every bucket file serially (~15 ms per
    parquet open/close: measured 4.4 s -> 1.5 s on a 256-bucket write
    by pinning the count).  Partitioned-write cost is per-FILE, not
    per-byte, so the writer stage must keep the session's parallelism.
    At scale this is a no-op: shuffle.partitions is the documented
    scale knob (2-3x cluster cores in production) and bucket bytes are
    far above the advisory size, so AQE would not have coalesced.
    Each (epoch, bucket) group still hashes wholly into one task —
    file counts are unchanged at any N.
    """
    pcols = list(pcols)
    n_part = shuffle_partition_count(df.sparkSession)
    if target_partitions_per_bucket <= 1:
        out = df.repartition(n_part, *pcols)
    else:
        out = df.withColumn(
            "__file",
            F.pmod(F.hash("address"),
                   F.lit(int(target_partitions_per_bucket))))
        out = out.repartition(n_part, *pcols, "__file").drop("__file")
    if sort_within:
        # Partition columns lead the sort: the partitioned writer
        # re-sorts each task by the partition cols unless the
        # incoming order already satisfies it — with this prefix
        # Spark eliminates its own sort and the per-file clustering
        # survives into the parquet row groups.
        out = out.sortWithinPartitions(*pcols, *sort_within)
    return out


def _mono_max(current: int | None, seen) -> int | None:
    if seen is None:
        return current
    seen = int(seen)
    return seen if current is None or seen > current else current


def _scan_schema():
    from pyspark.sql import types as T

    return T.StructType(
        POINTS_SCHEMA.fields
        + [
            T.StructField("kind", T.IntegerType(), True),
            T.StructField("epoch", T.LongType(), True),
            T.StructField("bucket", T.LongType(), True),
        ]
    )
