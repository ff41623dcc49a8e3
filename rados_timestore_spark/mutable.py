"""Mutable KV view over the append-only point log.

Reference: ``TimeStore.Mutable`` (lib/TimeStore/Mutable.hs) — a
last-value-per-key map layered on the point store:

* keys are addresses forced extended (``setBit 0``, Mutable.hs:95);
* ``Time`` is reused as a monotonically increasing version
  (Mutable.hs:14-15, 98-101);
* values are extended blobs in a shadow namespace ``ns <> "_INTERNAL"``
  (Mutable.hs:43-46) with a fixed single-epoch 128-bucket index
  (StoreHelpers.hs:151-154);
* lookup reads the key's bucket and takes the highest version
  (Mutable.hs:48-73, ``findLast`` 121-139);
* ``insertWith`` is an *unlocked* read-modify-write whose merge
  function is the system's only user-definable hook (Mutable.hs:83-103).

Spark-native design: the log IS the table; the map is the
latest-per-key aggregate (``max_by``) — ``enumerate`` becomes one
hash-aggregate scan instead of 128 bucket walks.  Point lookups prune
to the key's single bucket partition first.  ``insert_with`` keeps the
reference's read-merge-append semantics (and improves on its raciness
only by being a single-writer API); ``merge_with`` is the scalable
bulk variant: fold ALL versions per key through the merge function in
one ``applyInPandas`` pass — no per-key round-trips.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rados_timestore_spark.core import latest_per_key, one_slice_df
from rados_timestore_spark.session import shuffle_partition_count
from rados_timestore_spark.store import TimeStore

MUTABLE_BUCKETS = 128  # StoreHelpers.hs:151-154


def _chain_runs(batches, key_col: str, fold_group, fold_singles=None):
    """The :func:`_fold_chain_groups` kernel over one task's key-sorted
    pandas batches: cut each batch into key runs and fold every closed
    run."""
    pend: pd.DataFrame | None = None
    for pdf in batches:
        if not len(pdf):
            continue
        if pend is not None:
            pdf = pd.concat([pend, pdf], ignore_index=True)
            pend = None
        keys = pdf[key_col].to_numpy()
        cut = np.nonzero(keys[1:] != keys[:-1])[0] + 1
        starts = np.concatenate(([0], cut))
        # hold the final run back: the key may continue in the next
        # Arrow batch of this partition
        pend = pdf.iloc[starts[-1]:]
        ends = starts[1:]
        starts = starts[:-1]
        if fold_singles is not None:
            one = starts[ends - starts == 1]
            done, bulk = fold_singles(pdf.iloc[one])
            if len(bulk):
                yield bulk
            rest = np.ones(len(starts), dtype=bool)
            rest[np.searchsorted(starts, one[done])] = False
            starts, ends = starts[rest], ends[rest]
        out = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            r = fold_group(pdf.iloc[s:e])
            if r is not None:
                out.append(r)
        if out:
            yield pd.DataFrame(out)
    if pend is not None and len(pend):
        r = fold_group(pend)
        if r is not None:
            yield pd.DataFrame([r])


def _merge_chain(merge: Callable[[bytes, bytes], bytes],
                 pdf: pd.DataFrame) -> dict | None:
    """:meth:`MutableKV.merge_into`'s fold of one key: the stored chain
    (``__src`` 0) then the batch rows (``__src`` 1), pre-sorted by
    ``(__src, time, seq)``.  The head lands at the stored head version
    plus the number of batch rows."""
    acc: bytes | None = None
    head_t = -1
    n_batch = 0
    for src, t, blob in zip(pdf["__src"], pdf["time"], pdf["payload"]):
        if src == 0:
            head_t = max(head_t, int(t))
            if blob is None:  # tombstone: chain restarts
                acc = None
                continue
        else:
            n_batch += 1
        b = bytes(blob)
        acc = b if acc is None else merge(b, acc)
    if acc is None:  # untouched dead chain: compacted away
        return None
    return {"address": int(pdf["address"].iloc[0]),
            "time": head_t + n_batch,
            "payload": acc}


def _fold_stored_heads(rows: pd.DataFrame,
                       ) -> tuple[np.ndarray, pd.DataFrame]:
    """The ``fold_singles`` of :func:`_merge_chain`: a one-row chain
    that is a stored, live row (``__src`` 0, payload not NULL) folds to
    itself — ``merge`` is never called, the version stays.  In a
    steady-state merge these are the untouched keys of the touched
    buckets, most of the rows the kernel sees."""
    done = ((rows["__src"].to_numpy() == 0)
            & rows["payload"].notna().to_numpy())
    return done, rows.loc[done, ["address", "time", "payload"]]


def _fold_chain_groups(df: DataFrame, order_cols: tuple,
                       fold_group: Callable[[pd.DataFrame], dict | None],
                       out_schema: str,
                       key_col: str = "address",
                       shuffle_cols: tuple | None = None,
                       fold_singles: Callable[
                           [pd.DataFrame],
                           tuple[np.ndarray, pd.DataFrame]] | None = None,
                       ) -> DataFrame:
    """Grouped chain fold in ONE ``mapInPandas`` pass: hash-shuffle by
    ``key_col``, sort every partition by ``(key, *order_cols)``, then
    stream the sorted Arrow batches through a single Python worker per
    task, slicing contiguous key runs and handing each (already
    ordered) run to ``fold_group``.

    Semantically identical to ``df.groupBy(key_col).applyInPandas(f)``
    where ``f`` sorts by ``order_cols`` first — all of a key's rows
    land in one partition, contiguous and in fold order — but the
    per-GROUP cost is a pandas slice instead of a per-group Arrow
    round-trip + Python call.  ``FlatMapGroupsInPandas`` serializes
    each group as its own Arrow batch (~1-3 ms per key), which
    dominates a merge fold at high key cardinality: the sf0.1 merge
    bench spends ~5 s folding 1 500 keys / 20 k rows through the
    per-group path vs ~1 s through this one, and the gap grows with
    keys.  Parallelism/skew behavior is unchanged — the same hash
    exchange, AQE-coalescible, one task per hot key's chain either
    way.

    ``fold_group`` receives one key's rows as a pandas DataFrame IN
    ``order_cols`` ORDER and returns a dict row (column names must
    match ``out_schema``) or ``None`` to drop the key.

    ``shuffle_cols`` (r15, guide §2.4): hash the exchange on these
    columns instead of ``key_col``.  Legal whenever they are a pure
    FUNCTION of the key (e.g. the store's (epoch, bucket) layout under
    a single-entry index) — every key's rows still land in one
    partition and the within-partition sort keeps them contiguous —
    and it lets the caller write the fold output partitioned by
    layout WITHOUT a second exchange: two operations keyed
    compatibly share one shuffle.

    ``fold_singles`` folds one-row groups in bulk: it receives every
    closed one-row group of an Arrow batch as one frame and returns
    ``(mask, out)`` — the rows it folded and their output rows, which
    must equal what ``fold_group`` would return for each.  The rest
    still go through ``fold_group``.  Output row order within a batch
    is then not the key order.
    """
    if shuffle_cols:
        # layout-keyed fold feeding a pre-shaped partitioned write:
        # pin the partition count so AQE's byte-based coalescing
        # cannot serialize the per-file commit cost of the write
        # stage above (see store.shape_rewrite) — nor the Python
        # fold itself
        n = shuffle_partition_count(df.sparkSession)
        shuffled = df.repartition(n, *shuffle_cols)
    else:
        shuffled = df.repartition(key_col)
    shuffled = shuffled.sortWithinPartitions(key_col, *order_cols)
    return shuffled.mapInPandas(
        partial(_chain_runs, key_col=key_col, fold_group=fold_group,
                fold_singles=fold_singles), out_schema)


class MutableKV:
    def __init__(self, store: TimeStore, ns: str):
        self.store = store
        self.ns = ns + "_INTERNAL"  # Mutable.hs:43-46
        if not store.is_registered(self.ns):
            store.register_namespace(self.ns, buckets=MUTABLE_BUCKETS)

    @staticmethod
    def _key(key: int) -> int:
        return key | 1  # force extended (Mutable.hs:95)

    # ---------------------------------------------------------- writes

    def insert(self, key: int, value: bytes) -> None:
        """Last-write-wins upsert (``insert = insertWith const``,
        Mutable.hs:75-81)."""
        self.insert_with(lambda new, old: new, key, value)

    def insert_with(self, merge: Callable[[bytes, bytes], bytes],
                    key: int, value: bytes) -> bytes:
        """Read-modify-write upsert with user merge (Mutable.hs:83-103):
        written value = ``merge(new, existing)`` at version+1."""
        addr = self._key(key)
        cur = self._lookup_versioned(addr)
        if cur is None:
            out, ver = value, 0
        elif cur[0] is None:  # tombstoned: fresh value, version above
            out, ver = value, cur[1] + 1
        else:
            out, ver = merge(value, cur[0]), cur[1] + 1
        df = one_slice_df(
            self.store.spark,
            [(addr, ver, bytearray(out))], "address long, time long, payload binary"
        )
        self.store.write_points(self.ns, df)
        return out

    def delete(self, key: int) -> None:
        """Tombstone delete: append a NULL-payload version above the
        chain head — :meth:`lookup` reads the key as absent,
        :meth:`enumerate` omits it, a later :meth:`insert` resurrects
        it at the next version, and :meth:`vacuum` reclaims the dead
        chain at rest.  The log stays append-only (the store never
        mutates files), exactly like every LSM/KV delete."""
        addr = self._key(key)
        cur = self._lookup_versioned(addr)
        if cur is None or cur[0] is None:
            # Absent key OR head already a tombstone: no-op.  Without
            # the second check a replayed takedown list appends one
            # more tombstone per replay and dead chains grow without
            # bound between vacuums (ADVICE r9).
            return
        df = one_slice_df(
            self.store.spark,
            [(addr, cur[1] + 1, None)],
            "address long, time long, payload binary",
        )
        self.store.write_points(self.ns, df)

    def delete_bulk(self, keys: DataFrame) -> None:
        """Tombstone many keys in ONE pass (the takedown-list shape —
        per-key :meth:`delete` would be a driver loop): join the key
        list against the current version vector, append one
        NULL-payload tombstone above each EXISTING chain (absent and
        already-tombstoned keys are no-ops, same as delete — replayed
        takedown lists must not grow dead chains, ADVICE r9).
        ``keys``: a (key long) frame."""
        k = keys.select(
            F.col("key").bitwiseOR(F.lit(1)).alias("key")).distinct()
        cur = (self.enumerate_versions().join(k, "key")
               .filter(F.col("payload").isNotNull()))
        tomb = cur.select(
            F.col("key").alias("address"),
            (F.col("time") + 1).alias("time"),
            F.lit(None).cast("binary").alias("payload"),
        )
        self.store.write_points(self.ns, tomb)

    def vacuum(self, merge: Callable[[bytes, bytes], bytes] | None = None,
               ) -> None:
        """Compact the KV at rest, dropping tombstoned chains entirely.
        Rides the store's generation-flip rewrite (staging dir + atomic
        meta pointer flip + txn CAS), so it is crash-safe and
        serializes with writers like compact/expire.  What changes is
        the at-rest cost — a hot key's thousand dead versions stop
        being scanned and stored.  Which reads stay invariant depends
        on how the chains below the head are interpreted, and the two
        read APIs disagree (ADVICE r9), so the caller picks:

        * ``merge=None`` (last-write-wins KV): keep ONLY each key's
          winning version (highest version, lowest seq — the exact
          :meth:`lookup` rule).  :meth:`lookup`/:meth:`enumerate` are
          invariant.  :meth:`merge_with` is NOT invariant for chains
          holding raw unmerged versions (:meth:`insert_bulk` writes
          those): its fold collapses to just the head value, and the
          dropped merge inputs are gone for good.

        * ``merge=f`` (fold KV, the :meth:`insert_with`/:meth:`merge_with`
          discipline): pre-fold each chain oldest→newest through ``f``
          (exactly :meth:`merge_with`'s fold, tombstones restart it)
          and keep ONE version carrying the folded value at the head's
          position.  ``merge_with(f)`` is invariant — the compacted
          chain folds to the same value, and a later append ``v`` folds
          to ``f(v, acc)`` exactly as the full chain would have.
          :meth:`lookup` now returns the folded value too (for raw
          insert_bulk chains that differs from the pre-vacuum head)."""
        from pyspark.sql import Window

        if merge is None:
            def transform(df: DataFrame) -> DataFrame:
                w = Window.partitionBy("address").orderBy(
                    F.desc("time"), F.asc("seq"))
                return (
                    df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                    .filter(F.col("payload").isNotNull())
                )
        else:
            def transform(df: DataFrame) -> DataFrame:
                def fold(pdf: pd.DataFrame) -> dict | None:
                    # rows arrive pre-sorted by (time, seq)
                    acc: bytes | None = None
                    for blob in pdf["payload"]:
                        if blob is None:  # tombstone: chain restarts
                            acc = None
                            continue
                        b = bytes(blob)
                        acc = b if acc is None else merge(b, acc)
                    if acc is None:  # deleted / tombstone-only chain
                        return None
                    head = pdf.iloc[-1].to_dict()
                    head["payload"] = acc
                    return head

                return _fold_chain_groups(df, ("time", "seq"), fold,
                                          df.schema)

        def _mark_folded(m):
            # both vacuum modes leave one non-tombstone row per
            # surviving chain — the KV merge fast path's steady-state
            # precondition (see _Meta.kv_folded)
            m.kv_folded = True

        self.store._rewrite_generation(
            self.ns, self.store._read_meta(self.ns), transform,
            meta_update=_mark_folded)

    #: Chain-debt sizing rule for :meth:`stats` / :meth:`maintain`
    #: (the store/ANN maintain convention): heal when a vacuum would
    #: remove STRICTLY MORE rows than it keeps (rows > FACTOR x
    #: live_after_vacuum).  Dead rows on an otherwise-live KV don't
    #: trigger until they outweigh the live heads; an ENTIRELY-dead
    #: KV (live 0, rows > 0) does trigger — reclaiming it is the
    #: point, and the rewrite it pays is proportional to those rows.
    VACUUM_DEBT_FACTOR = 2

    def stats(self) -> dict:
        """Chain-debt observability: one grouped aggregate over the
        raw version rows (a single shuffle; no fold, no Python)
        reporting total rows, distinct keys, the longest chain,
        tombstone rows, and ``live_after_vacuum`` — the rows a
        ``vacuum()`` would keep (one per chain whose WINNING head —
        highest time, lowest seq, exactly :meth:`lookup`'s rule — is
        not a tombstone).  ``dead_rows`` = rows - live_after_vacuum
        is the at-rest debt :meth:`maintain` weighs.  ``folded``
        mirrors the merge fast path's steady-state flag."""
        meta = self.store._read_meta(self.ns)
        # one meta snapshot serves both the folded flag and the
        # generation pointer (r14 review: the pointer-less
        # _points_dir call re-read meta, and the two reads could
        # straddle a concurrent generation flip)
        pdir = self.store._points_dir(self.ns, meta)
        base = {
            "rows": 0, "keys": 0, "max_chain": 0, "tombstones": 0,
            "live_after_vacuum": 0, "dead_rows": 0,
            "folded": bool(meta.kv_folded),
            "debt_factor": int(self.VACUUM_DEBT_FACTOR),
        }
        if not self.store.fs.is_dir(pdir):
            return base
        row = self._chain_stats_df(pdir).collect()
        if not row or row[0]["keys"] is None or row[0]["keys"] == 0:
            return base
        r = row[0]
        base.update(
            rows=int(r["rows"]), keys=int(r["keys"]),
            max_chain=int(r["max_chain"]),
            tombstones=int(r["tombstones"]),
            live_after_vacuum=int(r["live"]),
            dead_rows=int(r["rows"]) - int(r["live"]),
        )
        return base

    def _chain_stats_df(self, pdir: str) -> DataFrame:
        """The :meth:`stats` aggregate as a DataFrame (plan pinned by
        tests/test_plans.py): one hash-partitioned groupBy over the
        version rows (map-side partial aggregation, no Python, no
        join) feeding a single-row global reduce — the winning-head
        rule rides ``max_by`` over ``(time, -seq)``, exactly
        :meth:`lookup`'s ordering."""
        df = (self.store._open_points(None, pdir)
              .filter(F.col("kind") == 1)
              .select("address", "time", "seq", "payload"))
        per = df.groupBy("address").agg(
            F.count("*").alias("chain"),
            F.sum(F.when(F.col("payload").isNull(), 1)
                  .otherwise(0)).alias("tombs"),
            F.max_by(
                F.col("payload").isNull(),
                F.struct(F.col("time").alias("t"),
                         (-F.col("seq")).alias("s"))).alias("head_tomb"),
        )
        return per.agg(
            F.count("*").alias("keys"),
            F.sum("chain").alias("rows"),
            F.max("chain").alias("max_chain"),
            F.sum("tombs").alias("tombstones"),
            F.sum(F.when(F.col("head_tomb"), 0)
                  .otherwise(1)).alias("live"),
        )

    def maintain(self,
                 merge: Callable[[bytes, bytes], bytes] | None = None,
                 ) -> dict:
        """Measure-then-heal for the KV (the fourth surface of the
        engine-wide maintain convention — store / IVF / HNSW have
        the other three): :meth:`stats` weighs the chain debt, and a
        :meth:`vacuum` runs only when it would remove strictly more
        rows than it keeps (``rows > VACUUM_DEBT_FACTOR x
        live_after_vacuum`` — the lakehouse rewrite-amplification
        rule: a full-generation rewrite must earn its cost; see
        :data:`VACUUM_DEBT_FACTOR` for the edge semantics).

        ``merge`` selects the vacuum semantics and carries vacuum's
        documented caveat verbatim: ``None`` keeps last-write-wins
        heads (lookup/enumerate invariant), ``f`` pre-folds chains
        (merge_with invariant).  Healthy KV = strict no-op, nothing
        written.  Convergence: a vacuum leaves exactly one row per
        surviving chain — ``rows == live_after_vacuum`` — so the
        next maintain is always "none" (law-tested)."""
        st = self.stats()
        if st["rows"] <= self.VACUUM_DEBT_FACTOR * st["live_after_vacuum"]:
            return {"action": "none", "stats": st}
        self.vacuum(merge)
        return {"action": "vacuum", "stats": st}

    # ----------------------------------------------------------- reads

    def lookup(self, key: int) -> bytes | None:
        """Latest value for key (Mutable.hs:48-60)."""
        got = self._lookup_versioned(self._key(key))
        return None if got is None else got[0]

    def _lookup_versioned(self, addr: int) -> tuple[bytes | None, int] | None:
        # Bucket-pruned point read over the full version range
        # (lookup' reads [0, maxBound], Mutable.hs:61-73).  A NULL
        # payload at the head of the chain is a TOMBSTONE: the key
        # reads as absent, but the version keeps counting so a
        # re-insert lands ABOVE the tombstone (returning None here
        # would restart at version 0 underneath it — the key would
        # stay deleted forever).  The raw scan is ordered directly,
        # without read_extended's first-wins aggregate: the lowest seq
        # of the highest version IS that version's first-wins row, so
        # the answer is the same in one job instead of two.
        df = self.store._scan(self.ns, 0, (1 << 62), [addr], kind=1)
        row = (df.filter(F.col("kind") == 1)
               .orderBy(F.desc("time"), F.asc("seq")).limit(1).collect())
        if not row:
            return None
        payload = row[0]["payload"]
        return (None if payload is None else bytes(payload),
                int(row[0]["time"]))

    def _read_generation(self, pdir: str, folded: bool) -> DataFrame:
        """Scan the live points generation; when the caller is about
        to trust ``_Meta.kv_folded`` (identity fast path, no argmax),
        pin the scan to the generation rewrite's OWN files.

        A concurrent :meth:`TimeStore.write_points` makes its raw rows
        visible by promoting ``s<batch>-part-*`` files into the live
        dir BEFORE the meta CAS that clears ``kv_folded``; a reader
        that snapshotted meta (flag still true) and then lists the
        directory would otherwise scan multi-row chains without the
        argmax — returning both the folded head and the uncommitted
        raw version(s), a state no serial history produces (VERDICT
        r14 #2).  Generation rewrites write plain ``part-*`` files and
        every concurrent append promotes with an ``s``-prefix, so a
        ``pathGlobFilter`` restores snapshot isolation: the folded
        read sees exactly the committed generation.  (The non-folded
        argmax path keeps the full listing — it is self-consistent by
        construction, and bulk backfill's direct ``part-*`` appends
        are a documented single-writer maintenance verb.)"""
        opts = {"pathGlobFilter": "part-*"} if folded else {}
        return self.store._open_points(None, pdir, **opts)

    def enumerate(self) -> DataFrame:
        """All (key, value) pairs at their latest version
        (Mutable.hs:105-119) — one latest-per-key aggregate scan.

        When the live generation is a prior merge/vacuum's output
        (``_Meta.kv_folded`` — every surviving chain exactly one
        non-tombstone row, the same invariant the merge fold-skip
        fast path keys on), the argmax is the identity and its
        shuffle is skipped: the folded view scans straight through.
        Any raw append clears the flag under the same CAS flip as the
        rows; the folded scan is additionally pinned to the
        generation rewrite's own files (see :meth:`_read_generation`)
        so an append whose files are promoted but whose CAS has not
        landed yet cannot leak raw rows into a folded read."""
        meta = self.store._read_meta(self.ns)
        pdir = self.store._points_dir(self.ns, meta)
        df = self._read_generation(pdir, meta.kv_folded).filter(
            F.col("kind") == 1)
        out = (df if meta.kv_folded
               else latest_per_key(df, payload_cols=("payload",)))
        return out.filter(F.col("payload").isNotNull()).select(
            F.col("address").alias("key"), F.col("payload").alias("value")
        )

    # ----------------------------------------------------- bulk (scale)

    def insert_bulk(self, df: DataFrame) -> None:
        """Append many (key, value) rows in one batch; versions are the
        per-key next version.  df: (key long, value binary), plus an
        optional ``seq`` long giving the within-batch order.

        Duplicate keys within the batch are numbered by ``seq`` order
        (input order if absent) so the batch is equivalent to the same
        sequence of :meth:`insert` calls — the LAST duplicate wins on
        read, matching sequential last-write-wins.  The current-version
        lookup is a plain join (AQE broadcasts it only when small);
        broadcasting the whole KV state unconditionally would OOM at
        scale.
        """
        from pyspark.sql import Window

        if "seq" not in df.columns:
            df = df.withColumn("seq", F.monotonically_increasing_id())
        cur = self.enumerate_versions().select(
            F.col("key"), F.col("time").alias("__cur")
        )
        w = Window.partitionBy("key").orderBy("seq")
        new = (
            df.withColumn("key", F.col("key").bitwiseOR(F.lit(1)))
            .withColumn("__rn", F.row_number().over(w) - 1)
            .join(cur, "key", "left")
            .select(
                F.col("key").alias("address"),
                (
                    F.coalesce(F.col("__cur") + 1, F.lit(0)) + F.col("__rn")
                ).alias("time"),
                F.col("value").alias("payload"),
            )
        )
        self.store.write_points(self.ns, new)

    def merge_into(self, updates: DataFrame,
                   merge: Callable[[bytes, bytes], bytes],
                   associative: bool = False,
                   salt: int = 32,
                   batch_id: int | None = None,
                   app_id: str | None = None) -> None:
        """Bulk MERGE of an update batch into the latest-view — M3's
        read-merge-append (``insertWith``, Mutable.hs:83-103)
        re-expressed as the generation-swap MERGE a lakehouse table
        runs (the Delta/Iceberg ``MERGE INTO`` production shape
        SURVEY §2 maps M3 to): ONE shuffle + one Arrow-batched pass
        computes, per key, ``fold(chain)`` (exactly
        :meth:`merge_with`'s fold, tombstones restart it) and then
        folds the batch's updates for that key (seq order) through
        ``merge``; the namespace generation is swapped
        (:meth:`TimeStore._rewrite_generation`: staging dir + atomic
        meta flip + txn CAS) so each surviving key holds exactly ONE
        version carrying the merged value.  Contrast with a loop of
        :meth:`insert_with` calls: same end state
        (**differential law, tested**: ``merge_into(b, f)`` then
        ``enumerate()`` == ``insert_bulk(b)`` then ``merge_with(f)``),
        but no per-key driver round-trips and the dead chain is
        compacted away in the same pass.

        Versions stay monotone: the merged row lands at
        ``head_version + n_batch_rows_for_key`` (``n - 1`` for fresh
        keys) — exactly where the equivalent ``insert_with`` sequence
        would have put its head — so later writes still land above it.
        ``updates``: (key long, value binary) plus an optional ``seq``
        giving within-batch order (input order if absent).

        ``associative=True`` (opt-in, VERDICT r10 #4): declares that
        ``merge`` is associative AND commutative (counters, max,
        set-union — the CRDT-merge shapes), which lets the fold split:
        a JVM-side aggregate finds each key's head version / batch
        count / last-tombstone cut, the surviving rows pre-fold in
        ``salt``-way sub-groups (bounded task size however hot the
        key), and a per-key combine of at most ``salt`` partials
        finishes.  The default path keeps one task per key because the
        general fold is order-dependent (PLANS.md r10) — a chain
        cannot split without exactly this assumption.  Differential
        law (tested): for a commutative-associative ``merge`` both
        paths equal ``insert_bulk`` + ``merge_with``.

        ``batch_id`` (r11): opt-in EXACTLY-ONCE fence for streaming
        MERGE ingest — the store-side analog of
        ``VectorIndex.append_batch``.  A batch at or below the meta's
        committed ``merge_batch_id`` is a completed replay, skipped
        outright; the fence advances INSIDE the same CAS flip that
        commits the merged generation, so no crash point exists where
        the merge is live but unfenced (or fenced but not live).
        Unfenced merge_into is NOT crash-replay idempotent — a replay
        double-applies the batch — so at-least-once sources MUST pass
        their micro-batch id (foreachBatch's contract: ids are
        monotone and a redelivered batch keeps its id).

        ``app_id`` (r12, ADVICE r11): scopes the fence to ONE stream
        lineage, Delta's ``(txnAppId, txnVersion)`` idempotent-write
        pattern.  Micro-batch ids are only monotone WITHIN a
        checkpoint lineage — a stream restarted with a new checkpoint
        directory restarts them at 0, and the unscoped fence would
        silently skip every batch at or below the old high-water mark
        (silent data loss).  With ``app_id`` set, the fence lives in
        ``meta.merge_fences[app_id]`` and a new lineage (new app id)
        starts fresh.  :func:`streaming.ingest.stream_kv_merges`
        derives the app id from the checkpoint's own query id, so
        callers get lineage-scoped fencing by default.  WARNING: when
        fencing with a bare ``batch_id`` (no app id), the checkpoint
        lineage must NEVER be reset against an existing namespace — a
        regressed id is indistinguishable from a completed replay and
        is skipped.

        ``updates`` rows with a NULL ``value`` are rejected with a
        clear keyed error (ADVICE r11): a bare NULL used to crash
        ``bytes()`` deep in an executor, and under a batch fence the
        poison batch then failed every redelivery without ever
        advancing the fence.  The guard is an in-plan ``raise_error``
        on the batch projection — it rides the FIRST scan of the
        batch in every path (zero extra pass; a driver-side pre-check
        would re-evaluate the whole updates plan once per merge) and
        fires BEFORE any commit point: the fence has not advanced and
        the staged generation is an unflipped orphan gc() reclaims.
        Schemas whose ``value`` column is non-nullable skip the guard
        entirely.  Tombstone deletes go through :meth:`delete_bulk`,
        which encodes them explicitly."""
        from rados_timestore_spark.store import place_bucket_by_index

        if app_id is not None and batch_id is None:
            raise ValueError(
                f"merge_into({self.ns!r}): app_id={app_id!r} requires "
                f"a batch_id — the fence is keyed on (app_id, batch_id)")
        inherits_legacy = first_keyed = False
        # The ONE meta read of this merge: every gate below (the
        # fence, the steady-state fold skip, the layout gate, the
        # prune set) comes from it, and the rewrite's flip CASes
        # against its txn, so any append, rollover or merge that
        # commits in between fails this merge's flip instead of
        # passing it with stale gates.
        meta0 = self.store._read_meta(self.ns)
        # Steady-state fold skip (r14, VERDICT r13 #6): when the live
        # generation is a prior merge/vacuum's output (every chain
        # exactly one non-tombstone row — _Meta.kv_folded), the fold
        # of an UNTOUCHED key is the identity, so no per-key Python
        # call folds it: the plain fold emits such rows in bulk
        # (_fold_stored_heads) and the associative path passes them
        # through JVM-side (_split_folded).  This is the dominant
        # term of the streaming MERGE case (stream_kv_merges: small
        # per-batch updates against a large folded view).
        folded_steady = meta0.kv_folded
        if batch_id is not None:
            if app_id is not None:
                fence = meta0.merge_fences.get(app_id, -1)
                # Upgrade-in-place seeding (ADVICE r12 #1): the FIRST
                # keyed merge on a namespace whose legacy unkeyed
                # fence had advanced MAY be the in-place upgrade
                # resuming the SAME checkpoint, whose redelivered
                # in-flight batch already applied under
                # merge_batch_id — a fresh -1 lineage fence would
                # double-apply it.  But it may equally be a genuinely
                # NEW checkpoint created in the same maintenance
                # window, whose batches must all apply (r13 review
                # finding).  The two are distinguishable by the batch
                # id: within one lineage foreachBatch redelivers only
                # the LAST batch, so the resumed-checkpoint replay
                # arrives with id == the legacy fence exactly, while
                # a new lineage restarts at 0.  Inherit ONLY on that
                # exact match; either way the first keyed merge
                # commits the one-shot migration marker so no LATER
                # lineage can ever inherit.  (Corner: a new lineage's
                # batch 0 against legacy fence 0 is indistinguishable
                # from the resumed replay and is skipped — the
                # conservative side; it requires the legacy stream to
                # have committed exactly one batch ever.)
                first_keyed = (app_id not in meta0.merge_fences
                               and not meta0.merge_fences_migrated
                               and meta0.merge_batch_id > -1)
                inherits_legacy = (
                    first_keyed
                    and int(batch_id) == int(meta0.merge_batch_id))
                if inherits_legacy:
                    # Surface the one-shot inheritance (ADVICE r14 #4):
                    # when the legacy fence is exactly 0 this skip may
                    # be a genuinely new lineage's batch 0 (the
                    # documented conservative corner above) — operators
                    # of single-batch legacy namespaces need a signal
                    # to audit, not a silent no-op.
                    import warnings

                    warnings.warn(
                        f"merge_into({self.ns!r}): first keyed merge "
                        f"(app_id={app_id!r}) inherits the legacy "
                        f"unkeyed fence {int(meta0.merge_batch_id)}; "
                        f"batch_id={int(batch_id)} is treated as the "
                        f"resumed checkpoint's replay and SKIPPED.  If "
                        f"this is a NEW checkpoint whose batch ids "
                        f"legitimately start at the legacy fence, "
                        f"re-apply the skipped batch manually.",
                        stacklevel=2,
                    )
                    fence = max(int(fence), int(meta0.merge_batch_id))
            else:
                fence = meta0.merge_batch_id
            if int(batch_id) <= int(fence):
                if inherits_legacy:
                    # commit the inheritance even for the skipped
                    # replay, so the one-shot marker survives a later
                    # checkpoint reset (the next lineage must NOT
                    # inherit): fold the seeded fence in-place under
                    # the CAS flip
                    meta0.merge_fences[app_id] = max(
                        meta0.merge_fences.get(app_id, -1), int(fence))
                    meta0.merge_fences_migrated = True
                    self.store._write_meta_cas(self.ns, meta0)
                return  # completed replay — fenced no-op

        def _fence(m):
            # After this rewrite every surviving chain holds exactly
            # one non-tombstone row — the steady-state marker the next
            # merge's fold-skip fast path keys on (r14, VERDICT r13
            # #6; see _Meta.kv_folded).  Rides the same CAS flip as
            # the data, like the batch fence below.
            m.kv_folded = True
            if batch_id is None:
                return
            if app_id is not None:
                from rados_timestore_spark.fsutil import bump_fence_lru

                floor = (int(meta0.merge_batch_id)
                         if inherits_legacy else -1)
                # LRU-bounded lineages (ADVICE r12 #4, policy and
                # rationale at fsutil.MAX_FENCE_LINEAGES)
                bump_fence_lru(m.merge_fences, app_id,
                               max(int(batch_id), floor))
                if first_keyed:
                    # one-shot: ANY first keyed merge retires the
                    # legacy fence's inheritability, or a later new
                    # lineage whose ids happen to reach the legacy
                    # fence value would falsely inherit it
                    m.merge_fences_migrated = True
            else:
                m.merge_batch_id = max(m.merge_batch_id, int(batch_id))

        if "seq" not in updates.columns:
            updates = updates.withColumn(
                "seq", F.monotonically_increasing_id())
        if updates.schema["value"].nullable:
            payload_col = F.when(
                F.col("value").isNull(),
                F.raise_error(F.concat(
                    F.lit(f"merge_into({self.ns!r}): NULL update value "
                          f"for key "),
                    F.col("key").cast("string"),
                    F.lit(" — merge folds require bytes; tombstone "
                          "deletes go through delete_bulk"))),
            ).otherwise(F.col("value").cast("binary"))
        else:
            payload_col = F.col("value").cast("binary")
        batch = updates.select(
            F.col("key").bitwiseOR(F.lit(1)).alias("address"),
            F.lit(1 << 62).alias("time"),  # sorts after every version
            payload_col.alias("payload"),
            F.col("seq").cast("long").alias("seq"),
            F.lit(1).alias("__src"),
        )
        idx = meta0.index

        # Bucket-pruned incremental rewrite (r15, VERDICT r14 #3): in
        # the folded steady state every untouched chain is a single
        # already-folded row, so rewriting an untouched BUCKET is the
        # identity on its files — the rewrite can prune its scan and
        # its write to the buckets holding batch keys and carry every
        # other bucket forward at metadata rate (hardlink / server-side
        # copy, see TimeStore._rewrite_generation).  Correctness needs
        # placement to be time-independent so a merged head can never
        # migrate out of the pruned set: gated on a single-entry,
        # non-dual index (epoch and bucket count constant — bucket is
        # then a pure function of the address, and the KV layout is
        # exactly that fixed single-epoch 128-bucket map).  The
        # touched-bucket set costs one bounded aggregate over the
        # batch keys (<= n_buckets rows however large the batch).
        # A single-entry, non-dual index makes placement a pure
        # function of the address (epoch and bucket count constant) —
        # the precondition for BOTH the bucket-pruned rewrite below
        # and the layout-keyed fold (guide §2.4) that lets the merge
        # write without a second exchange.
        layout_const = (not meta0.dual
                        and len(meta0.index_for(1).entries) == 1)
        prune = None
        if folded_steady and layout_const:
            from rados_timestore_spark.core import word64_pmod

            e0, b0 = meta0.index_for(1).entries[0]
            brows = (
                updates.select(
                    word64_pmod(
                        F.col("key").bitwiseAND(F.lit(-2)),
                        F.lit(int(b0))).alias("__b"))
                .distinct().collect())
            if any(r["__b"] is None for r in brows):
                # NULL update key: its placement is undefined, so no
                # pruned set can be proven to cover it — fall back to
                # the full rewrite (the pre-r15 behavior for exactly
                # this malformed input)
                prune = None
            else:
                prune = [(int(e0), int(r["__b"])) for r in brows]

        def fold_partition(batches):
            # Partition-local partial fold for the associative path:
            # ONE Python invocation per Arrow batch with the per-key
            # grouping done inside pandas — a per-(key, salt)
            # applyInPandas here would pay the Arrow round-trip per
            # tiny group (keys x salt invocations), which AQE's
            # small-shuffle coalescing then serializes into one task
            # (measured 6x slower than the plain fold at 200k rows).
            # Any application order is legal (commutative + associative
            # by the caller's declaration); sorting keeps reruns
            # byte-reproducible.
            for pdf in batches:
                if not len(pdf):
                    continue
                addrs: list[int] = []
                vals: list[bytes] = []
                for addr, grp in pdf.groupby("address", sort=False):
                    grp = grp.sort_values(["__src", "time", "seq"])
                    acc: bytes | None = None
                    for blob in grp["payload"]:
                        b = bytes(blob)
                        acc = b if acc is None else merge(b, acc)
                    addrs.append(int(addr))
                    vals.append(acc)
                yield pd.DataFrame({"address": addrs, "payload": vals})

        def fold_comb(pdf: pd.DataFrame) -> dict:
            vals = sorted(bytes(b) for b in pdf["payload"])
            acc = vals[0]
            for b in vals[1:]:
                acc = merge(b, acc)
            return {"address": int(pdf["address"].iloc[0]),
                    "payload": acc}

        def assoc_fold(live: DataFrame) -> DataFrame:
            """(address, payload) per key: salted partition-local
            partial folds (a hot key's chain spreads over ``salt``
            tasks — bounded task size however hot the key; the
            explicit repartition count is exempt from AQE coalescing)
            then a per-key combine of the bounded partial set."""
            part = (
                live.withColumn(
                    "__salt",
                    F.pmod(F.hash("time", "seq"), F.lit(int(salt))))
                .repartition(int(salt), "__salt")
                .mapInPandas(fold_partition, "address long, payload binary")
            )
            return _fold_chain_groups(
                part, (), fold_comb, "address long, payload binary")

        if batch_id is None and not self.store.fs.is_dir(
                self.store._points_dir(self.ns, meta0)):
            # Degenerate empty-KV shortcut — UNFENCED calls only: the
            # fenced path must commit data and fence in ONE flip, so
            # it routes through _rewrite_generation(allow_missing)
            # even when no generation exists yet.
            # Empty KV: the MERGE degenerates to folding the batch
            # itself — one applyInPandas pass, written through the
            # standard ingest path (no generation to swap yet).
            if associative:
                n_of = batch.groupBy("address").agg(
                    F.count(F.lit(1)).alias("__n_batch"))
                folded = (
                    assoc_fold(batch).join(n_of, "address")
                    .select("address",
                            (F.col("__n_batch") - 1).alias("time"),
                            "payload"))
                self.store.write_points(self.ns, folded)
                return

            def fold_batch(pdf: pd.DataFrame) -> dict:
                # rows arrive pre-sorted by seq
                acc: bytes | None = None
                for blob in pdf["payload"]:
                    b = bytes(blob)
                    acc = b if acc is None else merge(b, acc)
                return {"address": int(pdf["address"].iloc[0]),
                        "time": len(pdf) - 1,
                        "payload": acc}

            folded = _fold_chain_groups(
                batch, ("seq",), fold_batch,
                "address long, time long, payload binary")
            self.store.write_points(self.ns, folded)
            return

        if associative:
            def _split_folded(df: DataFrame):
                """Steady-state split (see folded_steady above): rows
                of keys ABSENT from the batch pass through JVM-side —
                their fold is the identity because every chain is one
                non-tombstone row — and only batch keys' rows enter
                the associative fold.  The batch key set broadcasts (a
                merge batch is small by the streaming contract; a
                full-corpus batch degrades to the slow path's behavior
                anyway since everything is then touched).  The output
                goes through ``shape_rewrite``, so the pass-through
                rows need no placement of their own."""
                if not folded_steady:
                    return df, None
                bkeys = batch.select("address").distinct()
                untouched = df.join(F.broadcast(bkeys), "address",
                                    "left_anti")
                return df.join(F.broadcast(bkeys), "address",
                               "left_semi"), untouched

            def _passthrough(untouched: DataFrame) -> DataFrame:
                # the untouched half of _split_folded.  Re-derive the
                # physical columns exactly like the fold output does:
                # for a steady-state row they equal the stored values
                # (verify()'s placement invariant), and the
                # recomputation normalizes partition-discovery types
                return (
                    untouched.select("address", "time", "value", "seq",
                                     "payload")
                    .withColumn("kind", F.lit(1))
                    .withColumn("epoch", idx.epoch_col("time"))
                    .withColumn(
                        "bucket",
                        place_bucket_by_index(idx, "time", "address"))
                )

            def transform_assoc(df: DataFrame) -> DataFrame:
                df, untouched = _split_folded(df)
                chain = df.select(
                    "address", "time", "payload", "seq",
                    F.lit(0).alias("__src"))
                allrows = chain.unionByName(batch)
                # One JVM-side aggregate replaces the per-key scan of
                # the serialized fold: head version, batch-row count,
                # and the last-tombstone cut (rows at or below it fold
                # to nothing — exactly the sequential fold's restart).
                stats = allrows.groupBy("address").agg(
                    F.max(F.when(F.col("__src") == 0, F.col("time")))
                    .alias("__head_t"),
                    F.sum(F.when(F.col("__src") == 1, 1).otherwise(0))
                    .alias("__n_batch"),
                    F.max(F.when((F.col("__src") == 0)
                                 & F.col("payload").isNull(),
                                 F.col("time"))).alias("__t_reset"),
                )
                live = (
                    allrows
                    .join(stats.select("address", "__t_reset"),
                          "address", "left")
                    .filter(
                        (F.col("__src") == 1)
                        | (F.col("payload").isNotNull()
                           & (F.col("__t_reset").isNull()
                              | (F.col("time") > F.col("__t_reset")))))
                    .drop("__t_reset")
                )
                out = (
                    assoc_fold(live).join(stats, "address")
                    .select(
                        "address",
                        (F.coalesce(F.col("__head_t"), F.lit(-1))
                         + F.col("__n_batch")).alias("time"),
                        "payload")
                )
                full = (
                    out.withColumn("value", F.lit(None).cast("long"))
                    .withColumn("seq", F.lit(0).cast("long"))
                    .withColumn("kind", F.lit(1))
                    .withColumn("epoch", idx.epoch_col("time"))
                    .withColumn(
                        "bucket",
                        place_bucket_by_index(idx, "time", "address"))
                )
                if untouched is not None:
                    full = full.unionByName(_passthrough(untouched))
                return full

            self.store._rewrite_generation(
                self.ns, meta0, transform_assoc, meta_update=_fence,
                allow_missing=batch_id is not None,
                prune_partitions=prune)
            return

        def transform(df: DataFrame) -> DataFrame:
            # Every row of the opened generation (the touched buckets
            # when pruned) joins the fold: layout-keyed, each (epoch,
            # bucket) is then written by exactly one task, one file
            # per touched bucket, as pre_shaped promises.  A stored
            # one-row chain folds to itself in bulk (_fold_stored_heads).
            chain = df.select(
                "address", "time", "payload", "seq",
                F.lit(0).alias("__src"))
            allrows = chain.unionByName(batch)
            if layout_const:
                # Layout-keyed fold (r15, guide §2.4): bucket is a
                # pure function of the address under the gate, so
                # hashing the fold exchange on (epoch, bucket) keeps
                # every chain contiguous in one task AND leaves the
                # fold output already grouped the way the partitioned
                # writer needs it — the shape_rewrite exchange is
                # skipped (pre_shaped below): ONE shuffle of the view
                # per merge instead of two.
                allrows = allrows.withColumn(
                    "epoch", idx.epoch_col("time").cast("long")
                ).withColumn(
                    "bucket",
                    place_bucket_by_index(idx, "time", "address")
                    .cast("long"))

            out = _fold_chain_groups(
                allrows, ("__src", "time", "seq"),
                partial(_merge_chain, merge),
                "address long, time long, payload binary",
                shuffle_cols=("epoch", "bucket") if layout_const
                else None,
                fold_singles=_fold_stored_heads)
            return (
                out.withColumn("value", F.lit(None).cast("long"))
                .withColumn("seq", F.lit(0).cast("long"))
                .withColumn("kind", F.lit(1))
                .withColumn("epoch", idx.epoch_col("time"))
                .withColumn(
                    "bucket",
                    place_bucket_by_index(idx, "time", "address"))
            )

        self.store._rewrite_generation(
            self.ns, meta0, transform, meta_update=_fence,
            allow_missing=batch_id is not None,
            prune_partitions=prune, pre_shaped=layout_const)

    def enumerate_versions(self) -> DataFrame:
        # Folded views (see :meth:`enumerate`) skip the argmax: one
        # row per chain and no tombstone rows, so the head IS the row.
        # The folded scan is pinned to the generation's own files
        # (_read_generation) so an in-flight append cannot leak.
        meta = self.store._read_meta(self.ns)
        pdir = self.store._points_dir(self.ns, meta)
        df = self._read_generation(pdir, meta.kv_folded).filter(
            F.col("kind") == 1)
        out = (df if meta.kv_folded
               else latest_per_key(df, payload_cols=("payload",)))
        return out.select(F.col("address").alias("key"), "time", "payload")

    def merge_with(self, merge: Callable[[bytes, bytes], bytes]) -> DataFrame:
        """Scalable fold of the whole version chain per key: applies
        ``merge`` pairwise from oldest to newest (the result every
        sequence of ``insertWith merge`` calls would have produced).
        One shuffle + one Arrow-batched pass (``applyInPandas``).

        On a folded view (``_Meta.kv_folded``, see :meth:`enumerate`)
        every chain is a single non-tombstone row and the fold of a
        one-element chain is that element for ANY ``merge`` — the
        shuffle and the Python crossing are both skipped.  The folded
        scan is pinned to the generation's own files
        (:meth:`_read_generation`) so an in-flight append cannot leak."""
        meta = self.store._read_meta(self.ns)
        pdir = self.store._points_dir(self.ns, meta)
        df = (
            self._read_generation(pdir, meta.kv_folded)
            .filter(F.col("kind") == 1)
            .select("address", "time", "seq", "payload")
        )
        if meta.kv_folded:
            return df.filter(F.col("payload").isNotNull()).select(
                F.col("address").alias("key"),
                F.col("payload").alias("value"))

        def fold(pdf: pd.DataFrame) -> dict | None:
            # rows arrive pre-sorted by (time, seq)
            acc: bytes | None = None
            for blob in pdf["payload"]:
                if blob is None:  # tombstone: the chain restarts
                    acc = None
                    continue
                b = bytes(blob)
                acc = b if acc is None else merge(b, acc)
            if acc is None:  # deleted (or tombstone-only) key
                return None
            return {"key": int(pdf["address"].iloc[0]), "value": acc}

        return _fold_chain_groups(df, ("time", "seq"), fold,
                                  "key long, value binary")
