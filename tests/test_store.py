"""TimeStore write/read round-trip — ports the reference's golden unit
tests (tests/UnitTests.hs) and core laws (tests/FuzzyTests.hs) to the
Spark engine.  SURVEY.md §5."""

import pytest
from pyspark.sql import functions as F

from rados_timestore_spark.core import place_bucket
from rados_timestore_spark.store import NamespaceNotRegistered


def _write(store, ns, rows, **kw):
    df = store.spark.createDataFrame(
        rows, "address long, time long, value long")
    store.write_points(ns, df, **kw)


def test_register_and_is_registered(store):
    assert not store.is_registered("PONY")
    store.register_namespace("PONY", buckets=4)
    assert store.is_registered("PONY")
    store.register_namespace("PONY", buckets=8)  # idempotent
    assert store.index("PONY").entries == ((0, 4),)


def test_unregistered_read_raises(store):
    with pytest.raises(NamespaceNotRegistered):
        store.read_simple("nope", 0, 10, [2])


def test_invalid_namespace_rejected(store):
    with pytest.raises(ValueError):
        store.register_namespace("has_underscore")


def test_simple_roundtrip_and_ordering(store):
    # UnitTests.hs:299-314 fixture: addresses 0,2,4,8 at times 0,2,4,8.
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(0, 0, 10), (2, 2, 20), (4, 4, 30), (8, 8, 40)])
    got = store.read_simple("PONY", 0, 8, [0, 2, 4, 8], global_order=True).collect()
    assert [(r.address, r.time, r.value) for r in got] == [
        (0, 0, 10), (2, 2, 20), (4, 4, 30), (8, 8, 40)]


def test_time_range_is_closed_interval(store):
    # Algorithms.hs:204-206: start <= t AND t <= end, both inclusive.
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 1, 1), (2, 2, 2), (2, 3, 3), (2, 4, 4)])
    got = store.read_simple("PONY", 2, 3, [2], global_order=True).collect()
    assert [r.time for r in got] == [2, 3]


def test_empty_address_list_empty_result(store):
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 1, 1)])
    assert store.read_simple("PONY", 0, 10, []).count() == 0


def test_address_filter_and_hash_collision(store):
    # UnitTests.hs:93-114: addresses 14 and 4 share bucket 4 (mod 10);
    # reading one must not return the other.
    store.register_namespace("PONY", buckets=10)
    _write(store, "PONY", [(4, 1, 44), (14, 1, 1414)])
    got = store.read_simple("PONY", 0, 10, [14]).collect()
    assert [(r.address, r.value) for r in got] == [(14, 1414)]


def test_first_write_wins_dedup(store):
    # Algorithms.hs:209-217: earliest-appended duplicate wins.
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 5, 111)])
    _write(store, "PONY", [(2, 5, 222)])
    got = store.read_simple("PONY", 0, 10, [2]).collect()
    assert [(r.address, r.time, r.value) for r in got] == [(2, 5, 111)]


def test_extended_roundtrip(store):
    # UnitTests.hs:317-320: (1,1,"hai") (1,2,"there") (3,1,"pony").
    store.register_namespace("PONY", buckets=4)
    df = store.spark.createDataFrame(
        [(1, 1, bytearray(b"hai")), (1, 2, bytearray(b"there")),
         (3, 1, bytearray(b"pony"))],
        "address long, time long, payload binary")
    store.write_points("PONY", df)
    got = store.read_extended("PONY", 0, 10, [1, 3], global_order=True).collect()
    assert [(r.address, r.time, bytes(r.payload)) for r in got] == [
        (1, 1, b"hai"), (3, 1, b"pony"), (1, 2, b"there")]


def test_simple_read_excludes_extended_and_vice_versa(store):
    store.register_namespace("PONY", buckets=4)
    df = store.spark.createDataFrame(
        [(2, 1, 7, None), (3, 1, None, bytearray(b"x"))],
        "address long, time long, value long, payload binary")
    store.write_points("PONY", df)
    assert [r.address for r in store.read_simple("PONY", 0, 9, [2, 3]).collect()] == [2]
    assert [r.address for r in store.read_extended("PONY", 0, 9, [2, 3]).collect()] == [3]


def test_watermarks_monotone(store):
    # StoreHelpers.hs:241-259: updateLatest only moves forward.
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 100, 1)])
    assert store.latest("PONY") == (100, None)
    _write(store, "PONY", [(2, 50, 1)])
    assert store.latest("PONY") == (100, None)
    df = store.spark.createDataFrame(
        [(3, 70, bytearray(b"x"))], "address long, time long, payload binary")
    store.write_points("PONY", df)
    assert store.latest("PONY") == (100, 70)


def test_rollover_appends_epoch_at_watermark(store):
    # StoreHelpers.hs:194-221: new epoch cut at the watermark when the
    # latest epoch's largest bucket exceeds the threshold.
    store.rollover_bytes = 1  # force immediately
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 10, 1), (2, 20, 2)])
    entries = store.index("PONY").entries
    # Epoch cut at watermark + 1: points at time == watermark stay
    # readable from the old epoch (Index.hs:80-88 boundary back-off).
    assert entries == ((0, 4), (21, 4))
    # New writes at later times land in the new epoch; reads still see
    # everything (FuzzyTests round-trip law across rollovers).
    _write(store, "PONY", [(2, 30, 3)])
    got = store.read_simple("PONY", 0, 100, [2], global_order=True).collect()
    assert [r.time for r in got] == [10, 20, 30]


def test_bucket_placement_matches_reference(spark):
    # Core.hs:272-276: placeBucket clears bit 0 then mods.
    df = spark.createDataFrame([(i,) for i in range(16)], "address long")
    got = {r.address: r.b for r in df.select(
        "address", place_bucket(10).alias("b")).collect()}
    for a in range(16):
        assert got[a] == ((a & ~1) % 10), a


def test_multi_epoch_read_spans_rescale(store):
    # Bucket count changes across epochs (Index model, Index.hs:37):
    # points must be found in both layouts.
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(6, 1, 1)])
    # Manually rescale: next epoch uses 10 buckets.
    meta = store._read_meta("PONY")
    from rados_timestore_spark.index import Index
    meta.index = Index(meta.index.entries + ((5, 10),))
    store._write_meta("PONY", meta)
    _write(store, "PONY", [(6, 9, 2)])
    got = store.read_simple("PONY", 0, 10, [6], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(1, 1), (9, 2)]


def test_rollover_boundary_point_still_readable(store):
    # Regression: a point AT the watermark must stay readable when a
    # query range starts exactly at the watermark (old cut-at-watermark
    # pruned to the new, empty epoch and dropped it).
    store.rollover_bytes = 1
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 10, 1), (2, 20, 2)])
    got = store.read_simple("PONY", 20, 100, [2]).collect()
    assert [(r.time, r.value) for r in got] == [(20, 2)]


def test_word64_bucket_placement_high_addresses(spark):
    # Core.hs:272-276 on Word64: addresses >= 2^63 (negative as i64)
    # must place like unsigned mod for ANY bucket count, not only
    # powers of two.
    from rados_timestore_spark.core import place_bucket

    addrs = [(1 << 63) + 7, (1 << 64) - 2, (1 << 63), 12297829382473034410]
    rows = [(a - (1 << 64) if a >= (1 << 63) else a,) for a in addrs]
    for n in (10, 128, 77):
        df = spark.createDataFrame(rows, "address long")
        got = {r.address: r.b for r in df.select(
            "address", place_bucket(n).alias("b")).collect()}
        for a in addrs:
            signed = a - (1 << 64) if a >= (1 << 63) else a
            assert got[signed] == ((a & ~1) % n), (a, n)


def test_file_uri_root_fs_agnostic(spark, tmp_path):
    # The metadata layer must work through the Hadoop FS API with an
    # explicit URI scheme (the s3a:// production path is the same code).
    from rados_timestore_spark.store import TimeStore

    store = TimeStore(spark, f"file://{tmp_path}/warehouse")
    store.rollover_bytes = 1  # force a rollover through the FS probe
    store.register_namespace("PONY", buckets=4)
    assert store.is_registered("PONY")
    _write(store, "PONY", [(2, 10, 1), (2, 20, 2)])
    assert store.index("PONY").entries == ((0, 4), (21, 4))
    _write(store, "PONY", [(2, 30, 3)])
    got = store.read_simple("PONY", 0, 100, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(10, 1), (20, 2), (30, 3)]
    store.compact("PONY")
    got = store.read_simple("PONY", 0, 100, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(10, 1), (20, 2), (30, 3)]


def test_iter_chunks_contract(store):
    # TimeStore.hs:139-141 chunk contract: non-overlapping, epoch-major
    # ascending, sorted by (time, address) within each chunk.
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(0, 1, 10), (2, 2, 20), (4, 3, 30), (8, 4, 40),
                           (0, 5, 50), (2, 6, 60)])
    chunks = list(store.iter_chunks("PONY", 0, 10, [0, 2, 4, 8]))
    assert chunks, "expected at least one chunk"
    seen_keys = [k for k, _ in chunks]
    assert seen_keys == sorted(seen_keys)          # epoch-major ascending
    assert len(set(seen_keys)) == len(seen_keys)   # non-overlapping
    all_rows = []
    for _key, rows in chunks:
        times = [(r[1], r[0]) for r in rows]
        assert times == sorted(times)              # intra-chunk order
        all_rows.extend(rows)
    assert sorted(r[:3] for r in all_rows) == [
        (0, 1, 10), (0, 5, 50), (2, 2, 20), (2, 6, 60), (4, 3, 30),
        (8, 4, 40)]


def test_iter_chunks_arrow_matches_row_iterator(store):
    # Same chunk keys and row content as iter_chunks, delivered as
    # zero-copy Arrow slices (epoch at a time).
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(0, 1, 10), (2, 2, 20), (4, 3, 30), (8, 4, 40),
                           (0, 5, 50), (2, 6, 60)])
    rows_v = list(store.iter_chunks("PONY", 0, 10, [0, 2, 4, 8]))
    arrow_v = list(store.iter_chunks_arrow("PONY", 0, 10, [0, 2, 4, 8]))
    assert [k for k, _ in rows_v] == [k for k, _ in arrow_v]
    for (_, rows), (_, tbl) in zip(rows_v, arrow_v):
        got = list(zip(*[tbl.column(c).to_pylist()
                         for c in ("address", "time", "value", "seq")]))
        assert got == rows


def test_interleaved_writer_instances_converge(store, spark, tmp_path):
    # The reference's multi-daemon writer test (StoreTests.hs:128-157)
    # coordinates writers with advisory locks; this engine's documented
    # contract is writer-serialized appends with metadata re-read per
    # write (store.py docstring).  The analog law: two INDEPENDENT
    # TimeStore instances over the same root, interleaving writes,
    # must converge — every point readable, watermark = global max,
    # seq blocks disjoint (first-write-wins stays deterministic).
    from rados_timestore_spark.store import TimeStore

    root = str(tmp_path)
    a, b = TimeStore(spark, root), TimeStore(spark, root)
    a.register_namespace("NS", buckets=8)
    writers = [a, b, a, b]
    for i, w in enumerate(writers):
        _write(w, "NS", [(2, 10 * i + 1, i), (4, 10 * i + 2, 100 + i)])
    got = a.read_simple("NS", 0, 100, [2, 4], global_order=True).collect()
    assert [(r.address, r.time, r.value) for r in got] == sorted(
        [(2, 10 * i + 1, i) for i in range(4)]
        + [(4, 10 * i + 2, 100 + i) for i in range(4)],
        key=lambda r: (r[1], r[0]),
    )
    # watermark converges across instances (B re-reads A's meta)
    assert a.latest("NS") == b.latest("NS") == (32, None)
    # seq blocks from different instances never collide: all 8 points
    # kept distinct seqs (first-write-wins never merged two writes)
    seqs = [r.seq for r in got]
    assert len(set(seqs)) == len(seqs)


def test_overlapping_writer_detected_and_fails(store, spark, tmp_path):
    # The reference guards its index update with advisory locks plus a
    # CAS re-check (StoreHelpers.hs:214-219).  This engine's analog is
    # the _Meta.txn fencing counter: a writer that read the meta, then
    # had ANOTHER writer flip it underneath (here: B's write_points
    # lands inside A's read->flip window), must fail loudly with
    # ConcurrentWriterError instead of silently last-write-wins-ing the
    # index/watermarks.  Recovery contract: re-read and retry.
    from rados_timestore_spark.store import ConcurrentWriterError, TimeStore

    root = str(tmp_path / "cas")
    a, b = TimeStore(spark, root), TimeStore(spark, root)
    a.register_namespace("NS", buckets=8)
    # A begins a write: reads meta (txn captured) ...
    meta_a = a._read_meta(ns := "NS")
    # ... B completes a whole write_points in the meantime (txn bumps).
    _write(b, ns, [(2, 5, 7)])
    # A's flip must now be rejected, not applied.
    meta_a.latest_simple = 999  # the stale update A would have flipped
    with pytest.raises(ConcurrentWriterError):
        a._write_meta_cas(ns, meta_a)
    # B's state survives untouched; A recovers by re-reading + retrying.
    assert a.latest(ns) == (5, None)
    _write(a, ns, [(4, 6, 8)])  # fresh read inside write_points: fine
    assert a.latest(ns) == (6, None)


def test_txn_advances_once_per_meta_flip(store):
    # Fencing counter bookkeeping: every mutation (write, rollover,
    # compact) bumps txn by exactly one, and sequential single-writer
    # flows never trip the guard.
    store.register_namespace("T", buckets=4)
    assert store._read_meta("T").txn == 0
    _write(store, "T", [(2, 1, 1)])
    assert store._read_meta("T").txn == 1
    _write(store, "T", [(2, 2, 2)])
    assert store._read_meta("T").txn == 2
    store.compact("T")
    assert store._read_meta("T").txn == 3


def test_compact_gc_removes_stale_generations(store):
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 1, 1), (2, 2, 2)])
    store.compact("PONY")          # generation 0 -> 1 (old dir deleted)
    meta = store._read_meta("PONY")
    ns_dir = store._ns_dir("PONY")
    # A FUTURE generation may be a concurrently running compact()'s
    # under-construction output — gc must leave it alone (deleting it
    # would make that compact's version flip resolve to a missing dir).
    future = f"points_v{meta.points_version + 5}"
    store.fs.mkdirs(f"{ns_dir}/{future}")
    # A generation OLDER than live (here: a resurrected legacy dir) is
    # a crashed-compaction leftover and must go.
    store.fs.mkdirs(f"{ns_dir}/points")
    deleted = store.gc("PONY")
    assert "points" in deleted
    assert future not in deleted
    assert store.fs.is_dir(f"{ns_dir}/{future}")
    # live generation untouched, data still readable
    got = store.read_simple("PONY", 0, 10, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(1, 1), (2, 2)]


def test_meta_recovers_from_backup_after_crash(store):
    # write_text_atomic keeps a .bak while replacing _meta.json; a
    # crash between "move old aside" and "rename new in" leaves only
    # the backup — the store must transparently restore it instead of
    # treating the namespace as unregistered (ADVICE r2: the old
    # delete-then-rename could brick the namespace).
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 5, 50)])
    meta_path = store._meta_path("PONY")
    assert store.fs.rename(meta_path, meta_path + ".bak")
    assert not store.fs.exists(meta_path)
    assert store.is_registered("PONY")          # recovered, not bricked
    assert store.fs.exists(meta_path)
    got = store.read_simple("PONY", 0, 10, [2]).collect()
    assert [(r.address, r.time, r.value) for r in got] == [(2, 5, 50)]


def _encoded_batch(spark, sizes, parts):
    """Blobs of ``sizes`` points over ``parts`` input partitions, in
    order; point k of blob b is (2 + 2 * (b % 4), 1000 * b + k)."""
    from rados_timestore_spark.codec import encode_points

    pts = [[(2 + 2 * (b % 4), 1000 * b + k, 7, None) for k in range(n)]
           for b, n in enumerate(sizes)]
    blobs = spark.sparkContext.parallelize(
        [(bytearray(encode_points(p)),) for p in pts], parts
    ).toDF("blob binary")
    return blobs, pts


def test_write_encoded_one_pass(spark, tmp_path):
    # write_encoded stamps seqs in its decode stage: no global window
    # (an Exchange SinglePartition would funnel the batch through one
    # task), seqs unique and in (partition, position, in-blob) order,
    # and no more Spark jobs than write_points of the same points (2:
    # the shaping exchange and the write).
    from rados_timestore_spark.store import _SEQ_BLOCK, TimeStore
    from tests.test_targeted_open import _jobs_and_tasks

    store = TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("E", buckets=4)
    store.register_namespace("P", buckets=4)
    sizes = [3, 1, 4, 2, 5, 2, 1]
    blobs, pts = _encoded_batch(spark, sizes, 3)
    enc_jobs, _ = _jobs_and_tasks(
        spark, "pin-write-encoded", lambda: store.write_encoded("E", blobs))
    # the executed plans of those jobs (the UI store keeps only the most
    # recent executions, so look among the last few)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        "pin-write-encoded")
    status = spark._jsparkSession.sharedState().statusStore()
    n = status.executionsCount()
    recent = status.executionsList(max(n - 20, 0), min(n, 20))
    plans = [e.physicalPlanDescription()
             for e in (recent.apply(i) for i in range(recent.size()))
             if any(e.jobs().contains(j) for j in jobs)]
    assert plans and not any("SinglePartition" in p for p in plans)
    flat = spark.createDataFrame([p[:3] for blob in pts for p in blob],
                                 "address long, time long, value long")
    pts_jobs, _ = _jobs_and_tasks(
        spark, "pin-write-points", lambda: store.write_points("P", flat))
    assert enc_jobs <= pts_jobs == 2, (enc_jobs, pts_jobs)

    # parallelize slices the blobs contiguously: 2, 2 and 3 per partition
    expect, pid_of = {}, [0, 0, 1, 1, 2, 2, 2]
    offset = [0, 0, 0]
    for b, blob in enumerate(pts):
        pid = pid_of[b]
        for (_, t, _, _) in blob:
            expect[t] = pid * _SEQ_BLOCK + offset[pid]
            offset[pid] += 1
    got = {r.time: r.seq for r in
           spark.read.parquet(store._points_dir("E")).collect()}
    assert got == expect
    assert len(set(got.values())) == sum(sizes)


def test_write_points_refuses_to_overflow_a_partitions_seq_block(
        spark, tmp_path, monkeypatch):
    # A partition whose row offset reaches its id block would stamp the
    # next partition's seqs: the write fails and leaves nothing behind.
    # The block is shrunk to 4 ids, so only partition 0 is in range.
    import rados_timestore_spark.store as store_mod

    store = store_mod.TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("O", buckets=4)
    monkeypatch.setattr(store_mod, "_SEQ_BLOCK", 4)
    for n in (4, 5):
        blobs, _ = _encoded_batch(spark, [n], 1)
        if n == 4:  # exactly filling the block is fine
            store.write_encoded("O", blobs)
            continue
        with pytest.raises(Exception, match="points or more"):
            store.write_encoded("O", blobs)
    got = store.read_simple("O", 0, 1 << 20, [2]).collect()
    assert sorted(r.time for r in got) == [0, 1, 2, 3]
    assert store._read_meta("O").seq_base == 4


def test_write_encoded_fences_its_own_meta_read(spark, tmp_path):
    # write_encoded stamps seqs from the seq_base it read, so its meta
    # flip must CAS against that same read: a writer committing right
    # after it makes the flip fail, not pass against a second read.
    from rados_timestore_spark.store import ConcurrentWriterError, TimeStore

    store = TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("R", buckets=4)
    other = TimeStore(spark, str(tmp_path / "w"))
    blobs, _ = _encoded_batch(spark, [2, 3], 2)
    real_read = store._read_meta
    fired = []

    def read_then_interleave(ns):
        meta = real_read(ns)
        if not fired:
            fired.append(ns)
            _write(other, ns, [(2, 5, 50)])
        return meta

    store._read_meta = read_then_interleave
    with pytest.raises(ConcurrentWriterError):
        store.write_encoded("R", blobs)
    assert fired == ["R"]


def test_viewfs_scheme_full_lifecycle(spark, tmp_path):
    # Scheme independence beyond file://: run the FULL store lifecycle
    # (register -> write -> rollover -> read -> compact -> gc) through
    # Hadoop's ViewFileSystem — a genuinely different FileSystem
    # implementation resolved purely from the URI scheme, exactly how
    # the s3a:// (Ceph RGW) production path binds.  No engine code
    # knows the scheme; the mount table is environment config.
    from rados_timestore_spark.store import TimeStore

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set(
        "fs.viewfs.mounttable.rtscontract.link./warehouse",
        f"file://{tmp_path}/backing",
    )
    root = "viewfs://rtscontract/warehouse"
    store = TimeStore(spark, root)
    store.rollover_bytes = 1  # force rollover through the FS size probe
    store.register_namespace("PONY", buckets=4)
    assert store.is_registered("PONY")
    _write(store, "PONY", [(2, 10, 1), (2, 20, 2)])
    assert store.index("PONY").entries == ((0, 4), (21, 4))
    _write(store, "PONY", [(2, 30, 3), (2, 10, 99)])  # dup: first wins
    got = store.read_simple("PONY", 0, 100, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(10, 1), (20, 2), (30, 3)]
    store.compact("PONY")
    # Simulate a crashed earlier compaction: an orphan generation
    # older than the live version must be collected by gc.
    store.fs.mkdirs(f"{root}/PONY/points_v0")
    assert store.gc("PONY") == ["points_v0"]
    got = store.read_simple("PONY", 0, 100, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(10, 1), (20, 2), (30, 3)]


def test_batched_backfill_matches_sequential_loop(spark, tmp_path):
    # write_points_batched's contract: identical index, placement,
    # watermarks, and read results to a per-batch write_points loop on
    # an always-rolling store — including a late-only batch (no cut),
    # cross-batch duplicates (earlier batch wins), and mixed kinds.
    from rados_timestore_spark.store import TimeStore

    schema = "batch long, address long, time long, value long, payload binary"
    batches = [
        [(0, 2, 10, 1, None), (0, 4, 20, 2, None)],    # cut at 21
        [(1, 2, 15, 9, None)],                         # late-only: no cut
        [(2, 2, 10, 77, None), (2, 2, 30, 3, None)],   # dup + cut at 31
        [(3, 4, 40, 4, None), (3, 5, 35, None, bytearray(b"x"))],  # cut 41
    ]
    seq_store = TimeStore(spark, str(tmp_path / "seq"), rollover_bytes=1)
    seq_store.register_namespace("A", buckets=4)
    for b in batches:
        seq_store.write_points(
            "A", spark.createDataFrame(b, schema).drop("batch"))
    bat_store = TimeStore(spark, str(tmp_path / "bat"))
    bat_store.register_namespace("A", buckets=4)
    allrows = spark.createDataFrame([r for b in batches for r in b], schema)
    bat_store.write_points_batched("A", allrows, "batch")

    assert bat_store.index("A").entries == seq_store.index("A").entries
    assert bat_store.latest("A") == seq_store.latest("A")

    def placement(st):
        df = spark.read.parquet(st._points_dir("A"))
        return sorted((r.epoch, r.bucket, r.address, r.time)
                      for r in df.collect())

    assert placement(bat_store) == placement(seq_store)

    def simple(st):
        return [(r.address, r.time, r.value) for r in st.read_simple(
            "A", 0, 1000, [2, 4], global_order=True).collect()]

    assert simple(bat_store) == simple(seq_store)
    # Cross-batch first-wins: batch 0's value at (2, 10) beats batch 2's.
    assert (2, 10, 1) in simple(bat_store)

    def extended(st):
        return [(r.address, r.time, bytes(r.payload)) for r in
                st.read_extended("A", 0, 1000, [4], global_order=True)
                .collect()]

    assert extended(bat_store) == extended(seq_store) == [(5, 35, b"x")]


def test_batched_backfill_rows_threshold_rollover(spark, tmp_path):
    # rollover_rows=N replays the sequential probe-then-cut rule with
    # row count as the size probe: cut after a batch iff the latest
    # epoch's fullest bucket exceeds N rows AND the watermark advanced.
    # Hand-computed layout with one bucket and N=2.
    from rados_timestore_spark.store import TimeStore

    schema = "batch long, address long, time long, value long"
    rows = [
        (0, 2, 10, 1), (0, 2, 20, 2),   # accum 2 -> no cut
        (1, 2, 30, 3),                  # accum 3 > 2 -> cut at 31
        (2, 2, 40, 4), (2, 2, 50, 5),   # accum 2 -> no cut
        (3, 2, 60, 6), (3, 2, 70, 7),   # accum 4 > 2 -> cut at 71
        (4, 2, 25, 8), (4, 2, 80, 9),   # late row joins epoch 0; 1 new
                                        # row in epoch 71 -> no cut
    ]
    store = TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("A", buckets=1)
    store.write_points_batched(
        "A", spark.createDataFrame(rows, schema), "batch",
        rollover_rows=2,
    )
    assert store.index("A").entries == ((0, 1), (31, 1), (71, 1))
    per_epoch = {
        r.epoch: r.n for r in spark.read.parquet(store._points_dir("A"))
        .groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    assert per_epoch == {0: 4, 31: 4, 71: 1}
    got = store.read_simple("A", 0, 1000, [2], global_order=True).collect()
    assert [r.time for r in got] == [10, 20, 25, 30, 40, 50, 60, 70, 80]


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_batched_backfill_matches_sequential_randomized(
        spark, tmp_path, seed):
    # Randomized replay of the equivalence argument: arbitrary batch
    # plans (random sizes incl. empty, late rows, cross-batch
    # duplicate (addr, time) keys, non-monotone batch maxima) must
    # produce identical index entries, placement, and read results on
    # both ingest paths.  Intra-batch duplicate keys are excluded:
    # their winner is partition-order-arbitrary on BOTH paths.
    import random

    from rados_timestore_spark.store import TimeStore

    rng = random.Random(seed)
    batches = []
    for _ in range(rng.randint(3, 5)):
        n = rng.randint(0, 6)
        used = set()
        rows = []
        for _ in range(n):
            while True:
                key = (rng.choice([2, 4, 6]), rng.randint(0, 500))
                if key not in used:
                    used.add(key)
                    break
            rows.append((*key, rng.randint(0, 99)))
        batches.append(rows)

    schema = "address long, time long, value long"
    seq_store = TimeStore(spark, str(tmp_path / "seq"), rollover_bytes=1)
    seq_store.register_namespace("A", buckets=4)
    for rows in batches:
        seq_store.write_points(
            "A", spark.createDataFrame(rows or [], schema))
    bat_store = TimeStore(spark, str(tmp_path / "bat"))
    bat_store.register_namespace("A", buckets=4)
    allrows = [(i, *r) for i, rows in enumerate(batches) for r in rows]
    bat_store.write_points_batched(
        "A",
        spark.createDataFrame(allrows or [], "batch long, " + schema),
        "batch",
    )

    assert bat_store.index("A").entries == seq_store.index("A").entries
    assert bat_store.latest("A") == seq_store.latest("A")

    def snapshot(st):
        try:
            df = spark.read.parquet(st._points_dir("A"))
        except Exception:
            return []
        return sorted((r.epoch, r.bucket, r.address, r.time)
                      for r in df.collect())

    assert snapshot(bat_store) == snapshot(seq_store)

    def rd(st):
        return [(r.address, r.time, r.value) for r in st.read_simple(
            "A", 0, 1000, [2, 4, 6], global_order=True).collect()]

    assert rd(bat_store) == rd(seq_store)


def test_batched_rows_threshold_cut_at_stale_watermark(spark, tmp_path):
    # Regression (r5 code review): a threshold cut can fire at a
    # watermark that advanced in an EARLIER batch, so cut point 12
    # (= watermark 11 + 1) must be a stab candidate even though the
    # always-cut fold would have cut at 11 and never seen 12.  The
    # gated candidate set missed it, rows at t >= 12 misattributed to
    # epoch 11's candidate, and the second cut at 15 vanished.
    from rados_timestore_spark.store import TimeStore

    schema = "batch long, address long, time long, value long"
    rows = [
        (0, 2, 10, 1),                               # accum 1 -> no cut
        (1, 2, 11, 2), (1, 4, 11, 3),                # accum 3 > 2 -> cut 12
        (2, 2, 12, 4), (2, 2, 13, 5), (2, 2, 14, 6),  # accum 3 -> cut 15
    ]
    store = TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("A", buckets=1)
    store.write_points_batched(
        "A", spark.createDataFrame(rows, schema), "batch",
        rollover_rows=2,
    )
    assert store.index("A").entries == ((0, 1), (12, 1), (15, 1))
    per_epoch = {
        r.epoch: r.n for r in spark.read.parquet(store._points_dir("A"))
        .groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    assert per_epoch == {0: 3, 12: 3}


def test_compact_sorts_within_files_for_rowgroup_pruning(store, tmp_path):
    # Sorted compaction (r6): rows inside each compacted file are
    # clustered by (address, time) so parquet row-group min/max stats
    # become selective; data content must be unchanged.
    import glob

    import pyarrow.parquet as pq

    store.register_namespace("C", buckets=2)
    rows = [(a, t, a * 100 + t) for t in range(50) for a in (2, 4, 6, 8)]
    _write(store, "C", rows)  # interleaved append order
    before = {(r.address, r.time, r.value)
              for r in store.read_simple("C", 0, 100, [2, 4, 6, 8]).collect()}
    store.compact("C")
    after = {(r.address, r.time, r.value)
             for r in store.read_simple("C", 0, 100, [2, 4, 6, 8]).collect()}
    assert after == before
    # every compacted file is internally sorted by (address, time)
    pdir = store._points_dir("C")
    files = glob.glob(f"{pdir.replace('file:', '')}/**/*.parquet",
                      recursive=True)
    assert files
    for f in files:
        t = pq.read_table(f, columns=["address", "time"]).to_pandas()
        keys = list(zip(t["address"], t["time"]))
        assert keys == sorted(keys), f
    # raw order is preserved when explicitly requested
    store.compact("C", sort_within=None)
    assert {(r.address, r.time, r.value)
            for r in store.read_simple("C", 0, 100, [2, 4, 6, 8]).collect()
            } == before


def test_rescale_forward_changes_bucket_count_per_epoch(store):
    # Index.hs per-epoch layout: history keeps its bucket count, new
    # writes route to the new one, reads span both transparently.
    store.register_namespace("RS", buckets=2)
    _write(store, "RS", [(a, t, a + t) for a in (0, 2, 4, 8)
                         for t in (1, 2, 3)])
    store.rescale("RS", 8)
    idx = store.index("RS")
    assert idx.entries[-1][1] == 8 and idx.entries[0][1] == 2
    boundary = idx.entries[-1][0]
    assert boundary > 3  # watermark + 1: behind no seen point
    _write(store, "RS", [(a, boundary + t, a + t) for a in (0, 2, 4, 8)
                         for t in (0, 1)])
    got = store.read_simple("RS", 0, 1 << 40, [0, 2, 4, 8],
                            global_order=True).collect()
    assert len(got) == 4 * 3 + 4 * 2
    # old epoch dirs use <=2 buckets; new epoch can use up to 8
    old_buckets = store.fs.list_dirs(
        f"{store._points_dir('RS')}/epoch=0")
    new_buckets = store.fs.list_dirs(
        f"{store._points_dir('RS')}/epoch={boundary}")
    assert all(int(b.split("=")[1]) < 2 for b in old_buckets)
    assert any(int(b.split("=")[1]) >= 2 for b in new_buckets)
    # idempotent
    store.rescale("RS", 8)
    assert store.index("RS").entries == idx.entries


def test_compact_dedup_drops_first_wins_losers(store):
    store.register_namespace("CD", buckets=4)
    # three writes of the same (address, time) identities with
    # ascending seq: the first batch's values must win everywhere
    for rep in range(3):
        df = store.spark.createDataFrame(
            [(a, t, 100 * rep + a + t, rep * 1000 + a + t)
             for a in (0, 2, 4, 8) for t in (1, 2, 3)],
            "address long, time long, value long, seq long")
        store.write_points("CD", df)
    before = sorted(
        (r.address, r.time, r.value)
        for r in store.read_simple("CD", 0, 10, [0, 2, 4, 8]).collect())
    raw_before = store.spark.read.parquet(
        store._points_dir("CD")).count()
    assert raw_before == 36
    store.compact("CD", dedup=True)
    meta = store._read_meta("CD")
    raw_after = store.spark.read.parquet(
        store._points_dir("CD", meta)).count()
    assert raw_after == 12  # losers physically gone
    after = sorted(
        (r.address, r.time, r.value)
        for r in store.read_simple("CD", 0, 10, [0, 2, 4, 8]).collect())
    assert after == before
    assert all(v < 100 for _a, _t, v in after)  # first batch won
    # appends still land on the new generation
    df = store.spark.createDataFrame(
        [(0, 9, 9, 99999)], "address long, time long, value long, seq long")
    store.write_points("CD", df)
    assert (0, 9, 9) in {
        (r.address, r.time, r.value)
        for r in store.read_simple("CD", 0, 10, [0]).collect()}


def test_compact_dedup_removes_cross_epoch_duplicates(spark, tmp_path):
    # The multi-writer recovery path can re-run a batch AFTER an epoch
    # cut, landing the replayed identities in a DIFFERENT epoch than
    # the originals.  The dedup key is global (address, time), so the
    # rewrite must drop those cross-epoch losers too.
    from rados_timestore_spark.store import TimeStore

    store = TimeStore(spark, str(tmp_path / "xe"), rollover_bytes=1)
    store.register_namespace("XE", buckets=4)
    df1 = spark.createDataFrame(
        [(2, t, t, t) for t in (1, 2, 3)],
        "address long, time long, value long, seq long")
    store.write_points("XE", df1)  # tiny threshold -> epoch cut at 4
    assert len(store.index("XE").entries) >= 2
    # Simulate the stale-index replay: a crashed writer's re-run can
    # place the SAME identities under a different epoch than the
    # originals (it routed with the pre-cut index, or the cut happened
    # between its routing and its append).  write_points itself always
    # routes correctly by time, so plant the misplaced copies exactly
    # where such a writer's append would have put them.
    new_epoch = store.index("XE").entries[-1][0]
    bucket = (2 & ~1) % 4  # place_bucket(addr=2, buckets=4) = 2
    dup = spark.createDataFrame(
        [(2, t, 100 + t, None, 1000 + t, 0) for t in (1, 2, 3)],
        "address long, time long, value long, payload binary, "
        "seq long, kind int")
    dup.coalesce(1).write.mode("append").parquet(
        f"{store._points_dir('XE')}/epoch={new_epoch}/bucket={bucket}")
    raw = spark.read.parquet(store._points_dir("XE"))
    assert raw.count() == 6
    assert raw.select("epoch").distinct().count() >= 2
    store.compact("XE", dedup=True)
    meta = store._read_meta("XE")
    live = spark.read.parquet(store._points_dir("XE", meta))
    assert live.count() == 3  # cross-epoch losers physically gone
    got = {(r.time, r.value)
           for r in store.read_simple("XE", 0, 10, [2]).collect()}
    assert got == {(1, 1), (2, 2), (3, 3)}  # originals won


# ------------------------------------------------- TTL expire (r8)

_DAY = 86_400_000_000


def _ttl_store(spark, tmp_path, days=4, rows_per_day=3):
    """Per-day epoch layout: rollover_bytes=1 cuts an epoch after
    every day batch (watermark+1 boundary), so epoch i covers day i
    exactly — the relational shape ts_ttl_expire relies on."""
    from rados_timestore_spark.store import TimeStore

    store = TimeStore(spark, str(tmp_path / "ttl_wh"), rollover_bytes=1)
    store.register_namespace("T", buckets=4)
    for d in range(days):
        rows = [(2 * a, d * _DAY + 1000 * a, d * 100 + a)
                for a in range(rows_per_day)]
        df = spark.createDataFrame(
            rows, "address long, time long, value long")
        store.write_points("T", df)
    return store


def test_expire_drops_only_fully_covered_epochs(spark, tmp_path):
    store = _ttl_store(spark, tmp_path)
    # cutoff at day-2 start: day 0/1 epochs end before it (dropped);
    # day 2's epoch starts before the cutoff but extends past it —
    # PARTIAL, must be retained in full
    dropped = store.expire("T", 2 * _DAY)
    assert len(dropped) == 2
    got = sorted(
        (r.time // _DAY, r.address)
        for r in store.read_simple("T", 0, 1 << 62, [0, 2, 4]).collect()
    )
    assert got == sorted((d, 2 * a) for d in (2, 3) for a in range(3))


def test_expire_is_idempotent_and_preserves_index(spark, tmp_path):
    store = _ttl_store(spark, tmp_path)
    before = store.index("T").entries
    assert store.expire("T", 2 * _DAY)
    assert store.expire("T", 2 * _DAY) == []
    # routing history is never rewritten (resurrect-on-replay contract)
    assert store.index("T").entries == before


def test_expire_never_drops_open_epoch(spark, tmp_path):
    store = _ttl_store(spark, tmp_path)
    store.expire("T", 1 << 62)
    # every CLOSED epoch is gone, the open one has no successor
    # boundary and survives; the store stays writable
    assert store.read_simple("T", 0, 1 << 62, [0, 2, 4]).count() == 0
    df = spark.createDataFrame(
        [(0, 10 * _DAY, 7)], "address long, time long, value long")
    store.write_points("T", df)
    assert store.read_simple("T", 0, 1 << 62, [0]).count() == 1


def test_expire_resurrects_on_replay(spark, tmp_path):
    # append semantics: re-ingesting pre-cutoff data recreates the
    # original epoch directory (the documented non-goal of a write
    # fence — retention here is partition lifecycle, not an ACL)
    store = _ttl_store(spark, tmp_path)
    store.expire("T", 2 * _DAY)
    df = spark.createDataFrame(
        [(0, 0, 0), (2, 1000, 1)], "address long, time long, value long")
    store.write_points("T", df)
    got = store.read_simple("T", 0, _DAY - 1, [0, 2])
    assert got.count() == 2


def test_expire_interleaved_with_write_refuses_merge(spark, tmp_path):
    # r8 review finding: a writer whose files land before an expire's
    # partition delete must NOT merge-fold its meta flip across the
    # expire — its data may be among the dropped files, so the retry
    # path refuses and the caller re-runs the whole batch.  Simulate
    # the interleave by running expire inside the writer's first CAS
    # attempt (monkeypatched), exactly the window the fence guards.
    from rados_timestore_spark.store import ConcurrentWriterError

    store = _ttl_store(spark, tmp_path)
    real_cas = store._write_meta_cas
    fired = {"n": 0}

    def cas_with_interleaved_expire(ns, meta):
        if fired["n"] == 0:
            fired["n"] += 1
            store.expire(ns, 2 * _DAY)  # bumps txn + expire_gen
        return real_cas(ns, meta)

    store._write_meta_cas = cas_with_interleaved_expire
    df = spark.createDataFrame(
        [(0, 10 * _DAY, 1)], "address long, time long, value long")
    try:
        import pytest

        with pytest.raises(ConcurrentWriterError):
            store.write_points("T", df, retries=5)
    finally:
        store._write_meta_cas = real_cas
    # sanity: without an interleaved expire the same retried write works
    store.write_points("T", df, retries=5)
    assert store.read_simple(
        "T", 10 * _DAY, 10 * _DAY, [0]).count() == 1


def test_expire_preserves_meta_flipped_during_deletes(spark, tmp_path):
    # ADVICE r8: the epoch-directory deletes are O(#expired epochs)
    # and can outlast the flip lock's stale_after, after which a
    # waiter legitimately stale-breaks the lock and a concurrent
    # writer flips meta.  expire must NOT write the document it read
    # at lock entry (that clobbers the writer's watermark/seq_base/txn)
    # — it re-reads after the deletes and folds its bump into the
    # fresh doc.  Simulate the supersession by flipping meta directly
    # from inside the first directory delete.
    store = _ttl_store(spark, tmp_path)
    real_delete = store.fs.delete
    fired = {"n": 0}

    def delete_with_interleaved_flip(path, recursive=False):
        if "epoch=" in str(path) and fired["n"] == 0:
            fired["n"] += 1
            m = store._read_meta("T")
            m.latest_simple = 999_999  # the superseding writer's flip
            m.seq_base += 7
            m.txn += 1
            store._write_meta("T", m)
        return real_delete(path, recursive)

    store.fs.delete = delete_with_interleaved_flip
    try:
        before = store._read_meta("T")
        assert store.expire("T", 2 * _DAY)
    finally:
        store.fs.delete = real_delete
    after = store._read_meta("T")
    assert fired["n"] == 1
    # the interleaved writer's updates SURVIVE expire's meta write...
    assert after.latest_simple == 999_999
    assert after.seq_base == before.seq_base + 7
    # ...and expire's bump is folded on top of the fresh doc
    assert after.txn == before.txn + 2
    assert after.expire_gen == before.expire_gen + 1


def test_expire_bumps_fencing_counters_only_when_dropping(spark, tmp_path):
    store = _ttl_store(spark, tmp_path)
    before = store._read_meta("T")
    assert store.expire("T", 0) == []  # nothing expired
    mid = store._read_meta("T")
    assert (mid.txn, mid.expire_gen) == (before.txn, before.expire_gen)
    assert store.expire("T", 2 * _DAY)
    after = store._read_meta("T")
    assert after.txn == mid.txn + 1
    assert after.expire_gen == mid.expire_gen + 1


# --------------------------------------- staged append promotion (r9)


def test_promote_dir_tree_moves_data_files_only(spark, tmp_path):
    from rados_timestore_spark.fsutil import HadoopFS

    fs = HadoopFS(spark, str(tmp_path))
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    df = spark.createDataFrame(
        [(e, b, e * 10 + b) for e in range(2) for b in range(3)],
        "epoch long, bucket long, v long",
    )
    df.write.partitionBy("epoch", "bucket").parquet(stage)
    import glob
    import os

    staged = glob.glob(f"{stage}/epoch=*/bucket=*/part-*")
    assert staged
    moved = fs.promote_dir_tree(stage, dest)
    assert moved == len(staged)
    # every data file moved, layout preserved, hidden markers skipped
    assert glob.glob(f"{stage}/epoch=*/bucket=*/part-*") == []
    assert os.path.exists(f"{stage}/_SUCCESS")  # marker left behind
    got = spark.read.parquet(dest)
    assert got.count() == 6
    assert {(r.epoch, r.bucket, r.v) for r in got.collect()} == {
        (e, b, e * 10 + b) for e in range(2) for b in range(3)
    }


def test_write_points_leaves_no_stage_dirs_and_gc_sweeps_orphans(
        spark, tmp_path):
    from rados_timestore_spark.store import TimeStore

    store = TimeStore(spark, str(tmp_path / "wh"))
    store.register_namespace("S", buckets=4)
    df = spark.createDataFrame(
        [(2, 10, 1), (4, 20, 2)], "address long, time long, value long")
    store.write_points("S", df)
    names = store.fs.list_dirs(store._ns_dir("S"))
    assert not any(n.startswith(".stage_") for n in names)
    assert store.read_simple("S", 0, 100, [2, 4]).count() == 2
    # a crashed writer's orphaned staging dir is swept by gc and
    # invisible to reads (hidden directory)
    orphan = f"{store._ns_dir('S')}/.stage_deadbeef"
    store.fs.mkdirs(orphan)
    store.fs.write_text_atomic(f"{orphan}/part-0.parquet", "junk")
    assert store.read_simple("S", 0, 100, [2, 4]).count() == 2
    assert ".stage_deadbeef" in store.gc("S")
    assert not store.fs.exists(orphan)
    # crashed FILE remnants (r11): a writer killed inside
    # write_text_atomic leaves a .tmp.*; a stale-breaker killed
    # between its rename and delete leaves a .lock.stale.* tomb.
    # gc sweeps both ONCE THEY AGE past the staleness horizon —
    # a YOUNG tmp may belong to a concurrently running writer whose
    # meta flip would fail if gc deleted it mid-write (ADVICE r11) —
    # and .bak (crash insurance) survives at any age.
    ns = store._ns_dir("S")
    for leftover in ("_meta.json.tmp.123.456",
                     "_meta.json.lock.stale.1.2"):
        store.fs.create_exclusive(f"{ns}/{leftover}", b"junk")
    assert store.gc("S") == []  # both too young: in-flight-writer safe
    assert store.fs.exists(f"{ns}/_meta.json.tmp.123.456")
    # age them past the horizon (Hadoop setTimes, ms)
    for leftover in ("_meta.json.tmp.123.456",
                     "_meta.json.lock.stale.1.2"):
        store.fs.fs.setTimes(store.fs._path(f"{ns}/{leftover}"), 1000, -1)
    swept = store.gc("S")
    assert "_meta.json.tmp.123.456" in swept
    assert "_meta.json.lock.stale.1.2" in swept
    assert store.fs.exists(f"{ns}/_meta.json")
    assert store.read_simple("S", 0, 100, [2, 4]).count() == 2


# ---------------------------------------------------- verify (scrub)


def test_verify_clean_store_is_ok(store):
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(0, 0, 10), (2, 2, 20), (4, 4, 30)])
    rep = store.verify("PONY")
    assert rep["ok"] and rep["n_rows"] == 3
    assert rep["misplaced_bucket"] == 0 and rep["misplaced_epoch"] == 0
    assert rep["beyond_watermark"] == 0 and rep["seq_beyond_base"] == 0
    assert rep["orphan_dirs"] == []
    # still ok across a compaction generation flip + rollover epochs
    store.compact("PONY")
    assert store.verify("PONY")["ok"]


def test_verify_reports_orphans_without_deleting(store):
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 1, 1)])
    store.compact("PONY")
    ns_dir = store._ns_dir("PONY")
    store.fs.mkdirs(f"{ns_dir}/points")          # resurrected gen 0
    store.fs.mkdirs(f"{ns_dir}/.stage_deadbeef")  # crashed stage
    rep = store.verify("PONY")
    assert not rep["ok"]
    assert set(rep["orphan_dirs"]) == {"points", ".stage_deadbeef"}
    # verify is READ-ONLY: both dirs still there, gc does the sweep
    assert store.fs.is_dir(f"{ns_dir}/points")
    store.gc("PONY")
    assert store.verify("PONY")["ok"]


def test_verify_detects_misplaced_rows_and_lost_watermark(store, spark):
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 1, 1), (2, 2, 2)])
    meta = store._read_meta("PONY")
    pdir = store._points_dir("PONY", meta)
    # inject a row into the WRONG bucket directory (address 2 routes
    # to bucket 2; plant it in bucket 3) with a time beyond the
    # watermark and a seq beyond the reserved base — the three row
    # invariants trip at once
    bad = spark.createDataFrame(
        [(2, 10**15, 99, None, 10**18)],
        "address long, time long, value long, payload binary, seq long",
    ).withColumn("kind", F.lit(0))
    bad.coalesce(1).write.mode("append").parquet(
        f"{pdir}/epoch=0/bucket=3")
    rep = store.verify("PONY")
    assert not rep["ok"]
    assert rep["misplaced_bucket"] == 1
    assert rep["beyond_watermark"] == 1
    assert rep["seq_beyond_base"] == 1
    assert rep["n_rows"] == 3


def test_verify_holds_across_rollover_and_expire(spark, tmp_path):
    # the scrub must re-evaluate routing against the CURRENT index:
    # rows written before later rollovers (old epochs, possibly
    # different bucket counts) and survivors of a TTL expiry all
    # still stab to the directories they sit in
    from rados_timestore_spark.store import TimeStore

    store = TimeStore(spark, str(tmp_path / "wh"), rollover_bytes=1)
    store.register_namespace("R", buckets=4)
    for k in range(3):
        d = spark.range(200).select(
            (F.col("id") % 10 * 2).alias("address"),
            (F.col("id") + k * 10_000_000).alias("time"),
            F.col("id").alias("value"))
        store.write_points("R", d)
    assert len(store.index("R").entries) > 1  # rollovers happened
    assert store.verify("R")["ok"]
    store.expire("R", 10_000_000)
    rep = store.verify("R")
    assert rep["ok"] and rep["n_rows"] == 400


def test_promote_prefix_and_sweep_files(spark, tmp_path):
    from rados_timestore_spark.fsutil import HadoopFS

    fs = HadoopFS(spark, str(tmp_path))
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    df = spark.createDataFrame(
        [(e, b, e * 10 + b) for e in range(2) for b in range(2)],
        "epoch long, bucket long, v long",
    )
    df.write.partitionBy("epoch", "bucket").parquet(stage)
    moved = fs.promote_dir_tree(stage, dest, prefix="sbatch1-")
    import glob

    promoted = glob.glob(f"{dest}/epoch=*/bucket=*/*")
    assert moved == len(promoted)
    assert all(p.rsplit("/", 1)[1].startswith("sbatch1-") for p in promoted)
    assert spark.read.parquet(dest).count() == 4
    # sweeping an unrelated prefix touches nothing
    assert fs.sweep_files(dest, "sbatch2-") == 0
    assert fs.sweep_files(dest, "sbatch1-") == moved
    assert glob.glob(f"{dest}/epoch=*/bucket=*/*") == []


def test_write_points_failed_promote_sweeps_partial_batch(store, spark):
    """ADVICE r9: a promote that dies partway must not leave a
    half-promoted batch live (a caller retry would double-count it).
    Kill the promote after 2 file renames; the points dir must read
    back exactly the pre-call rows, and the retry exactly once more.
    """
    from rados_timestore_spark.fsutil import HadoopFS

    store.register_namespace("P", buckets=4)
    base = spark.createDataFrame(
        [(a * 2, t, t, a * 100 + t) for a in range(4) for t in range(8)],
        "address long, time long, value long, seq long",
    )
    store.write_points("P", base)
    n0 = store.read_simple("P", 0, 1 << 62, [a * 2 for a in range(4)]).count()
    assert n0 == 32

    real = HadoopFS.promote_dir_tree
    calls = {"renames": 0}

    def dying_promote(self, stage, dest, prefix=""):
        # promote file-by-file via the real implementation, but crash
        # after the first rename (the staged batch is shaped to one
        # file per live bucket since the r14 write-shaping — two files
        # here — so the crash must land mid-way through two renames)
        stage_q = self.fs.makeQualified(self._path(stage)).toString()
        it = self.fs.listFiles(self._path(stage), True)
        moved = 0
        while it.hasNext():
            f = it.next().getPath()
            if f.getName().startswith(("_", ".")):
                continue
            if moved == 1:
                raise IOError("injected: promote died mid-batch")
            rel = f.toString()[len(stage_q) + 1:]
            head, basename = rel.rsplit("/", 1)
            tgt_dir = f"{dest}/{head}"
            self.fs.mkdirs(self._path(tgt_dir))
            assert self.fs.rename(
                f, self._path(f"{tgt_dir}/{prefix}{basename}"))
            moved += 1
        return moved

    batch = base.withColumn("time", base.time + 1000)
    import pytest as _pytest

    try:
        HadoopFS.promote_dir_tree = dying_promote
        with _pytest.raises(IOError, match="injected"):
            store.write_points("P", batch)
    finally:
        HadoopFS.promote_dir_tree = real

    # the partial batch was swept: reads see exactly the old rows
    assert store.read_simple("P", 0, 1 << 62, [a * 2 for a in range(4)]).count() == n0
    # the whole-batch retry lands exactly once (no double count)
    store.write_points("P", batch)
    assert store.read_simple("P", 0, 1 << 62, [a * 2 for a in range(4)]).count() == n0 + 32
    rep = store.verify("P")
    assert rep["ok"], rep


def test_gc_clock_skew_does_not_sweep_live_tmp(store, monkeypatch):
    # ADVICE r12 #3: gc compared the DRIVER's wall clock with the
    # FILESYSTEM's mtimes — with driver-storage skew greater than the
    # staleness horizon, a live writer's young tmp got swept (failing
    # its meta flip).  gc now derives 'now' from the filesystem's own
    # clock (fsutil.fs_now_ms probe), so a skewed driver clock must
    # not change the verdict.
    import time

    store.register_namespace("SKEW", buckets=4)
    ns = store._ns_dir("SKEW")
    store.fs.create_exclusive(f"{ns}/_meta.json.tmp.9.9", b"junk")
    real = time.time
    monkeypatch.setattr(time, "time", lambda: real() + 10_000)
    assert store.gc("SKEW") == []
    assert store.fs.exists(f"{ns}/_meta.json.tmp.9.9")


def test_flip_lock_clock_skew_does_not_break_live_lock(
        store, monkeypatch):
    # same skew scenario for the flip lock's stale-break: the
    # wall-clock age is only a pre-filter; the break is confirmed
    # against the filesystem clock, so a LIVE holder's fresh lock
    # survives a skewed waiter (which times out loudly instead)
    import time

    import pytest as _pytest

    from rados_timestore_spark.fsutil import (
        ConcurrentMaintainerError, flip_lock,
    )

    store.register_namespace("SKEWL", buckets=4)
    lock = f"{store._ns_dir('SKEWL')}/_meta.json.lock"
    assert store.fs.create_exclusive(lock, b"live-holder-token")
    real = time.time
    monkeypatch.setattr(time, "time", lambda: real() + 10_000)
    with _pytest.raises(ConcurrentMaintainerError, match="held past"):
        with flip_lock(store.fs, lock, what="skew-test", timeout=1.0):
            pass
    # the live holder's lock was NOT broken
    assert store.fs.read_text(lock) == "live-holder-token"


def test_stats_reports_files_and_debts(store):
    # late-r14: the ANN stats verb cross-applied to the store —
    # exact per-(epoch,bucket) file counts (pure listings) plus the
    # crash debts gc sweeps.
    store.register_namespace("PONY", buckets=4)
    for i in range(5):
        _write(store, "PONY", [(2, i, i)])
    st = store.stats("PONY")
    assert st["generation"] == 0
    assert st["stale_generations"] == [] and st["crashed_remnants"] == []
    assert st["over_bound"] == []          # default bound is 16
    assert sum(st["files_per_bucket"].values()) >= 5
    # a resurrected stale generation and an aged tmp remnant surface
    store.compact("PONY")                  # gen 0 -> 1
    ns_dir = store._ns_dir("PONY")
    store.fs.mkdirs(f"{ns_dir}/points")
    store.fs.write_text_atomic(f"{ns_dir}/x", "junk")
    store.fs.rename(f"{ns_dir}/x", f"{ns_dir}/_meta.json.tmp.junk")
    st = store.stats("PONY")
    assert st["generation"] == 1
    assert "points" in st["stale_generations"]
    assert any(".tmp." in r for r in st["crashed_remnants"])


def test_maintain_noop_when_healthy_heals_small_files(
        store, monkeypatch):
    # late-r14: measure-then-heal on the store (the maintain verb
    # the ANN indexes got, cross-applied) — healthy namespace is a
    # BYTE-untouched no-op; small-file debt past the bound compacts
    # to one file per partition and converges.
    import os

    from rados_timestore_spark.store import TimeStore

    store.register_namespace("PONY", buckets=4)
    for i in range(5):
        _write(store, "PONY", [(2, i, i)])

    def snapshot():
        out = []
        for dirp, _dirs, files in os.walk(store.root):
            for f in files:
                p = os.path.join(dirp, f)
                s = os.stat(p)
                out.append((p, s.st_size, s.st_mtime_ns))
        return sorted(out)

    before = snapshot()
    res = store.maintain("PONY")
    assert res["action"] == "none"
    assert snapshot() == before

    monkeypatch.setattr(TimeStore, "FILES_PER_BUCKET_BOUND", 2)
    res = store.maintain("PONY")
    assert res["action"] == "compact"
    assert res["stats"]["over_bound"]      # what triggered it
    got = store.read_simple("PONY", 0, 10, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(i, i) for i in range(5)]
    st = store.stats("PONY")
    assert st["over_bound"] == []
    assert max(st["files_per_bucket"].values()) == 1
    # compact deleted the retired generation inside its flip, so the
    # next maintain is already a no-op
    assert store.maintain("PONY")["action"] == "none"


def test_maintain_heals_gc_debts(store):
    store.register_namespace("PONY", buckets=4)
    _write(store, "PONY", [(2, 1, 1)])
    store.compact("PONY")                  # gen 0 -> 1
    ns_dir = store._ns_dir("PONY")
    store.fs.mkdirs(f"{ns_dir}/points")    # crashed-generation debt
    res = store.maintain("PONY")
    assert res["action"] == "gc"
    assert "points" in res["stats"]["stale_generations"]
    assert not store.fs.is_dir(f"{ns_dir}/points")
    assert store.maintain("PONY")["action"] == "none"
    # data untouched throughout
    got = store.read_simple("PONY", 0, 10, [2], global_order=True).collect()
    assert [(r.time, r.value) for r in got] == [(1, 1)]
