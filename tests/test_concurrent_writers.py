"""Multi-writer stress — VERDICT r6 "What's missing" #3.

The reference coordinates many writer daemons with advisory locks plus
a CAS re-check of the index object, stress-tested as 100 concurrent
exclusive-lock counter increments (tests/StoreTests.hs:128-157: final
counter must be exactly 100 — no lost update).  This port has one
commit for every meta document, the store's ``_meta.json`` and both
ANN indexes' metas: ``fsutil.cas_commit_meta`` re-checks the txn the
verb read at entry under a create-exclusive flip lock
(``fsutil.flip_lock``), and callers re-read and retry.  These tests
pin the same no-lost-update law on the Spark engine: the counter test
over both document shapes (8 writers in the default run, 100 in the
slow set), the lock's exclusion, stale-break and ownership rules, and
interleaved ``write_points`` writers with retries.
"""

import threading

import pytest

from rados_timestore_spark.store import ConcurrentWriterError, TimeStore


def _write(store, ns, rows, **kw):
    df = store.spark.createDataFrame(
        rows, "address long, time long, value long")
    store.write_points(ns, df, **kw)


def _counter_doc(shape, spark, root):
    """``(read, commit, count, err_cls)`` over one meta document of
    ``shape``: the store's ``_meta.json`` (``seq_base`` plays the
    counter) or an index kernel's (a ``n`` field)."""
    if shape == "store":
        store = TimeStore(spark, root)
        store.register_namespace("ctr", buckets=4)

        def commit(meta):
            meta.seq_base += 1
            store._write_meta_cas("ctr", meta)

        return (lambda: store._read_meta("ctr"), commit,
                lambda: store._read_meta("ctr").seq_base,
                ConcurrentWriterError)
    from rados_timestore_spark.fsutil import ConcurrentMaintainerError
    from rados_timestore_spark.vector_index import VectorIndex

    ix = VectorIndex(spark, root)
    ix._write_meta("ctr", {"n": 0, "txn": 0})

    def commit(doc):
        doc["n"] += 1
        ix._commit_meta("ctr", doc)

    return (lambda: ix.meta("ctr"), commit,
            lambda: ix.meta("ctr")["n"], ConcurrentMaintainerError)


@pytest.mark.parametrize("n_writers", [
    8, pytest.param(100, marks=pytest.mark.slow)])
@pytest.mark.parametrize("shape", ["store", "index"])
def test_meta_cas_counter_100_writers(spark, tmp_path, shape, n_writers):
    # StoreTests.hs:128-157 ported: 100 writers each read the shared
    # document, dally, and write back an increment through the fenced
    # flip, for both document shapes that share the one CAS commit.
    # Every writer retries its OWN read-modify-write on CAS failure
    # (the reference re-acquires the lock per attempt), so the final
    # count proves no update was lost in any interleaving.  The
    # 8-writer run is the default-run smoke.
    read, commit, count, err_cls = _counter_doc(
        shape, spark, str(tmp_path / "warehouse"))
    errors = []

    def incr():
        try:
            for _ in range(200):  # bounded retry per writer
                try:
                    commit(read())
                    return
                except err_cls:
                    continue
            errors.append("retries exhausted")
        except Exception as exc:  # pragma: no cover
            errors.append(repr(exc))

    # the writers run on a bounded pool: the reference's 100 are
    # green threads on one capability; raw OS threads here would fan
    # out 100 concurrent py4j connections and measure the gateway, not
    # the lock.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as pool:
        list(pool.map(lambda _: incr(), range(n_writers)))
    assert errors == []
    assert count() == n_writers


def test_flip_lock_serializes_check_then_write(store):
    # Two holders can never be inside the lock at once (the ADVICE r6
    # check-then-write window): track concurrent occupancy directly.
    store.register_namespace("lk", buckets=4)
    inside, max_inside, lock = 0, [0], threading.Lock()
    errors = []

    def hold():
        nonlocal inside
        try:
            for _ in range(10):
                with store._flip_lock("lk"):
                    with lock:
                        inside += 1
                        max_inside[0] = max(max_inside[0], inside)
                    with lock:
                        inside -= 1
        except Exception as exc:  # pragma: no cover
            errors.append(repr(exc))

    threads = [threading.Thread(target=hold) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert max_inside[0] == 1


def test_stale_flip_lock_is_broken(store):
    # A crashed holder's marker must not wedge the namespace forever.
    store.register_namespace("st", buckets=4)
    lock_path = f"{store._ns_dir('st')}/_meta.json.lock"
    out = store.fs.fs.create(store.fs._path(lock_path), False)
    out.write(bytearray(b"dead"))
    out.close()
    # stale_after=0: the existing marker is immediately breakable.
    with store._flip_lock("st", timeout=5.0, stale_after=0.0):
        pass
    assert not store.fs.exists(lock_path)


def test_superseded_holder_release_leaves_new_lock(store):
    # ADVICE r7 (medium): a holder that stalls past stale_after gets
    # legitimately stale-broken; when it finally wakes, its release
    # must NOT delete the new holder's lock.  Simulate the supersession
    # by swapping the lock content mid-hold — the release token check
    # must see foreign content and leave the file alone.
    store.register_namespace("sup", buckets=4)
    lock_path = f"{store._ns_dir('sup')}/_meta.json.lock"
    with store._flip_lock("sup"):
        store.fs.delete(lock_path, False)
        out = store.fs.fs.create(store.fs._path(lock_path), True)
        out.write(bytearray(b"9999.1.newholdertoken"))
        out.close()
    assert store.fs.exists(lock_path), (
        "stalled holder's release deleted the superseding holder's lock"
    )
    assert store.fs.read_text(lock_path).strip() == "9999.1.newholdertoken"
    store.fs.delete(lock_path, False)


def test_release_deletes_own_lock(store):
    # The ownership check must not break the common path: after a
    # normal hold/release cycle the lock file is gone.
    store.register_namespace("own", buckets=4)
    lock_path = f"{store._ns_dir('own')}/_meta.json.lock"
    with store._flip_lock("own"):
        assert store.fs.exists(lock_path)
    assert not store.fs.exists(lock_path)


def test_held_flip_lock_times_out_loudly(store):
    store.register_namespace("to", buckets=4)
    with store._flip_lock("to"):
        with pytest.raises(ConcurrentWriterError):
            with store._flip_lock("to", timeout=0.3):
                pass  # pragma: no cover


def test_concurrent_write_points_with_retry(store):
    # Interleaved writer daemons on ONE namespace: every point present
    # and the watermark exact at the end (StoreTests.hs:128-157 in
    # spirit, at the write_points level).  retries>0 resolves the CAS
    # contention by folding each writer's observed maxima into the
    # fresh document — both monotone, so the merge is exact.
    store.register_namespace("cw", buckets=4)
    n_writers, per_writer, errors = 4, 2, []

    def writer(w):
        try:
            for b in range(per_writer):
                base = (w * per_writer + b) * 100
                _write(store, "cw",
                       [(2, base + i, base + i) for i in range(5)],
                       retries=16)
        except Exception as exc:
            errors.append(repr(exc))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    rows = store.read_simple("cw", 0, 1 << 40, [2]).collect()
    want_times = {
        (w * per_writer + b) * 100 + i
        for w in range(n_writers) for b in range(per_writer)
        for i in range(5)
    }
    assert {r.time for r in rows} == want_times
    assert store.latest("cw")[0] == max(want_times)


def test_concurrent_writers_dual_index_per_kind(store):
    # The r10 dual-index namespace under the same interleaved-writer
    # stress: two simple writers + two extended writers, retries
    # resolving CAS contention.  Every point of BOTH kinds present,
    # per-kind watermarks exact, and the integrity scrub green — the
    # per-kind rollover/CAS interplay must not lose an index cut or a
    # watermark under contention.
    store.register_namespace("dw", buckets=4, extended_buckets=3)
    n_writers, per_writer, errors = 4, 2, []

    def writer(w):
        try:
            for b in range(per_writer):
                base = (w * per_writer + b) * 100
                if w % 2 == 0:  # simple
                    df = store.spark.createDataFrame(
                        [(2, base + i, base + i) for i in range(5)],
                        "address long, time long, value long")
                else:  # extended
                    df = store.spark.createDataFrame(
                        [(3, base + i, bytearray(b"p%d" % (base + i)))
                         for i in range(5)],
                        "address long, time long, payload binary")
                store.write_points("dw", df, retries=16)
        except Exception as exc:
            errors.append(repr(exc))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    s_times = {
        (w * per_writer + b) * 100 + i
        for w in (0, 2) for b in range(per_writer) for i in range(5)
    }
    x_times = {
        (w * per_writer + b) * 100 + i
        for w in (1, 3) for b in range(per_writer) for i in range(5)
    }
    got_s = {r.time for r in
             store.read_simple("dw", 0, 1 << 40, [2]).collect()}
    got_x = {(r.time, bytes(r.payload)) for r in
             store.read_extended("dw", 0, 1 << 40, [3]).collect()}
    assert got_s == s_times
    assert got_x == {(t, b"p%d" % t) for t in x_times}
    assert store.latest("dw") == (max(s_times), max(x_times))
    rep = store.verify("dw")
    assert rep["ok"], rep
