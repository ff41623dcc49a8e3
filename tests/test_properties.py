"""Hypothesis ports of the reference's QuickCheck laws
(tests/FuzzyTests.hs) against the Spark engine.

* round-trip law (FuzzyTests.hs:150-199, 220-243): every written point
  is findable after arbitrary interleavings/chunkings of writes, for
  both simple and extended reads; duplicate (address, time) keys
  resolve to the FIRST-written payload.
* LWW law (FuzzyTests.hs:122-147, 205-218): the last insert per key is
  what lookup returns.
* watermark law (StoreHelpers.hs:241-259): per-kind watermark equals
  the max time ever written for that kind.

Spark jobs cost seconds, so examples are few but adversarial: high
Word64 addresses (negative as i64), non-power-of-two bucket counts,
boundary times, duplicate keys across chunk boundaries.
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rados_timestore_spark.store import TimeStore

# Addresses exercise the full Word64 domain, reinterpreted as i64
# (bit patterns preserved, as the codec decodes them).
_ADDRS = st.sampled_from(
    # -2 is Word64 2^64-2; -(1<<62) is 3*2^62: the high half of the
    # Word64 domain arrives as negative i64 (bit patterns preserved).
    [0, 2, 4, 14, 1 << 40, (1 << 62), -2, -(1 << 62)]
)
_TIMES = st.integers(min_value=0, max_value=50)

_POINT = st.tuples(_ADDRS, _TIMES, st.integers(0, 1 << 32))


def _expected_first_wins(chunks):
    seen = {}
    for chunk in chunks:
        for a, t, v in chunk:
            key = (a & ~1, t)  # simple addresses (bit 0 clear)
            if key not in seen:
                seen[key] = v
    return seen


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    chunks=st.lists(st.lists(_POINT, min_size=1, max_size=12),
                    min_size=1, max_size=3),
    buckets=st.sampled_from([4, 10, 77, 128]),
)
def test_roundtrip_first_wins_law(spark, tmp_path_factory, chunks, buckets):
    store = TimeStore(spark, str(tmp_path_factory.mktemp("prop")))
    store.register_namespace("NS", buckets=buckets)
    for i, chunk in enumerate(chunks):
        rows = [(a & ~1, t, v, (i << 32) + j)
                for j, (a, t, v) in enumerate(chunk)]
        df = spark.createDataFrame(
            rows, "address long, time long, value long, seq long")
        store.write_points("NS", df)

    expected = _expected_first_wins(chunks)
    addrs = sorted({a for a, _ in expected})
    got = store.read_simple("NS", 0, 1 << 62, addrs).collect()
    got_map = {(r.address, r.time): r.value for r in got}
    # Negative (high Word64) addresses are still simple (bit 0 clear)
    # and must round-trip; times are in [0, 50] so the full range read
    # sees everything.
    assert got_map == expected


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(st.sampled_from([4, 6, 20]), st.binary(min_size=1,
                                                         max_size=8)),
        min_size=1, max_size=6,
    )
)
def test_mutable_lww_law(spark, tmp_path_factory, ops):
    from rados_timestore_spark.mutable import MutableKV

    store = TimeStore(spark, str(tmp_path_factory.mktemp("kv")))
    kv = MutableKV(store, "NS")
    expected = {}
    for key, value in ops:
        kv.insert(key, value)
        expected[key] = value
    for key, value in expected.items():
        assert kv.lookup(key) == value
    enum = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert enum == {(k | 1): v for k, v in expected.items()}


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    chunks=st.lists(
        st.lists(st.tuples(_TIMES, st.booleans()), min_size=1, max_size=8),
        min_size=1, max_size=3,
    )
)
def test_watermark_law(spark, tmp_path_factory, chunks):
    store = TimeStore(spark, str(tmp_path_factory.mktemp("wm")))
    store.register_namespace("NS", buckets=8)
    max_s, max_e = None, None
    for chunk in chunks:
        rows = []
        for j, (t, extended) in enumerate(chunk):
            if extended:
                rows.append((3, t, None, bytearray(b"x"), j))
                max_e = t if max_e is None else max(max_e, t)
            else:
                rows.append((2, t, 7, None, j))
                max_s = t if max_s is None else max(max_s, t)
        df = spark.createDataFrame(
            rows,
            "address long, time long, value long, payload binary, seq long",
        )
        store.write_points("NS", df)
    assert store.latest("NS") == (max_s, max_e)


_LIFECYCLE_OP = st.one_of(
    st.tuples(st.just("write"),
              st.lists(_POINT, min_size=1, max_size=8)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("compact_dedup"), st.none()),
    st.tuples(st.just("gc"), st.none()),
    st.tuples(st.just("rescale"), st.integers(1, 16)),
    st.tuples(st.just("expire"), st.integers(0, 60)),
    st.tuples(st.just("read"), st.none()),
)


@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_LIFECYCLE_OP, min_size=1, max_size=6))
def test_lifecycle_law(spark, tmp_path_factory, ops):
    """Stateful lifecycle law (FuzzyTests.hs round-trip at lifecycle
    level): under ANY interleaving of write_points / compact (plain or
    dedup) / gc / rescale / expire / read, a full-range read always
    sees exactly the first-wins set of every point written so far
    MINUS the points in epochs dropped by expire — reads are invariant
    to every other maintenance operation, including bucket-count
    changes mid-history.  expire's model update derives the dropped
    ranges from its return value against the (independently law-
    tested) index boundaries; write_points routes by time, so a key
    lives in exactly one epoch and the range subtraction is exact.
    Every example finishes with compact -> gc -> read so the
    generation flip + stale-dir removal is exercised even when
    Hypothesis draws no explicit maintenance ops."""
    store = TimeStore(spark, str(tmp_path_factory.mktemp("lc")))
    store.register_namespace("NS", buckets=8)
    model = {}  # (addr, time) -> first-written value
    wi = 0

    def check_read():
        addrs = sorted({a for a, _ in model})
        got = store.read_simple("NS", 0, 1 << 62, addrs).collect()
        assert {(r.address, r.time): r.value for r in got} == model

    for op, arg in list(ops) + [("compact", None), ("gc", None),
                                ("read", None)]:
        if op == "write":
            rows = [(a & ~1, t, v, (wi << 32) + j)
                    for j, (a, t, v) in enumerate(arg)]
            wi += 1
            for a, t, v, _ in rows:
                model.setdefault((a, t), v)
            df = spark.createDataFrame(
                rows, "address long, time long, value long, seq long")
            store.write_points("NS", df)
        elif op == "compact":
            store.compact("NS")
        elif op == "compact_dedup":
            store.compact("NS", dedup=True)
        elif op == "gc":
            store.gc("NS")
        elif op == "rescale":
            store.rescale("NS", arg)
        elif op == "expire":
            entries = sorted(e for e, _ in store.index("NS").entries)
            dropped = store.expire("NS", arg)
            nxt = {entries[i]: entries[i + 1]
                   for i in range(len(entries) - 1)}
            for e in dropped:
                model = {(a, t): v for (a, t), v in model.items()
                         if not (e <= t < nxt[e])}
        else:
            check_read()


def test_spark_matches_model(spark, tmp_path):
    """Pin the pure store model (tests/store_model.py — where the laws
    run at QuickCheck scale) to the REAL engine: one mixed workload
    through both, comparing reads, watermarks, and the KV view."""
    from tests.store_model import PureKV, PureStore

    chunks = [
        # mixed parity, duplicate (addr, time) keys across chunks,
        # high-Word64 addresses, boundary times
        [(2, 5, 100, None), (3, 5, None, b"a"), (2, 5, 999, None),
         (-2, 50, 7, None)],
        [(2, 5, 555, None), (2, 9, 101, None), (3, 5, None, b"b"),
         (-(1 << 62) | 1, 0, None, b"hi")],
        [(1 << 40, 31, 8, None), (3, 7, None, b"c"), (2, 31, 9, None)],
    ]
    model = PureStore()
    model.register_namespace("NS")
    store = TimeStore(spark, str(tmp_path / "s"))
    store.register_namespace("NS", buckets=8)
    for i, c in enumerate(chunks):
        rows = [(a, t, v, None if p is None else bytearray(p),
                 (i << 32) + j) for j, (a, t, v, p) in enumerate(c)]
        model.write_points("NS", rows)
        df = spark.createDataFrame(
            rows,
            "address long, time long, value long, payload binary, seq long",
        )
        store.write_points("NS", df)

    addrs = sorted({a for c in chunks for a, *_ in c})
    for lo, hi in [(0, 1 << 62), (5, 31), (6, 6), (51, 60)]:
        got_s = sorted(
            (r.address, r.time, r.value)
            for r in store.read_simple("NS", lo, hi, addrs).collect()
        )
        assert got_s == [r[:3] for r in
                         model.read_simple("NS", lo, hi, addrs)]
        got_e = sorted(
            (r.address, r.time, bytes(r.payload))
            for r in store.read_extended("NS", lo, hi, addrs).collect()
        )
        assert got_e == [r[:3] for r in
                         model.read_extended("NS", lo, hi, addrs)]
    assert store.latest("NS") == model.latest("NS")
    assert store.read_simple("NS", 0, 1 << 62, []).count() == 0

    # KV agreement: same insert/insert_with sequence on both.
    from rados_timestore_spark.mutable import MutableKV

    kv_m = PureKV(model, "KV")
    kv_s = MutableKV(store, "KV")
    seqops = [(4, b"x"), (6, b"y"), (4, b"z"), (20, b"q"), (4, b"w")]
    for k, v in seqops:
        kv_m.insert(k, v)
        kv_s.insert(k, v)
    merge = (lambda new, old: old + new)
    kv_m.insert_with(merge, 4, b"!")
    kv_s.insert_with(merge, 4, b"!")
    got_kv = {r.key: bytes(r.value) for r in kv_s.enumerate().collect()}
    assert got_kv == kv_m.enumerate()
    for k in (4, 6, 20, 99):
        assert kv_s.lookup(k) == kv_m.lookup(k)
