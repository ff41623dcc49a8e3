"""Wire codec round-trip — the reference's packed blob format
(Algorithms.hs:100-186) and the FuzzyTests mixed-payload law."""

import random

import pytest

import pyarrow as pa

from rados_timestore_spark.codec import (
    decode_batches, decode_blob, decode_wire_df, encode_points,
)


def test_simple_point_roundtrip():
    pts = [(0, 1, 42, None), (2, 5, 7, None)]
    blob = encode_points(pts)
    assert len(blob) == 48  # 24 bytes per simple point (Core.hs:260-262)
    got = decode_blob(blob)
    assert [(a, t, v, p) for a, t, v, p, _ in got] == pts


def test_extended_point_roundtrip():
    # UnitTests.hs extended fixture: "hai"/"there"/"pony" blobs.
    pts = [(1, 1, None, b"hai"), (1, 2, None, b"there"), (3, 1, None, b"pony")]
    blob = encode_points(pts)
    got = decode_blob(blob)
    assert [(a, t, v, bytes(p)) for a, t, v, p, _ in got] == pts


def test_mixed_blob_seq_in_append_order():
    pts = [(0, 1, 10, None), (1, 1, None, b"x"), (2, 1, 20, None)]
    got = decode_blob(encode_points(pts))
    assert [s for *_, s in got] == [0, 1, 2]


def test_truncated_blob_fails_whole_blob():
    # groupMixed fails the whole blob on parse error (Algorithms.hs:111-127).
    blob = encode_points([(1, 1, None, b"hello")])
    with pytest.raises(ValueError):
        decode_blob(blob[:-1])
    with pytest.raises(ValueError):
        decode_blob(blob + b"\x01")


def test_word64_range_addresses_roundtrip():
    # Word64 upper half maps to negative i64 but preserves bits.
    addr = (1 << 64) - 2  # even → simple
    blob = encode_points([(addr - (1 << 64), 3, 9, None)])
    got = decode_blob(blob)
    assert got[0][0] == addr - (1 << 64)


def test_fuzzy_mixed_roundtrip():
    # FuzzyTests.hs:56-67 analog: random mixed stream round-trips.
    rng = random.Random(42)
    pts = []
    for _ in range(200):
        if rng.random() < 0.5:
            pts.append((rng.randrange(0, 1 << 32) & ~1, rng.randrange(1 << 40),
                        rng.randrange(1 << 40), None))
        else:
            pts.append((rng.randrange(0, 1 << 32) | 1, rng.randrange(1 << 40),
                        None, rng.randbytes(rng.randrange(0, 64))))
    got = decode_blob(encode_points(pts))
    assert [(a, t, v, None if p is None else bytes(p)) for a, t, v, p, _ in got] == pts


def test_decode_wire_df(spark):
    # points in (partition, blob position, in-blob index) order, no seq
    # (write_points stamps it)
    blobs = [
        encode_points([(0, 1, 10, None), (2, 2, 20, None)]),  # partition 0
        encode_points([(1, 3, None, b"hai")]),                # partition 1
        encode_points([(4, 4, 40, None), (5, 5, None, b"")]),
    ]
    df = spark.sparkContext.parallelize(
        [(bytearray(b),) for b in blobs], 2).toDF("blob binary")
    got = decode_wire_df(df).collect()
    assert [(r.address, r.time, r.value,
             None if r.payload is None else bytes(r.payload))
            for r in got] == [
        (0, 1, 10, None),
        (2, 2, 20, None),
        (1, 3, None, b"hai"),
        (4, 4, 40, None),
        (5, 5, None, b""),
    ]


def _blob_batch(*blobs):
    return pa.RecordBatch.from_arrays([pa.array(blobs, pa.binary())],
                                      names=["blob"])


def _decoded(batches):
    out = pa.Table.from_batches(list(decode_batches(batches)))
    return list(zip(*(out.column(c).to_pylist() for c in out.column_names)))


def test_decode_batches_without_spark():
    a = encode_points([(2, 1, 5, None), (3, 1, None, b"x")])
    b = encode_points([(4, 2, -6, None)])
    assert _decoded([_blob_batch(a, b""), _blob_batch(), _blob_batch(b)]) \
        == [(2, 1, 5, None), (3, 1, None, b"x"), (4, 2, -6, None)]
    torn = encode_points([(3, 1, None, b"hello")])[:-1]
    with pytest.raises(ValueError):
        _decoded([_blob_batch(a), _blob_batch(torn)])


def _random_blobs(rng, n_blobs, keys):
    """``n_blobs`` mixed blobs drawing (address, time) from ``keys``,
    so keys repeat inside a blob and across blobs."""
    out = []
    for _ in range(n_blobs):
        pts = []
        for _ in range(rng.randrange(1, 12)):
            a, t = rng.choice(keys)
            pts.append((a, t, None, rng.randbytes(rng.randrange(0, 9)))
                       if a & 1 else (a, t, rng.randrange(-(1 << 62), 1 << 62),
                                      None))
        out.append(pts)
    return out


def test_write_encoded_matches_write_points_and_first_wins(spark, tmp_path):
    # Differential: random mixed blobs over 3 input partitions, written
    # once as blobs and once as the same points in the same order, must
    # read back as the first-wins model in (partition, position,
    # in-blob) order; a second batch loses every key to the first.
    from rados_timestore_spark.store import TimeStore

    rng = random.Random(9)
    addrs = [2, 3, 6, 11, -2, -(1 << 62) | 1]
    keys = [(a, t) for a in addrs for t in range(5)]
    store = TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("E", buckets=4)
    store.register_namespace("P", buckets=4)
    model = {}
    for batch in range(2):
        blobs = _random_blobs(rng, 9, keys)
        # parallelize slices contiguously: blobs 0-2, 3-5, 6-8
        in_blob = any(len({p[:2] for p in b}) < len(b) for b in blobs)
        across = {p[:2] for b in blobs[:3] for p in b} \
            & {p[:2] for b in blobs[6:] for p in b}
        assert in_blob and across
        flat = [p for b in blobs for p in b]
        for a, t, v, p in flat:
            model.setdefault((a, t), v if p is None else p)
        store.write_encoded("E", spark.sparkContext.parallelize(
            [(bytearray(encode_points(b)),) for b in blobs], 3
        ).toDF("blob binary"))
        store.write_points("P", spark.sparkContext.parallelize(flat, 3).toDF(
            "address long, time long, value long, payload binary"))
        for ns in ("E", "P"):
            simple = store.read_simple(ns, 0, 10, addrs, global_order=True)
            ext = store.read_extended(ns, 0, 10, addrs, global_order=True)
            got = {(r.address, r.time): r.value for r in simple.collect()}
            got.update({(r.address, r.time): bytes(r.payload)
                        for r in ext.collect()})
            assert got == model, (batch, ns)


def test_write_encoded_end_to_end(spark, tmp_path):
    # writeEncoded parity (TimeStore.hs:98-137): mixed wire blobs in,
    # queryable points out; first-wins across blobs follows blob order.
    from rados_timestore_spark.codec import encode_points
    from rados_timestore_spark.store import TimeStore

    store = TimeStore(spark, str(tmp_path / "w"))
    store.register_namespace("NS", buckets=8)
    blob1 = encode_points([
        (2, 10, 100, None), (3, 10, None, b"hai"), (4, 11, 400, None)])
    blob2 = encode_points([
        (2, 10, 999, None),  # duplicate key -> first blob's value wins
        (3, 12, None, b"there")])
    df = spark.createDataFrame(
        [(bytearray(blob1),), (bytearray(blob2),)], "blob binary")
    store.write_encoded("NS", df)

    simple = store.read_simple("NS", 0, 100, [2, 4], global_order=True)
    assert [(r.address, r.time, r.value) for r in simple.collect()] == [
        (2, 10, 100), (4, 11, 400)]
    ext = store.read_extended("NS", 0, 100, [3], global_order=True)
    assert [(r.address, r.time, bytes(r.payload)) for r in ext.collect()] == [
        (3, 10, b"hai"), (3, 12, b"there")]


def test_codec_roundtrip_property():
    # FuzzyTests.hs round-trip at the codec level: random mixed points
    # encode -> decode identically (pure Python, no Spark).
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rados_timestore_spark.codec import decode_blob, encode_points

    addr = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)
    time = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)
    simple = st.tuples(addr.map(lambda a: a & ~1), time,
                       st.integers(0, (1 << 63) - 1), st.none())
    extended = st.tuples(addr.map(lambda a: a | 1), time, st.none(),
                         st.binary(max_size=64))
    points = st.lists(st.one_of(simple, extended), max_size=50)

    @settings(max_examples=200, deadline=None)
    @given(points)
    def check(pts):
        blob = encode_points(pts)
        decoded = decode_blob(blob, seq_start=7)
        assert len(decoded) == len(pts)
        for i, ((a, t, v, p), (da, dt, dv, dp, ds)) in enumerate(
                zip(pts, decoded)):
            assert ds == 7 + i
            assert da == a and dt == t
            if a & 1:
                assert dv is None and bytes(dp) == p
            else:
                assert dv == v and dp is None

    check()


def test_codec_truncated_blob_raises():
    import pytest as _pytest

    from rados_timestore_spark.codec import decode_blob, encode_points

    blob = encode_points([(2, 1, 5, None)])
    with _pytest.raises(ValueError):
        decode_blob(blob[:20])            # torn header
    ext = encode_points([(3, 1, None, b"abcdef")])
    with _pytest.raises(ValueError):
        decode_blob(ext[:27])             # torn extended payload
