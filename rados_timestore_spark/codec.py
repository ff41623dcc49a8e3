"""Wire codec for the reference's packed point blobs.

Wire format (lib/TimeStore/Algorithms.hs:100-178, Core.hs:260-270):
a concatenation of records, each starting with a 24-byte header of
three little-endian Word64s — (address, time, payload).  If the
address LSB is clear the record is exactly the header (payload = the
simple value); if set, the header is followed by ``payload`` raw bytes
(the extended blob).

Decoding is a sequential scan (record boundaries depend on prior
lengths), so one blob decodes on one executor — parallelism comes from
many blobs (one per row of a binary-column DataFrame), exactly how the
reference parallelizes over many client writes.  Within a blob, runs
of consecutive *simple* records have a fixed 24-byte stride and are
decoded with one numpy ``frombuffer`` view per run (vectorized header
decode); the Python loop only advances at extended records, whose
variable length forces sequential parsing.

:func:`decode_wire_df` emits no ``seq``: ``TimeStore.write_points``
stamps it in the same stage as the decode, over the points in the
order they are yielded, so first-wins order follows (partition, blob
position, in-blob index) with no job to number the blobs first.

A parse error poisons the whole blob (``Either SomeException`` in
``groupMixed``, Algorithms.hs:111-127) — we mirror that by raising,
failing the task.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

POINT_SCHEMA_DDL = "address long, time long, value long, payload binary"


def decode_blob_columns(
    blob: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list]:
    """Decode one packed wire blob into columns
    ``(address, time, value, payload)``.

    ``address``/``time``/``value`` are i64 numpy arrays (Word64 bit
    patterns reinterpreted as Spark's signed LongType, so bucket
    placement and kind are preserved); ``value`` is 0 where the point
    is extended (address LSB set), which is where it is NULL.
    ``payload`` is a list with ``None`` at simple points.
    Simple runs decode via strided numpy views; only extended records
    take the scalar path.
    """
    off = 0
    n = len(blob)
    parts: list[np.ndarray] = []
    payloads: list = []
    while off < n:
        if off + 24 > n:
            raise ValueError(f"truncated point header at offset {off}")
        k = (n - off) // 24
        arr = np.frombuffer(blob, dtype="<u8", offset=off, count=3 * k)
        arr = arr.reshape(k, 3)
        odd = np.nonzero(arr[:, 0] & 1)[0]
        m = int(odd[0]) if odd.size else k
        if m:  # a run of m simple records, fixed 24-byte stride
            parts.append(arr[:m])
            payloads.extend([None] * m)
            off += 24 * m
            # tail shorter than 24B after a clean run is a torn header
            if off < n and n - off < 24:
                raise ValueError(f"truncated point header at offset {off}")
            continue
        addr_u, time_u, length = struct.unpack_from("<QQQ", blob, off)
        off += 24
        if off + length > n:
            raise ValueError(f"truncated extended payload at offset {off}")
        parts.append(np.array([[addr_u, time_u, 0]], dtype="<u8"))
        payloads.append(blob[off : off + length])
        off += length
    cols = (np.concatenate(parts) if parts
            else np.empty((0, 3), dtype="<u8")).view("<i8")
    return (np.ascontiguousarray(cols[:, 0]),
            np.ascontiguousarray(cols[:, 1]),
            np.ascontiguousarray(cols[:, 2]), payloads)


def decode_blob(blob: bytes, seq_start: int = 0) -> list[tuple]:
    """Decode one packed wire blob into point tuples.

    Returns [(address, time, value, payload, seq)] where value is set
    for simple points and payload for extended ones.  ``seq`` numbers
    records in blob order (the reference's implicit append order that
    first-write-wins dedup depends on, Algorithms.hs:209).
    """
    addrs, times, values, payloads = decode_blob_columns(blob)
    return [
        (a, t, None if a & 1 else v, p, seq_start + i)
        for i, (a, t, v, p) in enumerate(
            zip(addrs.tolist(), times.tolist(), values.tolist(), payloads)
        )
    ]


def encode_points(points: Iterable[tuple]) -> bytes:
    """Inverse of :func:`decode_blob`: pack (address, time, value,
    payload) tuples into the wire format."""
    parts: list[bytes] = []
    for row in points:
        addr, time, value, payload = row[0], row[1], row[2], row[3]
        addr_u = addr & ((1 << 64) - 1)
        time_u = time & ((1 << 64) - 1)
        if addr_u & 1:
            if payload is None:
                raise ValueError("extended point requires payload bytes")
            parts.append(struct.pack("<QQQ", addr_u, time_u, len(payload)))
            parts.append(bytes(payload))
        else:
            if value is None:
                raise ValueError("simple point requires a value")
            parts.append(struct.pack("<QQQ", addr_u, time_u, value & ((1 << 64) - 1)))
    return b"".join(parts)


def decode_batches(
    batches: Iterable[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """Decode the blobs in column 0 of each Arrow batch into one batch
    of points (:data:`POINT_SCHEMA_DDL`), in (blob position, in-blob
    index) order; ``value`` is NULL at extended points."""
    for batch in batches:
        parts = [decode_blob_columns(b)
                 for b in batch.column(0).to_pylist()] or [
            decode_blob_columns(b"")]
        addr, time, value = (np.concatenate([p[i] for p in parts])
                             for i in range(3))
        yield pa.RecordBatch.from_arrays([
            pa.array(addr), pa.array(time),
            pa.array(value, mask=(addr & 1).astype(bool)),
            pa.array([x for p in parts for x in p[3]], pa.binary()),
        ], names=["address", "time", "value", "payload"])


def decode_wire_df(blobs: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Decode a DataFrame of wire blobs into a points DataFrame, one
    ``mapInArrow`` (:func:`decode_batches`) over ``blob_col``."""
    return blobs.select(blob_col).mapInArrow(decode_batches,
                                             POINT_SCHEMA_DDL)
