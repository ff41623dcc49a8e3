"""Seeded input generators and the models outputs are checked against.

Everything here is numpy/pyarrow only: the package under test receives
the generated inputs, never the seed.  Every generator is a pure
function of ``(seed, index)``, so the same seed gives byte-identical
inputs however many rounds a run gets through.
"""

from __future__ import annotations

import zlib

import numpy as np

TS, KV, LLM = 1, 2, 3

_M64 = (1 << 64) - 1


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def checksum(rows) -> tuple[int, int]:
    """(row count, order-free sum of a per-row mix of (address, time,
    value-or-payload)) — compares a read's rows with the model's."""
    total = 0
    n = 0
    for a, t, v in rows:
        if isinstance(v, (bytes, bytearray)):
            v = zlib.crc32(v) | (len(v) << 32)
        total += (int(a) * 0x9E3779B97F4A7C15
                  ^ int(t) * 0xC2B2AE3D27D4EB4F
                  ^ int(v) * 0x165667B19E3779F9) & _M64
        n += 1
    return n, total & _M64


# ------------------------------------------------------ ts_ingest_scan

T0 = 1_700_000_000_000_000
#: time = T0 + tick * LANES + batch: two batches never share a time, so
#: (address, time) repeats only where a duplicate is planted on purpose.
LANES = 1024
N_SERIES = 4000
BATCH_POINTS = 12_000
WINDOW = 4 * BATCH_POINTS           # on-time ticks of one batch
LATE = 0.05
DUP = 0.02
EXT_EVERY = 8
BLOB_POINTS = 500                   # points per wire blob (write_encoded)
SCAN_SERIES = 200
SCAN_BATCHES = 4


def series_address(s):
    """Series ``s``'s address; every EXT_EVERY-th series is extended
    (address bit 0 set)."""
    return 2 * s + (s % EXT_EVERY == 0)


def _fresh(seed: int, b: int, n: int):
    r = rng(seed, TS, b)
    s = r.integers(0, N_SERIES, n)
    addr = series_address(s).astype(np.int64)
    n_late = int(n * LATE) if b else 0
    on = r.choice(WINDOW, n - n_late, replace=False) + b * WINDOW
    late = (r.choice(b * WINDOW, n_late, replace=False) if n_late
            else np.empty(0, np.int64))
    ticks = np.concatenate([on, late])[r.permutation(n)]
    time = (T0 + ticks * LANES + b).astype(np.int64)
    value = r.integers(0, 1 << 62, n, dtype=np.int64)
    lens = r.integers(16, 257, n)
    payload = [r.bytes(int(k)) if a & 1 else None
               for a, k in zip(addr.tolist(), lens.tolist())]
    return addr, time, value, payload


def ts_batch(seed: int, b: int, n: int = BATCH_POINTS):
    """Batch ``b``: ``(address, time, value, payload)`` — int64 arrays
    plus a payload list (bytes for extended points, None otherwise).
    About LATE of the points land in older batch windows and DUP of
    them re-send an (address, time) of batch ``b - 1`` with a new
    value, which first-write-wins must ignore."""
    addr, time, value, payload = _fresh(seed, b, n)
    if b == 0:
        return addr, time, value, payload
    r = rng(seed, TS, b, 1)
    paddr, ptime, _, _ = _fresh(seed, b - 1, n)
    pick = r.choice(n, int(n * DUP), replace=False)
    daddr, dtime = paddr[pick], ptime[pick]
    dvalue = r.integers(0, 1 << 62, len(pick), dtype=np.int64)
    dpay = [r.bytes(24) if a & 1 else None for a in daddr.tolist()]
    return (np.concatenate([addr, daddr]), np.concatenate([time, dtime]),
            np.concatenate([value, dvalue]), payload + dpay)


def window_times(lo_batch: int, hi_batch: int) -> tuple[int, int]:
    """Closed time range covering the windows of batches lo..hi."""
    return (T0 + lo_batch * WINDOW * LANES,
            T0 + (hi_batch + 1) * WINDOW * LANES - 1)


def ts_reads(seed: int, r: int):
    """Round ``r``'s reads: after each of its two batches a read_simple
    and a read_extended of 8 series each — 80% over the window of the
    batch just written, 20% over an older one — and one iter_chunks_arrow
    scan of SCAN_SERIES simple series over the last SCAN_BATCHES
    windows.  Returns ``(pair, pair, scan)``, each read as ``(start,
    end, addresses)``."""
    g = rng(seed, TS, 1_000_000 + r)
    simple = np.flatnonzero(np.arange(N_SERIES) % EXT_EVERY)
    extended = np.flatnonzero(np.arange(N_SERIES) % EXT_EVERY == 0)

    def pick(series: np.ndarray, k: int) -> list[int]:
        return sorted(series_address(g.choice(series, k, replace=False))
                      .tolist())

    def read(series: np.ndarray, newest: int):
        b = newest if g.random() < 0.8 or newest == 0 else int(
            g.integers(0, newest))
        return (*window_times(b, b), pick(series, 8))

    pairs = [(read(simple, b), read(extended, b)) for b in (2 * r, 2 * r + 1)]
    newest = 2 * r + 1
    scan = (*window_times(max(0, newest - SCAN_BATCHES + 1), newest),
            pick(simple, SCAN_SERIES))
    return pairs[0], pairs[1], scan


class PointModel:
    """First-write-wins model of the store: (address, time) keeps the
    first value ever written."""

    def __init__(self):
        self.series: dict[int, dict[int, object]] = {}
        self.wire_bytes = 0

    def apply(self, addr, time, value, payload) -> None:
        for a, t, v, p in zip(addr.tolist(), time.tolist(), value.tolist(),
                              payload):
            d = self.series.setdefault(a, {})
            if t not in d:
                d[t] = p if a & 1 else v
            self.wire_bytes += 24 + (len(p) if a & 1 else 0)

    def expect(self, addrs, start: int, end: int):
        return [(a, t, v) for a in addrs
                for t, v in self.series.get(a, {}).items()
                if start <= t <= end]


# ---------------------------------------------------- kv_upsert_lookup

N_KEYS = 20_000
ZIPF_A = 1.2
LOOKUPS_PER_ROUND = 2


def kv_keys() -> np.ndarray:
    return np.arange(N_KEYS, dtype=np.int64) * 2 + 1     # odd: KV keys


def kv_initial(seed: int):
    """``(keys, values)`` for the initial insert_bulk: values 16-64 B."""
    g = rng(seed, KV, 0)
    lens = g.integers(16, 65, N_KEYS)
    return kv_keys(), [g.bytes(int(k)) for k in lens]


def kv_merge(seed: int, r: int):
    """Round ``r``'s merge batch: ``(key, value)`` updates drawn
    Zipf-skewed over a seed-fixed key permutation (repeats allowed;
    they fold in list order).  The batch size cycles 64, 128, 192, 256
    with the round, the same for every seed."""
    perm = rng(seed, KV, 0, 1).permutation(N_KEYS)
    g = rng(seed, KV, 1 + r)
    m = 64 * (1 + r % 4)
    ranks = (g.zipf(ZIPF_A, m) - 1) % N_KEYS
    keys = kv_keys()[perm[ranks]]
    values = [g.bytes(int(k)) for k in g.integers(8, 25, m)]
    return keys, values


def kv_lookups(seed: int, r: int, merged: np.ndarray) -> list[int]:
    """LOOKUPS_PER_ROUND keys: 80% from those just merged, 20% uniform
    over all."""
    g = rng(seed, KV, 1_000_000 + r)
    return [int(g.choice(merged)) if g.random() < 0.8
            else int(kv_keys()[g.integers(0, N_KEYS)])
            for _ in range(LOOKUPS_PER_ROUND)]


def append_merge(new: bytes, old: bytes) -> bytes:
    return old + b"|" + new


def fold_merge(model: dict, keys, values) -> None:
    """The dict model of merge_into with :func:`append_merge`."""
    for k, v in zip(keys.tolist(), values):
        model[k] = append_merge(v, model[k]) if k in model else v


# ------------------------------------------------------- llm_dedup_ann

N_DOCS = 2000
VOCAB = 5000
DOC_WORDS = (40, 120)
PLANT_SHARE = 0.05
EDIT_RATES = (0.01, 0.02, 0.03)
N_VECS = 10_000
DIM = 64
MIXTURE = 32
PROBE_QUERIES = 16
PROBES_PER_ROUND = 1


def documents(seed: int):
    """``documents``-schema columns plus the planted near-duplicate
    pairs ``[(base_id, dup_id, edit_rate)]``: PLANT_SHARE of the docs
    copy an earlier doc with words substituted at an EDIT_RATES rate;
    the rest draw words from a Zipf vocabulary."""
    g = rng(seed, LLM, 0)
    words = np.array([f"w{i:x}" for i in range(VOCAB)])
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    docs: list[list[str]] = []
    planted = []
    for d in range(N_DOCS):
        if d > 10 and g.random() < PLANT_SHARE:
            base = int(g.integers(0, d))
            rate = EDIT_RATES[int(g.integers(0, len(EDIT_RATES)))]
            ws = list(docs[base])
            for i in np.flatnonzero(g.random(len(ws)) < rate).tolist():
                ws[i] = words[g.integers(0, VOCAB)]
            planted.append((base, d, rate))
        else:
            ws = words[g.choice(VOCAB, int(g.integers(*DOC_WORDS)),
                                p=p)].tolist()
        docs.append(ws)
    text = [" ".join(ws) for ws in docs]
    cols = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": text,
        "lang": ["en"] * N_DOCS,
        "source": [f"src{d % 7}" for d in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }
    return cols, planted


def _mixture(g: np.random.Generator, centers: np.ndarray, n: int):
    comp = g.integers(0, len(centers), n)
    return (centers[comp] + g.standard_normal((n, DIM))).astype(np.float32)


def embeddings(seed: int):
    """``(vec_ids, vectors)``: N_VECS float32 DIM-d points from a
    Gaussian mixture; ids are a seeded permutation so the index's
    lowest-id centroid sample is spread over the mixture."""
    g = rng(seed, LLM, 1)
    centers = g.standard_normal((MIXTURE, DIM)) * 2.0
    ids = g.permutation(N_VECS).astype(np.int64)
    return ids, _mixture(g, centers, N_VECS)


def ann_queries(seed: int, r: int, i: int):
    """Probe batch ``i`` of round ``r``: PROBE_QUERIES vectors from the
    same mixture, ids above every corpus id."""
    centers = rng(seed, LLM, 1).standard_normal((MIXTURE, DIM)) * 2.0
    g = rng(seed, LLM, 2, r, i)
    q = _mixture(g, centers, PROBE_QUERIES)
    base = N_VECS + (r * 1000 + i) * PROBE_QUERIES
    return list(range(base, base + PROBE_QUERIES)), q


def exact_topk(ids: np.ndarray, vecs: np.ndarray, q: np.ndarray,
               k: int) -> list[set[int]]:
    """Brute-force cosine top-k (the recall reference)."""
    a = vecs.astype(np.float64)
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    b = q.astype(np.float64)
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    sims = b @ a.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return [set(ids[row].tolist()) for row in top]
