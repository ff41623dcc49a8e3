import hashlib
import pickle

import numpy as np

from perfbench import gen


def digest(obj) -> str:
    return hashlib.sha256(pickle.dumps(obj, protocol=4)).hexdigest()


def all_inputs(seed: int):
    docs, planted = gen.documents(seed)
    return [
        [gen.ts_batch(seed, b) for b in range(3)],
        [gen.ts_reads(seed, r) for r in range(3)],
        gen.kv_initial(seed),
        [gen.kv_merge(seed, r) for r in range(3)],
        [gen.kv_lookups(seed, r, gen.kv_merge(seed, r)[0]) for r in range(3)],
        docs, planted, gen.embeddings(seed),
        [gen.ann_queries(seed, r, i) for r in range(2) for i in range(2)],
    ]


def test_same_seed_gives_byte_identical_inputs():
    assert digest(all_inputs(7)) == digest(all_inputs(7))
    assert digest(all_inputs(7)) != digest(all_inputs(8))


def test_ts_batch_shape():
    addr, time, value, payload = gen.ts_batch(5, 3)
    n = gen.BATCH_POINTS
    assert len(addr) == len(time) == len(value) == len(payload)
    assert len(addr) == n + int(n * gen.DUP)
    ext = (addr & 1).astype(bool)
    assert 0.08 < ext.mean() < 0.17
    assert all((p is not None) == e for p, e in zip(payload, ext))
    assert all(16 <= len(p) <= 256 for p in payload[:n] if p is not None)
    # fresh points are unique; the duplicates repeat batch 2's keys
    keys = set(zip(addr[:n].tolist(), time[:n].tolist()))
    assert len(keys) == n
    prev = set(zip(*[a.tolist() for a in gen.ts_batch(5, 2)[:2]]))
    assert set(zip(addr[n:].tolist(), time[n:].tolist())) <= prev
    # about LATE of the points fall before this batch's window
    late = time[:n] < gen.window_times(3, 3)[0]
    assert abs(late.mean() - gen.LATE) < 0.01


def test_point_model_is_first_write_wins():
    m = gen.PointModel()
    m.apply(np.array([2, 3]), np.array([10, 10]), np.array([1, 0]),
            [None, b"first"])
    m.apply(np.array([2, 3]), np.array([10, 10]), np.array([9, 0]),
            [None, b"second"])
    assert m.expect([2, 3], 0, 20) == [(2, 10, 1), (3, 10, b"first")]
    assert m.wire_bytes == 4 * 24 + len(b"first") + len(b"second")
    assert gen.checksum(m.expect([2, 3], 0, 20)) == gen.checksum(
        [(3, 10, b"first"), (2, 10, 1)])
    assert gen.checksum([(2, 10, 1)]) != gen.checksum([(2, 10, 2)])


def test_kv_fold_appends_in_batch_order():
    model = {1: b"a"}
    gen.fold_merge(model, np.array([1, 3, 1]), [b"b", b"x", b"c"])
    assert model == {1: b"a|b|c", 3: b"x"}


def test_planted_duplicates_and_ann_reference():
    docs, planted = gen.documents(3)
    assert len(docs["doc_id"]) == gen.N_DOCS
    assert 0.03 * gen.N_DOCS < len(planted) < 0.07 * gen.N_DOCS
    for base, dup, rate in planted[:20]:
        a, b = docs["text"][base].split(), docs["text"][dup].split()
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) <= max(3, 4 * rate * len(a))
    ids, vecs = gen.embeddings(3)
    qids, q = gen.ann_queries(3, 0, 0)
    assert min(qids) > ids.max()
    top = gen.exact_topk(ids, vecs, vecs[:2], 1)
    assert top == [{int(ids[0])}, {int(ids[1])}]
