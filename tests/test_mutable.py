"""Mutable KV laws — ports tests/UnitTests.hs:75-88 and the
propMutableStore law (tests/FuzzyTests.hs:122-147)."""

import pytest
import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from rados_timestore_spark.mutable import MutableKV


def test_insert_overwrite_lookup(store):
    # UnitTests.hs:75-88: insert "Hi." then "I'm a duck" at key 0.
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    kv.insert(0, b"Hi.")
    kv.insert(0, b"I'm a duck")
    assert kv.lookup(0) == b"I'm a duck"


def test_lookup_missing_is_none(store):
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    assert kv.lookup(42) is None


def test_insert_with_merge(store):
    # Mutable.hs:83-103: written value = merge(new, existing).
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    kv.insert(4, b"a")
    out = kv.insert_with(lambda new, old: old + new, 4, b"b")
    assert out == b"ab"
    assert kv.lookup(4) == b"ab"


@pytest.mark.slow  # soak/fuzz: excluded from the default run (see pytest.ini)
def test_enumerate_latest_per_key(store):
    # propMutableStore: lookup/enumerate return the LAST insert per key.
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    rng = random.Random(42)
    expected = {}
    rows = []
    for i in range(40):
        k = rng.randrange(8)
        v = bytes(f"v{i}", "ascii")
        expected[k | 1] = v
        rows.append((k, v))
    # Bulk path (scalable variant of repeated insert).
    for k, v in rows:
        df = store.spark.createDataFrame([(k, bytearray(v))], "key long, value binary")
        kv.insert_bulk(df)
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == expected


def test_merge_with_folds_whole_chain(store):
    # Deferred-merge pattern: append raw deltas cheaply (no read-
    # modify-write like insertWith does), fold the chain at read time.
    # Equivalent end state to insertWith-per-delta, one Arrow pass.
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    kv.insert(2, b"a")
    kv.insert(2, b"b")
    kv.insert(2, b"c")
    got = {r.key: bytes(r.value) for r in
           kv.merge_with(lambda new, old: old + new).collect()}
    assert got == {3: b"abc"}


# ------------------------------------------- delete / vacuum (late r9)


def test_delete_tombstone_semantics(store):
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    kv.insert(2, b"a")
    kv.insert(4, b"keep")
    kv.delete(2)
    assert kv.lookup(2) is None
    assert kv.lookup(4) == b"keep"
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == {4 | 1: b"keep"}
    # resurrect: the new value must land ABOVE the tombstone
    kv.insert(2, b"b")
    assert kv.lookup(2) == b"b"
    # delete an absent key is a no-op
    kv.delete(99)
    assert kv.lookup(99) is None


def test_delete_restarts_merge_chain(store):
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    mrg = lambda new, old: old + new  # noqa: E731
    kv.insert(6, b"x")
    kv.insert_with(mrg, 6, b"y")     # chain: xy
    kv.delete(6)
    kv.insert_with(mrg, 6, b"z")     # fresh chain after tombstone
    assert kv.lookup(6) == b"z"
    folded = {r.key: bytes(r.value)
              for r in kv.merge_with(mrg).collect()}
    assert folded[6 | 1] == b"z"


def test_vacuum_reclaims_dead_versions_and_tombstones(store):
    import glob

    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    for i in range(6):
        kv.insert(2, f"v{i}".encode())   # 5 dead versions
    kv.insert(4, b"keep")
    kv.insert(8, b"dead")
    kv.delete(8)                          # tombstoned chain
    before = {r.key: bytes(r.value) for r in kv.enumerate().collect()}

    kv.vacuum()

    after = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert after == before == {2 | 1: b"v5", 4 | 1: b"keep"}
    assert kv.lookup(2) == b"v5" and kv.lookup(8) is None
    # at rest: exactly one surviving row per live key, zero for the
    # tombstoned chain
    pdir = store._points_dir(kv.ns)
    rows = store.spark.read.parquet(pdir)
    assert rows.count() == 2
    # the rewrite flipped a fresh generation and the store still
    # passes its integrity scrub
    assert "points_v" in pdir.rsplit("/", 1)[-1]
    rep = store.verify(kv.ns)
    assert rep["ok"], rep
    # re-insert after vacuum keeps versioning monotone
    kv.insert(2, b"v6")
    assert kv.lookup(2) == b"v6"


def test_delete_bulk_matches_sequential_deletes(store):
    from pyspark.sql import functions as F

    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    for k in range(8):
        kv.insert(k * 2, f"v{k}".encode())
    victims = store.spark.createDataFrame(
        [(0,), (4,), (99,)], "key long")  # 99 is absent -> no-op
    kv.delete_bulk(victims)
    got = {r.key for r in kv.enumerate().collect()}
    assert got == {(k * 2) | 1 for k in range(8)} - {0 | 1, 4 | 1}
    assert kv.lookup(0) is None and kv.lookup(4) is None
    assert kv.lookup(2) == b"v1"
    # resurrect above the bulk tombstone
    kv.insert(0, b"back")
    assert kv.lookup(0) == b"back"

# ------------------------------------------- ADVICE r10 fixes


def _chain_len(store, kv, key):
    from pyspark.sql import functions as F

    pdir = store._points_dir(kv.ns)
    return (store.spark.read.parquet(pdir)
            .filter(F.col("address") == (key | 1)).count())


def test_delete_is_idempotent_on_tombstoned_head(store):
    # ADVICE r9: a replayed takedown must not grow the dead chain —
    # a key whose head is already a tombstone gets no new tombstone.
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    kv.insert(2, b"a")
    kv.delete(2)
    n1 = _chain_len(store, kv, 2)
    kv.delete(2)
    kv.delete(2)
    assert _chain_len(store, kv, 2) == n1
    assert kv.lookup(2) is None
    # resurrection still lands above the (single) tombstone
    kv.insert(2, b"b")
    assert kv.lookup(2) == b"b"


def test_delete_bulk_is_idempotent_on_replay(store):
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    for k in (0, 2, 4):
        kv.insert(k, f"v{k}".encode())
    victims = store.spark.createDataFrame([(0,), (4,)], "key long")
    kv.delete_bulk(victims)
    lens = {k: _chain_len(store, kv, k) for k in (0, 4)}
    kv.delete_bulk(victims)  # replayed takedown list: no-op
    kv.delete_bulk(victims)
    assert {k: _chain_len(store, kv, k) for k in (0, 4)} == lens
    assert kv.lookup(2) == b"v2"


def test_vacuum_with_merge_preserves_merge_with(store):
    # ADVICE r9 (medium): plain vacuum destroys merge inputs for raw
    # insert_bulk chains; vacuum(merge=f) pre-folds the chain so
    # merge_with(f) is invariant — before == after — and a later
    # append folds on top exactly as the full chain would have.
    mrg = lambda new, old: old + new  # noqa: E731
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    rows = [(2, b"a"), (2, b"b"), (2, b"c"), (4, b"x"), (4, b"y")]
    kv.insert_bulk(store.spark.createDataFrame(
        [(k, bytearray(v)) for k, v in rows], "key long, value binary"))
    kv.insert(8, b"dead")
    kv.delete(8)
    before = {r.key: bytes(r.value) for r in kv.merge_with(mrg).collect()}
    assert before == {2 | 1: b"abc", 4 | 1: b"xy"}

    kv.vacuum(merge=mrg)

    after = {r.key: bytes(r.value) for r in kv.merge_with(mrg).collect()}
    assert after == before
    # chains collapsed to one row each; tombstoned chain gone
    pdir = store._points_dir(kv.ns)
    assert store.spark.read.parquet(pdir).count() == 2
    # lookup now returns the folded value (the documented fold-KV view)
    assert kv.lookup(2) == b"abc"
    # a later raw append still folds on top of the compacted value
    kv.insert_bulk(store.spark.createDataFrame(
        [(2, bytearray(b"d"))], "key long, value binary"))
    got = {r.key: bytes(r.value) for r in kv.merge_with(mrg).collect()}
    assert got[2 | 1] == b"abcd"
    rep = store.verify(kv.ns)
    assert rep["ok"], rep


def test_merge_into_differential_law(store):
    # VERDICT r9 #8: merge_into(b, f) then enumerate() must equal the
    # append-log derivation insert_bulk(b) then merge_with(f), across
    # raw chains (insert_bulk), merged chains (insert_with), fresh
    # keys, untouched keys, and tombstoned keys.
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("PONY", buckets=4)

    def seed(kv):
        kv.insert_bulk(store.spark.createDataFrame(
            [(2, bytearray(b"a")), (2, bytearray(b"b")),
             (4, bytearray(b"x"))], "key long, value binary"))
        kv.insert_with(mrg, 6, b"m1")
        kv.insert_with(mrg, 6, b"m2")
        kv.insert(8, b"dead")
        kv.delete(8)
        kv.insert(10, b"untouched")

    a = MutableKV(store, "PONY")
    seed(a)
    batch = store.spark.createDataFrame(
        [(2, bytearray(b"c"), 0), (2, bytearray(b"d"), 1),
         (8, bytearray(b"revived"), 2), (12, bytearray(b"fresh"), 3)],
        "key long, value binary, seq long")

    store.register_namespace("PONYB", buckets=4)
    b_kv = MutableKV(store, "PONYB")
    seed(b_kv)
    b_kv.insert_bulk(batch)
    want = {r.key: bytes(r.value) for r in b_kv.merge_with(mrg).collect()}

    a.merge_into(batch, mrg)
    # ADVICE r10: verify() DIRECTLY after merge_into — the merged heads
    # land at head_version + n_batch, which must advance the extended
    # watermark in the same generation flip (a later insert() masked a
    # beyond_watermark violation here before the fix).
    rep = store.verify(a.ns)
    assert rep["ok"], rep
    got = {r.key: bytes(r.value) for r in a.enumerate().collect()}
    # key 6's chain was written by insert_with, which stores MERGED
    # values per version, so the whole-chain fold is m1|(m1|m2) — the
    # documented merge_with semantics for pre-merged chains; the LAW
    # (merge_into == insert_bulk + merge_with) is what this test pins.
    assert got == want == {
        2 | 1: b"a|b|c|d", 4 | 1: b"x", 6 | 1: b"m1|m1|m2",
        8 | 1: b"revived", 10 | 1: b"untouched", 12 | 1: b"fresh",
    }
    # generation-swap: each surviving key holds exactly one version
    pdir = store._points_dir(a.ns)
    n = store.spark.read.parquet(pdir).count()
    assert n == 6
    # versions stay monotone: a later insert still wins
    a.insert(2, b"after")
    assert a.lookup(2) == b"after"
    rep = store.verify(a.ns)
    assert rep["ok"], rep
    # ADVICE r10 regression: a rescale cut straight after merge_into
    # must land ABOVE the merged heads (pre-fix the cut at stale
    # watermark+1 could sit beneath persisted rows — misplaced_epoch).
    store.rescale(a.ns, 8)
    a.insert(2, b"post-rescale")
    assert a.lookup(2) == b"post-rescale"
    rep = store.verify(a.ns)
    assert rep["ok"], rep


def test_merge_into_on_empty_kv_folds_the_batch(store):
    mrg = lambda new, old: old + new  # noqa: E731
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    batch = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0), (2, bytearray(b"b"), 1),
         (4, bytearray(b"z"), 2)],
        "key long, value binary, seq long")
    kv.merge_into(batch, mrg)
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == {2 | 1: b"ab", 4 | 1: b"z"}
    # law holds from empty too
    store.register_namespace("PONYC", buckets=4)
    c = MutableKV(store, "PONYC")
    c.insert_bulk(batch)
    want = {r.key: bytes(r.value) for r in c.merge_with(mrg).collect()}
    assert got == want


# ---------------------------- r10: model-based differential fuzz


def _fold(chain, mrg):
    acc = None
    for v in chain:
        if v is None:
            acc = None
            continue
        acc = v if acc is None else mrg(v, acc)
    return acc


class _ModelKV:
    """Value-sequence model of MutableKV: per key, the ordered list of
    written values (None = tombstone).  Versions never surface in any
    read API, so the list alone determines every observable."""

    def __init__(self):
        self.chains: dict[int, list] = {}

    def insert(self, key, v):
        self.chains.setdefault(key | 1, []).append(v)

    def insert_with(self, mrg, key, v):
        c = self.chains.setdefault(key | 1, [])
        head = c[-1] if c else None
        c.append(v if head is None else mrg(v, head))

    def insert_bulk(self, rows):  # [(key, value)] in seq order
        for k, v in rows:
            self.chains.setdefault(k | 1, []).append(v)

    def delete(self, key):
        c = self.chains.get(key | 1)
        if c and c[-1] is not None:
            c.append(None)

    def vacuum(self, mrg=None):
        out = {}
        for k, c in self.chains.items():
            head = _fold(c, mrg) if mrg else (c[-1] if c else None)
            if head is not None:
                out[k] = [head]
        self.chains = out

    def merge_into(self, rows, mrg):  # [(key, value)] in seq order
        folded = {k: _fold(c, mrg) for k, c in self.chains.items()}
        for k, v in rows:
            a = k | 1
            cur = folded.get(a)
            folded[a] = v if cur is None else mrg(v, cur)
        self.chains = {k: [v] for k, v in folded.items() if v is not None}

    def enumerate(self):
        return {k: c[-1] for k, c in self.chains.items()
                if c and c[-1] is not None}

    def merge_with(self, mrg):
        out = {}
        for k, c in self.chains.items():
            acc = _fold(c, mrg)
            if acc is not None:
                out[k] = acc
        return out


_KEYS = [0, 2, 4]
_VALS = [b"a", b"b", b"c"]
_OP = st.one_of(
    st.tuples(st.just("insert"), st.sampled_from(_KEYS),
              st.sampled_from(_VALS)),
    st.tuples(st.just("insert_with"), st.sampled_from(_KEYS),
              st.sampled_from(_VALS)),
    st.tuples(st.just("bulk"),
              st.lists(st.tuples(st.sampled_from(_KEYS),
                                 st.sampled_from(_VALS)),
                       min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.sampled_from(_KEYS)),
    st.tuples(st.just("vacuum")),
    st.tuples(st.just("vacuum_merge")),
    st.tuples(st.just("merge_into"),
              st.lists(st.tuples(st.sampled_from(_KEYS + [6]),
                                 st.sampled_from(_VALS)),
                       min_size=1, max_size=3)),
)


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # soak/fuzz: excluded from the default run (see pytest.ini)
@given(ops=st.lists(_OP, min_size=1, max_size=6))
def test_mutable_kv_differential_fuzz(spark, tmp_path_factory, ops):
    _kv_differential(spark, tmp_path_factory, ops)


@settings(
    max_examples=1, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(ops=[("bulk", [(0, b"a"), (2, b"b"), (4, b"c")]),
              ("merge_into", [(0, b"c"), (6, b"a")]),
              ("merge_into", [(2, b"b")]),
              ("insert_with", 2, b"c"), ("delete", 4),
              ("vacuum_merge",)])
@given(ops=st.lists(_OP, min_size=1, max_size=6))
def test_mutable_kv_differential_fuzz_smoke(spark, tmp_path_factory, ops):
    # default-run twin of the fuzz above: one drawn program, plus one
    # that folds raw chains with merge_into, runs a steady (pruned)
    # merge on the folded view, appends raw over it and vacuums
    _kv_differential(spark, tmp_path_factory, ops)


def _kv_differential(spark, tmp_path_factory, ops):
    # Every public mutation in one random program, engine vs the
    # value-sequence model; observables (enumerate, merge_with,
    # lookup) must agree after the full program.  The merge is
    # order-sensitive (old|new), so any version-ordering or
    # fold-boundary bug shows up as a byte diff.
    from rados_timestore_spark.store import TimeStore

    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store = TimeStore(spark, str(tmp_path_factory.mktemp("kvfuzz")))
    store.register_namespace("F", buckets=4)
    kv = MutableKV(store, "F")
    model = _ModelKV()
    for op in ops:
        if op[0] == "insert":
            kv.insert(op[1], op[2])
            model.insert(op[1], op[2])
        elif op[0] == "insert_with":
            kv.insert_with(mrg, op[1], op[2])
            model.insert_with(mrg, op[1], op[2])
        elif op[0] == "bulk":
            rows = [(k, bytearray(v), i) for i, (k, v) in enumerate(op[1])]
            kv.insert_bulk(store.spark.createDataFrame(
                rows, "key long, value binary, seq long"))
            model.insert_bulk(op[1])
        elif op[0] == "delete":
            kv.delete(op[1])
            model.delete(op[1])
        elif op[0] == "vacuum":
            kv.vacuum()
            model.vacuum()
        elif op[0] == "vacuum_merge":
            kv.vacuum(merge=mrg)
            model.vacuum(mrg)
        elif op[0] == "merge_into":
            rows = [(k, bytearray(v), i) for i, (k, v) in enumerate(op[1])]
            kv.merge_into(store.spark.createDataFrame(
                rows, "key long, value binary, seq long"), mrg)
            model.merge_into(op[1], mrg)

    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == model.enumerate()
    folded = {r.key: bytes(r.value) for r in kv.merge_with(mrg).collect()}
    assert folded == model.merge_with(mrg)
    for k in _KEYS + [6, 8]:
        want = model.chains.get(k | 1)
        want_head = want[-1] if want else None
        assert kv.lookup(k) == want_head


def test_merge_into_associative_fast_path_law(store):
    # VERDICT r10 #4: the opt-in associative=True pre-fold must equal
    # BOTH the order-dependent one-task-per-key fold and the
    # insert_bulk + merge_with derivation for a commutative-
    # associative merge (set-union over sorted tokens here).
    def mrg(new, old):
        toks = set(old.split(b"|")) | set(new.split(b"|"))
        return b"|".join(sorted(toks))

    def seed(kv):
        kv.insert_bulk(store.spark.createDataFrame(
            [(2, bytearray(b"a")), (2, bytearray(b"b")),
             (4, bytearray(b"x"))], "key long, value binary"))
        kv.insert_with(mrg, 6, b"m1")
        kv.insert_with(mrg, 6, b"m2")
        kv.insert(8, b"dead")
        kv.delete(8)
        kv.insert(10, b"untouched")

    batch = store.spark.createDataFrame(
        [(2, bytearray(b"c"), 0), (2, bytearray(b"d"), 1),
         (8, bytearray(b"revived"), 2), (12, bytearray(b"fresh"), 3)],
        "key long, value binary, seq long")

    outs = {}
    for name, assoc in (("FAST", True), ("SLOW", False)):
        store.register_namespace(name, buckets=4)
        kv = MutableKV(store, name)
        seed(kv)
        kv.merge_into(batch, mrg, associative=assoc, salt=4)
        rep = store.verify(kv.ns)
        assert rep["ok"], rep
        outs[name] = {r.key: bytes(r.value)
                      for r in kv.enumerate().collect()}
        # generation-swap compaction: one version per surviving key
        n = store.spark.read.parquet(store._points_dir(kv.ns)).count()
        assert n == 6, (name, n)

    store.register_namespace("REF", buckets=4)
    ref = MutableKV(store, "REF")
    seed(ref)
    ref.insert_bulk(batch)
    want = {r.key: bytes(r.value) for r in ref.merge_with(mrg).collect()}
    assert outs["FAST"] == outs["SLOW"] == want
    assert outs["FAST"][2 | 1] == b"a|b|c|d"
    assert outs["FAST"][8 | 1] == b"revived"
    assert outs["FAST"][12 | 1] == b"fresh"
    # versions stay monotone after the fast path too
    kvf = MutableKV(store, "FAST")
    kvf.insert(2, b"after")
    assert kvf.lookup(2) == b"after"


def test_merge_into_associative_from_empty(store):
    def mrg(new, old):
        toks = set(old.split(b"|")) | set(new.split(b"|"))
        return b"|".join(sorted(toks))

    batch = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0), (2, bytearray(b"b"), 1),
         (4, bytearray(b"z"), 2)],
        "key long, value binary, seq long")
    store.register_namespace("FE", buckets=4)
    kv = MutableKV(store, "FE")
    kv.merge_into(batch, mrg, associative=True, salt=4)
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == {2 | 1: b"a|b", 4 | 1: b"z"}
    # versions match the sequential-insert placement (n_batch - 1)
    vers = {r.key: r.time for r in kv.enumerate_versions().collect()}
    assert vers == {2 | 1: 1, 4 | 1: 0}


def test_merge_into_batch_fence_exactly_once(store):
    # r11: merge_into(batch_id=N) is the exactly-once streaming MERGE
    # primitive (the store-side analog of VectorIndex.append_batch's
    # last_batch_id fence).  A replayed batch — any path, any params —
    # is a no-op; the fence commits inside the SAME CAS flip as the
    # merged generation.
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("FENCE", buckets=4)
    kv = MutableKV(store, "FENCE")
    b0 = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0), (4, bytearray(b"x"), 1)],
        "key long, value binary, seq long")
    # fenced FIRST batch on an EMPTY KV: data and fence must land in
    # one flip (the degenerate write_points shortcut is unfenced-only)
    kv.merge_into(b0, mrg, batch_id=0)
    once = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert once == {3: b"a", 5: b"x"}
    kv.merge_into(b0, mrg, batch_id=0)                     # replay
    kv.merge_into(b0, mrg, associative=True, batch_id=0)   # replay
    assert {r.key: bytes(r.value)
            for r in kv.enumerate().collect()} == once
    b1 = store.spark.createDataFrame(
        [(2, bytearray(b"b"), 0)], "key long, value binary, seq long")
    kv.merge_into(b1, mrg, batch_id=1)
    kv.merge_into(b1, mrg, batch_id=1)                     # replay
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == {3: b"a|b", 5: b"x"}
    assert store.verify(kv.ns)["ok"]
    # sanity: an UNFENCED replay double-applies — the hazard the
    # fence exists to close
    kv.merge_into(b1, mrg)
    assert kv.lookup(2) == b"a|b|b"


def test_merge_into_fence_assoc_on_empty_kv(store):
    # the associative path under a fence, first batch on empty KV
    mrg = lambda new, old: bytes([(new[0] + old[0]) % 256])  # noqa: E731
    store.register_namespace("FENCEA", buckets=4)
    kv = MutableKV(store, "FENCEA")
    b0 = store.spark.createDataFrame(
        [(2, bytearray(b"\x01"), 0), (2, bytearray(b"\x02"), 1),
         (4, bytearray(b"\x05"), 2)],
        "key long, value binary, seq long")
    kv.merge_into(b0, mrg, associative=True, batch_id=7)
    assert kv.lookup(2) == b"\x03" and kv.lookup(4) == b"\x05"
    kv.merge_into(b0, mrg, associative=True, batch_id=7)   # replay
    assert kv.lookup(2) == b"\x03"
    # stale batch ids below the fence are ALSO no-ops
    kv.merge_into(b0, mrg, batch_id=3)
    assert kv.lookup(2) == b"\x03"
    assert store.verify(kv.ns)["ok"]


def test_merge_into_app_scoped_fence(store):
    # r12 (ADVICE r11): micro-batch ids are only monotone WITHIN one
    # checkpoint lineage — restarting a stream with a NEW checkpoint
    # restarts them at 0, and the unscoped fence would silently skip
    # the new lineage's batches (silent data loss).  app_id keys the
    # fence per lineage (Delta's (txnAppId, txnVersion) pattern).
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("FENCEK", buckets=4)
    kv = MutableKV(store, "FENCEK")
    b0 = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0)], "key long, value binary, seq long")
    kv.merge_into(b0, mrg, batch_id=5, app_id="stream-A")
    assert kv.lookup(2) == b"a"
    # same lineage, replayed/stale ids: fenced no-ops
    kv.merge_into(b0, mrg, batch_id=5, app_id="stream-A")
    kv.merge_into(b0, mrg, batch_id=0, app_id="stream-A")
    assert kv.lookup(2) == b"a"
    # NEW lineage (fresh checkpoint): batch 0 must APPLY, not skip —
    # exactly the case the unscoped fence gets wrong
    kv.merge_into(b0, mrg, batch_id=0, app_id="stream-B")
    assert kv.lookup(2) == b"a|a"
    # lineages are independent: A's fence (5) unaffected by B's (0)
    b1 = store.spark.createDataFrame(
        [(2, bytearray(b"c"), 0)], "key long, value binary, seq long")
    kv.merge_into(b1, mrg, batch_id=6, app_id="stream-A")
    assert kv.lookup(2) == b"a|a|c"
    # fences survive the meta round-trip
    m = store._read_meta(kv.ns)
    assert m.merge_fences == {"stream-A": 6, "stream-B": 0}
    # and the unscoped fence is untouched by keyed merges
    assert m.merge_batch_id == -1
    # app_id without batch_id is a contract error
    import pytest
    with pytest.raises(ValueError, match="requires a batch_id"):
        kv.merge_into(b1, mrg, app_id="stream-A")
    assert store.verify(kv.ns)["ok"]


def test_merge_into_rejects_null_values(store):
    # r12 (ADVICE r11): a NULL update value used to crash bytes()
    # deep in an executor with a bare TypeError; under a fence the
    # poison batch then failed every redelivery without advancing the
    # fence.  Now an in-plan raise_error on the batch projection —
    # zero extra pass (a driver-side pre-check would re-evaluate the
    # updates plan once per merge) — fires with a clear keyed message
    # BEFORE any commit point, on BOTH fold paths and the empty-KV
    # shortcut.
    import pytest

    mrg = lambda new, old: old + new  # noqa: E731
    store.register_namespace("FENCEN", buckets=4)
    kv = MutableKV(store, "FENCEN")
    kv.insert(2, b"seed")
    bad = store.spark.createDataFrame(
        [(2, bytearray(b"x"), 0), (4, None, 1)],
        "key long, value binary, seq long")
    for kw in ({}, {"associative": True}, {"batch_id": 0}):
        with pytest.raises(Exception, match="NULL update value for key 4"):
            kv.merge_into(bad, mrg, **kw)
    # nothing was applied, no fence advanced, store still healthy
    # (the abort leaves at most an unflipped orphan generation)
    assert kv.lookup(2) == b"seed" and kv.lookup(4) is None
    assert store._read_meta(kv.ns).merge_batch_id == -1
    good = store.spark.createDataFrame(
        [(2, bytearray(b"y"), 0)], "key long, value binary, seq long")
    kv.merge_into(good, mrg, batch_id=0)
    assert kv.lookup(2) == b"seedy"
    # the empty-KV shortcut path is guarded too
    kv2 = MutableKV(store, "FENCEN2")
    with pytest.raises(Exception, match="NULL update value for key 4"):
        kv2.merge_into(bad, mrg)
    assert kv2.lookup(4) is None


def test_merge_fence_upgrade_seeds_from_legacy(store):
    # ADVICE r12 #1: an existing deployment running UNKEYED fenced
    # merges (legacy merge_batch_id) upgrades in place — the stream
    # resumes the SAME checkpoint, now keyed per lineage, and the
    # redelivered in-flight micro-batch (id <= legacy fence) would
    # check a fresh -1 lineage fence and double-apply.  The FIRST
    # keyed merge seeds its lineage fence from the legacy one (max of
    # the two), ONCE.
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("MIGR", buckets=4)
    kv = MutableKV(store, "MIGR")
    b = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0)], "key long, value binary, seq long")
    # legacy unkeyed history: batches 0..2 committed
    for i in range(3):
        kv.merge_into(b, mrg, batch_id=i)
    assert kv.lookup(2) == b"a|a|a"
    assert store._read_meta(kv.ns).merge_batch_id == 2

    # upgrade in place: same checkpoint redelivers its in-flight
    # batch (id 2) under the NEW lineage key — must stay skipped
    kv.merge_into(b, mrg, batch_id=2, app_id="q-upgraded")
    assert kv.lookup(2) == b"a|a|a"      # NOT double-applied
    m = store._read_meta(kv.ns)
    assert m.merge_fences == {"q-upgraded": 2}
    assert m.merge_fences_migrated

    # the lineage continues normally past the seeded fence
    kv.merge_into(b, mrg, batch_id=3, app_id="q-upgraded")
    assert kv.lookup(2) == b"a|a|a|a"

    # a LATER new lineage (checkpoint reset, ids back at 0) must NOT
    # inherit — seeding is one-shot, or the silent-skip the keying
    # fixed comes back
    kv.merge_into(b, mrg, batch_id=0, app_id="q-reset")
    assert kv.lookup(2) == b"a|a|a|a|a"  # applied
    assert store.verify(kv.ns)["ok"]


def test_merge_fence_upgrade_seed_applies_on_fresh_batch_too(store):
    # same upgrade, but the first keyed merge is a NEW batch id above
    # the legacy fence: it must apply AND commit the migration marker
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("MIGR2", buckets=4)
    kv = MutableKV(store, "MIGR2")
    b = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0)], "key long, value binary, seq long")
    kv.merge_into(b, mrg, batch_id=4)            # legacy fence -> 4
    kv.merge_into(b, mrg, batch_id=5, app_id="q-up")
    assert kv.lookup(2) == b"a|a"
    m = store._read_meta(kv.ns)
    assert m.merge_fences["q-up"] == 5 and m.merge_fences_migrated
    # a replay of the legacy in-flight batch under the new key is
    # fenced by the inherited floor
    kv.merge_into(b, mrg, batch_id=4, app_id="q-up")
    assert kv.lookup(2) == b"a|a"
    # and a later lineage starts clean
    kv.merge_into(b, mrg, batch_id=0, app_id="q-later")
    assert kv.lookup(2) == b"a|a|a"


@pytest.mark.slow  # soak/fuzz: excluded from the default run (see pytest.ini)
def test_merge_fences_lru_capped(store):
    # ADVICE r12 #4: lineage fences accumulate one entry per
    # checkpoint reset forever; the LRU cap bounds the meta document.
    from rados_timestore_spark.fsutil import MAX_FENCE_LINEAGES

    mrg = lambda new, old: new  # noqa: E731
    store.register_namespace("LRU", buckets=4)
    kv = MutableKV(store, "LRU")
    b = store.spark.createDataFrame(
        [(2, bytearray(b"v"), 0)], "key long, value binary, seq long")
    n = MAX_FENCE_LINEAGES + 6
    for i in range(n):
        kv.merge_into(b, mrg, batch_id=0, app_id=f"app-{i:03d}")
    fences = store._read_meta(kv.ns).merge_fences
    assert len(fences) == MAX_FENCE_LINEAGES
    # the oldest-advanced lineages were evicted, the newest survive
    assert f"app-{n-1:03d}" in fences and "app-000" not in fences
    # advancing an existing lineage refreshes its recency
    kv.merge_into(b, mrg, batch_id=1, app_id=f"app-{n-MAX_FENCE_LINEAGES:03d}")
    kv.merge_into(b, mrg, batch_id=0, app_id="app-new")
    fences = store._read_meta(kv.ns).merge_fences
    assert f"app-{n-MAX_FENCE_LINEAGES:03d}" in fences  # refreshed, kept


def test_merge_fence_new_lineage_at_upgrade_time_applies(store):
    # r13 review finding: an operator who upgrades AND resets the
    # checkpoint in the same maintenance window presents a NEW
    # lineage's batch 0 against a legacy fence > 0 — inheritance must
    # NOT trigger (only an id equal to the legacy fence is the
    # resumed-checkpoint replay; foreachBatch redelivers only the
    # LAST batch within a lineage).
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("MIGR3", buckets=4)
    kv = MutableKV(store, "MIGR3")
    b = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0)], "key long, value binary, seq long")
    for i in range(3):                       # legacy fence -> 2
        kv.merge_into(b, mrg, batch_id=i)
    assert kv.lookup(2) == b"a|a|a"
    # new checkpoint, batch 0: APPLIES (0 != legacy fence 2)
    kv.merge_into(b, mrg, batch_id=0, app_id="q-new")
    assert kv.lookup(2) == b"a|a|a|a"
    m = store._read_meta(kv.ns)
    assert m.merge_fences == {"q-new": 0}
    assert m.merge_fences_migrated           # one-shot marker set
    # ...so a LATER lineage whose ids reach the legacy fence value
    # cannot falsely inherit it
    kv.merge_into(b, mrg, batch_id=2, app_id="q-later")
    assert kv.lookup(2) == b"a|a|a|a|a"


def test_merge_fence_inheritance_warns(store):
    # ADVICE r14 #4: when the one-shot legacy-fence inheritance fires,
    # the skipped batch may (legacy fence exactly 0) be a genuinely
    # new lineage's batch 0 — operators need a visible signal, not a
    # silent no-op.
    import warnings

    import pytest

    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    store.register_namespace("MIGRW", buckets=4)
    kv = MutableKV(store, "MIGRW")
    b = store.spark.createDataFrame(
        [(2, bytearray(b"a"), 0)], "key long, value binary, seq long")
    kv.merge_into(b, mrg, batch_id=0)        # legacy fence -> 0
    with pytest.warns(UserWarning, match="inherits the legacy"):
        kv.merge_into(b, mrg, batch_id=0, app_id="q-maybe-new")
    assert kv.lookup(2) == b"a"              # conservative skip stands
    # the non-inheriting path stays silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        kv.merge_into(b, mrg, batch_id=1, app_id="q-maybe-new")
    assert kv.lookup(2) == b"a|a"


def test_merge_into_steady_state_fold_skip(store):
    # r14 (VERDICT r13 #6): after a merge/vacuum, every chain is one
    # row (meta.kv_folded) and a later merge must (a) keep untouched
    # keys' ROWS byte-identical, (b) never invoke the merge fn for
    # them — the fold machinery handles only batch keys — and (c)
    # stay semantically identical to the slow path (the differential
    # law's fold-everything contract holds trivially because the
    # untouched fold is the identity on one-row chains).
    import pyspark.sql.functions as F

    store.register_namespace("STEADY", buckets=4)
    kv = MutableKV(store, "STEADY")
    rows = [(k, bytearray(f"v{k}".encode()), k) for k in range(0, 40, 2)]
    kv.insert_bulk(store.spark.createDataFrame(
        rows, "key long, value binary, seq long"))
    assert not store._read_meta(kv.ns).kv_folded

    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    first = store.spark.createDataFrame(
        [(2, bytearray(b"A"), 0)], "key long, value binary, seq long")
    kv.merge_into(first, mrg)
    assert store._read_meta(kv.ns).kv_folded       # steady state now

    pdir = store._points_dir(kv.ns)
    before = {
        r.address: (r.time, bytes(r.payload), r.seq, r.value)
        for r in store.spark.read.parquet(pdir).collect()
        if r.address != (2 | 1)
    }

    # the fast path must not call merge for untouched keys: poison
    # the fn for any OLD value that is not key 4's or the batch's
    def strict_mrg(new, old):
        ok = old.startswith(b"v4") or new == b"B"
        assert ok, f"merge invoked for untouched chain: {old!r}|{new!r}"
        return old + b"|" + new

    second = store.spark.createDataFrame(
        [(4, bytearray(b"B"), 0)], "key long, value binary, seq long")
    kv.merge_into(second, strict_mrg)
    assert store._read_meta(kv.ns).kv_folded

    after = {
        r.address: (r.time, bytes(r.payload), r.seq, r.value)
        for r in store.spark.read.parquet(store._points_dir(kv.ns))
        .collect() if r.address not in (2 | 1, 4 | 1)
    }
    assert {a: v for a, v in before.items() if a != (4 | 1)} == after
    assert kv.lookup(4) == b"v4|B"
    assert kv.lookup(2) == b"v2|A"
    assert kv.lookup(6) == b"v6"
    assert store.verify(kv.ns)["ok"]

    # a raw append clears the flag: the next merge takes the full
    # fold (key 6's two-row chain folds — old|new over the chain)
    kv.insert(6, b"raw")
    assert not store._read_meta(kv.ns).kv_folded
    kv.merge_into(first, mrg)   # unfenced re-merge of key 2
    assert kv.lookup(6) == b"v6|raw"               # chain folded
    assert store._read_meta(kv.ns).kv_folded


def test_merge_into_steady_state_assoc_path(store):
    # the associative fast path under the same steady-state skip
    import pyspark.sql.functions as F

    store.register_namespace("STEADYA", buckets=4)
    kv = MutableKV(store, "STEADYA")
    kv.insert_bulk(store.spark.createDataFrame(
        [(k, bytearray(f"s{k}".encode()), k) for k in range(0, 20, 2)],
        "key long, value binary, seq long"))
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    b0 = store.spark.createDataFrame(
        [(2, bytearray(b"x"), 0)], "key long, value binary, seq long")
    kv.merge_into(b0, mrg, associative=True, salt=2)
    assert store._read_meta(kv.ns).kv_folded
    b1 = store.spark.createDataFrame(
        [(4, bytearray(b"y"), 0), (99, bytearray(b"fresh"), 1)],
        "key long, value binary, seq long")
    kv.merge_into(b1, mrg, associative=True, salt=2)
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got[2 | 1] == b"s2|x" and got[4 | 1] == b"s4|y"
    assert got[99 | 1] == b"fresh" and got[6 | 1] == b"s6"
    assert store.verify(kv.ns)["ok"]


def test_merge_into_prunes_untouched_buckets(store):
    # r15 (VERDICT r14 #3): on a folded view with a single-entry
    # index, merge_into rewrites ONLY the buckets holding batch keys;
    # every other bucket's files are carried into the new generation
    # byte-identically (hardlinked on file://, so same inode), never
    # read or written through Spark.  Semantics must stay exactly the
    # differential law's.
    import glob
    import os

    import pyspark.sql.functions as F  # noqa: F401

    kv = MutableKV(store, "PRUNE")
    mrg = lambda new, old: old + b"|" + new  # noqa: E731
    kv.insert_bulk(store.spark.createDataFrame(
        [(k, bytearray(f"v{k}".encode()), k) for k in range(1, 80, 2)],
        "key long, value binary, seq long"))
    first = store.spark.createDataFrame(
        [(k, bytearray(b"A"), 0) for k in range(1, 80, 4)],
        "key long, value binary, seq long")
    kv.merge_into(first, mrg)                       # fold everything
    meta1 = store._read_meta(kv.ns)
    assert meta1.kv_folded

    def bucket_files(pdir):
        out = {}
        for f in glob.glob(f"{pdir}/epoch=*/bucket=*/part-*"):
            rel = os.path.relpath(f, pdir)
            out.setdefault(rel.rsplit("/", 1)[0], []).append(
                (rel, os.stat(f).st_ino))
        return out

    pdir1 = store._points_dir(kv.ns, meta1)
    before = bucket_files(pdir1)

    batch_keys = (1, 5, 9)
    touched = {f"epoch=0/bucket={((k | 1) & -2) % 128}"
               for k in batch_keys}
    second = store.spark.createDataFrame(
        [(k, bytearray(b"B"), 0) for k in batch_keys],
        "key long, value binary, seq long")
    kv.merge_into(second, mrg)
    meta2 = store._read_meta(kv.ns)
    assert meta2.kv_folded
    assert meta2.points_version == meta1.points_version + 1
    after = bucket_files(store._points_dir(kv.ns, meta2))

    assert set(before) == set(after)            # no bucket lost
    n_linked = 0
    for bdir, files in after.items():
        if bdir in touched:
            continue
        # untouched bucket: same file list, same inodes (hardlink —
        # byte identity without a copy)
        assert files == before[bdir], bdir
        n_linked += 1
    assert n_linked > 0
    for bdir in touched:
        assert after[bdir] != before[bdir], f"{bdir} was not rewritten"

    # semantics: equal to the insert_bulk + merge_with twin
    twin = MutableKV(store, "PRUNETWIN")
    twin.insert_bulk(store.spark.createDataFrame(
        [(k, bytearray(f"v{k}".encode()), k) for k in range(1, 80, 2)],
        "key long, value binary, seq long"))
    twin.insert_bulk(first)
    twin.insert_bulk(second)
    expect = {r.key: bytes(r.value)
              for r in twin.merge_with(mrg).collect()}
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == expect
    assert store.verify(kv.ns)["ok"]

    # a fresh key whose bucket has no directory yet: the pruned scan
    # must treat it as an empty chain and the write must create the
    # new bucket dir alongside the linked ones
    fresh = store.spark.createDataFrame(
        [(100001, bytearray(b"NEW"), 0)],
        "key long, value binary, seq long")
    kv.merge_into(fresh, mrg)
    assert kv.lookup(100001) == b"NEW"
    assert kv.lookup(1) == got[1]
    assert store.verify(kv.ns)["ok"]


def test_vacuum_marks_folded(store):
    store.register_namespace("VACF", buckets=4)
    kv = MutableKV(store, "VACF")
    kv.insert(2, b"a")
    kv.insert(2, b"b")
    assert not store._read_meta(kv.ns).kv_folded
    kv.vacuum()
    assert store._read_meta(kv.ns).kv_folded
    mrg = lambda new, old: old + b"|" + new  # noqa: E731

    def never(new, old):  # vacuum left 1-row chains: fold only key 4
        assert old == b"seed" or new == b"u", (old, new)
        return old + b"|" + new

    kv.insert(4, b"seed")               # clears the flag
    assert not store._read_meta(kv.ns).kv_folded
    kv.vacuum(merge=mrg)
    assert store._read_meta(kv.ns).kv_folded
    u = store.spark.createDataFrame(
        [(4, bytearray(b"u"), 0)], "key long, value binary, seq long")
    kv.merge_into(u, never)
    assert kv.lookup(4) == b"seed|u"
    assert kv.lookup(2) == b"b"         # vacuum kept the latest


def test_kv_stats_reports_chain_debt(store):
    # late-r14: the fourth maintain surface — chain-debt stats via
    # ONE grouped aggregate (no fold, no Python).
    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    st = kv.stats()
    assert st["rows"] == 0 and st["keys"] == 0
    kv.insert(0, b"a")
    kv.insert(0, b"b")
    kv.insert(0, b"c")          # chain of 3 at key 0
    kv.insert(2, b"x")          # chain of 1 at key 2
    kv.insert(4, b"y")
    kv.delete(4)                # tombstoned head: dies at vacuum
    st = kv.stats()
    assert st["keys"] == 3
    assert st["rows"] == 6
    assert st["max_chain"] == 3
    assert st["tombstones"] == 1
    assert st["live_after_vacuum"] == 2       # keys 0 and 2 survive
    assert st["dead_rows"] == 4
    assert st["folded"] is False


def test_kv_maintain_noop_then_heals_and_converges(store):
    # rows > FACTOR x live triggers the vacuum; lookup/enumerate are
    # invariant (merge=None semantics); one vacuum converges.
    import os

    store.register_namespace("PONY", buckets=4)
    kv = MutableKV(store, "PONY")
    kv.insert(0, b"a")
    kv.insert(2, b"x")

    def snapshot():
        out = []
        for dirp, _dirs, files in os.walk(store.root):
            for f in files:
                p = os.path.join(dirp, f)
                s = os.stat(p)
                out.append((p, s.st_size, s.st_mtime_ns))
        return sorted(out)

    before = snapshot()
    res = kv.maintain()
    assert res["action"] == "none"        # rows == live: no debt
    assert snapshot() == before           # strict no-op

    kv.insert(0, b"b")
    kv.insert(0, b"c")                    # rows=4, live=2: 4 <= 2x2
    assert kv.maintain()["action"] == "none"
    kv.insert(0, b"d")                    # rows=5 > 4: debt
    res = kv.maintain()
    assert res["action"] == "vacuum"
    assert res["stats"]["rows"] == 5
    assert kv.lookup(0) == b"d" and kv.lookup(2) == b"x"
    st = kv.stats()
    assert st["rows"] == st["live_after_vacuum"] == 2
    assert st["folded"] is True
    assert kv.maintain()["action"] == "none"   # converged


def test_enumerate_folded_identity_path(store):
    # r14 optimization: on a merge/vacuum generation (_Meta.kv_folded
    # — every surviving chain exactly one non-tombstone row, the
    # invariant the merge fold-skip fast path already trusts),
    # enumerate skips the latest-per-key argmax shuffle.  Laws: the
    # folded plan has NO Exchange; its rows equal the general argmax
    # path over the same generation; a raw append (which clears the
    # flag under the same CAS flip) restores both the aggregate and
    # last-write-wins reads.
    import pyspark.sql.functions as F

    from rados_timestore_spark.core import latest_per_key

    kv = MutableKV(store, "FOLD")
    keys = list(range(1, 25, 2))  # odd: key | 1 is the identity
    kv.insert_bulk(store.spark.createDataFrame(
        [(k, bytearray(f"v{k}", "ascii")) for k in keys],
        "key long, value binary"))
    ups = store.spark.createDataFrame(
        [(k, bytearray(b"U")) for k in keys[::3]], "key long, value binary")
    kv.merge_into(ups, lambda new, old: old + new)
    assert store._read_meta(kv.ns).kv_folded

    folded = kv.enumerate()
    plan = folded._jdf.queryExecution().simpleString()
    assert "Exchange" not in plan, plan

    pdir = store._points_dir(kv.ns)
    df = store.spark.read.parquet(pdir).filter(F.col("kind") == 1)
    general = (latest_per_key(df, payload_cols=("payload",))
               .filter(F.col("payload").isNotNull())
               .select(F.col("address").alias("key"),
                       F.col("payload").alias("value")))
    got = {r.key: bytes(r.value) for r in folded.collect()}
    want = {r.key: bytes(r.value) for r in general.collect()}
    assert got == want and len(got) == len(keys)
    for k in keys[::3]:
        assert got[k] == bytes(f"v{k}", "ascii") + b"U"

    # the same invariant serves enumerate_versions and merge_with:
    # one row per chain, so the head/fold is the row itself
    vers = kv.enumerate_versions()
    assert "Exchange" not in vers._jdf.queryExecution().simpleString()
    assert ({r.key: bytes(r.payload) for r in vers.collect()} == want)
    mw = kv.merge_with(lambda new, old: old + b"!" + new)
    assert "Exchange" not in mw._jdf.queryExecution().simpleString()
    assert {r.key: bytes(r.value) for r in mw.collect()} == want

    kv.insert(keys[0], b"later")  # raw append: flag must clear
    assert not store._read_meta(kv.ns).kv_folded
    got2 = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    want[keys[0]] = b"later"
    assert got2 == want


def test_enumerate_folded_promote_interleave(store):
    # VERDICT r14 #2: write_points promotes raw files into the live
    # points dir BEFORE the meta CAS that clears kv_folded, so a
    # reader that snapshots meta (flag still true) can observe the
    # directory mid-window — after a concurrent append's promote,
    # before its CAS.  The folded fast path must return exactly the
    # committed generation (one row per key, folded payloads), never
    # the uncommitted raw rows: old + new for the same key is a state
    # no serial history produces.  Freezing the CAS reproduces the
    # window deterministically (it is also the permanent state a
    # writer crash between promote and CAS leaves behind).
    kv = MutableKV(store, "RACE")
    keys = list(range(1, 19, 2))
    kv.insert_bulk(store.spark.createDataFrame(
        [(k, bytearray(f"v{k}", "ascii")) for k in keys],
        "key long, value binary"))
    kv.merge_into(
        store.spark.createDataFrame([(keys[0], bytearray(b"M"))],
                                    "key long, value binary"),
        lambda new, old: old + new)
    assert store._read_meta(kv.ns).kv_folded
    want = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert want[keys[0]] == bytes(f"v{keys[0]}", "ascii") + b"M"

    real_cas = store._write_meta_cas
    store._write_meta_cas = lambda ns, meta: None  # promote lands, CAS frozen
    try:
        kv.insert(keys[0], b"uncommitted")
    finally:
        store._write_meta_cas = real_cas
    assert store._read_meta(kv.ns).kv_folded  # mid-window snapshot

    rows = kv.enumerate().collect()
    assert len(rows) == len(want)  # no duplicate keys from raw rows
    assert {r.key: bytes(r.value) for r in rows} == want
    vers = kv.enumerate_versions().collect()
    assert len(vers) == len(want)
    assert {r.key: bytes(r.payload) for r in vers} == want
    mw = kv.merge_with(lambda new, old: old + b"!" + new).collect()
    assert {r.key: bytes(r.value) for r in mw} == want

    # once an append COMMITS, the flag clears and the argmax path
    # takes over: raw rows (including the formerly in-flight one)
    # become visible with last-write-wins
    kv.insert(keys[0], b"committed")
    assert not store._read_meta(kv.ns).kv_folded
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    want[keys[0]] = b"committed"
    assert got == want
