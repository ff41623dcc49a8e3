"""The steady-state KV merge folds each touched bucket in one task.

``MutableKV.merge_into`` on a folded view (every chain one live row)
with a single-entry index sends every row of the touched buckets
through one ``(epoch, bucket)`` exchange and one ``mapInPandas`` fold,
and the writer takes that output as it is (``pre_shaped``).  So each
touched bucket dir is rewritten as one file, and the merge launches
no split joins.  Inside the fold, one-row stored chains skip the
per-key Python call (``_fold_stored_heads``); the kernel test below
checks that this bulk pass gives the per-group fold's output."""

import glob
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rados_timestore_spark.mutable import (
    MutableKV, _chain_runs, _fold_stored_heads, _merge_chain,
)
from rados_timestore_spark.store import TimeStore
from tests.test_targeted_open import _jobs_and_tasks


# a lambda pickles by value: executors need not import this module
_mrg = lambda new, old: old + b"|" + new  # noqa: E731


def _batch(spark, keys, tag):
    return spark.createDataFrame(
        [(k, bytearray(f"{tag}{k}".encode()), i)
         for i, k in enumerate(keys)],
        "key long, value binary, seq long")


def _steady_kv(spark, root, model):
    """A 128-bucket KV of 2000 keys after one full merge: folded."""
    kv = MutableKV(TimeStore(spark, root), "kv")
    kv.insert_bulk(spark.range(0, 2000).select(
        (F.col("id") * 2).alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value")))
    model.update({(2 * i) | 1: str(i).encode() for i in range(2000)})
    _merge(spark, kv, model, range(0, 4000, 40), "a")
    assert kv.store._read_meta(kv.ns).kv_folded
    return kv


def _merge(spark, kv, model, keys, tag):
    keys = list(keys)
    kv.merge_into(_batch(spark, keys, tag), _mrg)
    for k in keys:
        new = f"{tag}{k}".encode()
        old = model.get(k | 1)
        model[k | 1] = new if old is None else _mrg(new, old)


def test_steady_merges_write_one_file_per_bucket(spark, tmp_path):
    model = {}
    kv = _steady_kv(spark, str(tmp_path / "wh"), model)
    # ~50 keys a merge touch ~35 of the 64 live buckets, each also holding
    # untouched keys; the last batch brings fresh keys
    for tag, keys in (("b", range(2, 4000, 78)), ("c", range(6, 4000, 82)),
                      ("d", range(3990, 4100, 2))):
        _merge(spark, kv, model, keys, tag)
        assert kv.store._read_meta(kv.ns).kv_folded
    pdir = kv.store._points_dir(kv.ns)
    files = {d: len(glob.glob(f"{d}/part-*"))
             for d in glob.glob(f"{pdir}/epoch=*/bucket=*")}
    assert len(files) == 64   # a KV places (key & -2) % 128: even buckets
    assert {d: n for d, n in files.items() if n != 1} == {}
    got = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert got == model


def test_steady_merge_launches_at_most_five_jobs(spark, tmp_path):
    model = {}
    kv = _steady_kv(spark, str(tmp_path / "wh"), model)
    _merge(spark, kv, model, range(2, 4000, 78), "b")     # warm
    jobs, tasks = _jobs_and_tasks(
        spark, "pin-steady-merge",
        lambda: _merge(spark, kv, model, range(6, 4000, 82), "c"))
    assert jobs <= 5, (jobs, tasks)
    assert {r.key: bytes(r.value)
            for r in kv.enumerate().collect()} == model


def test_steady_merge_on_a_rescaled_kv_matches_model(spark, tmp_path):
    # a second index entry makes placement depend on the version, so
    # the merge neither prunes nor keys its fold by layout: every row
    # of the folded view goes through the plain keyed fold
    model = {}
    kv = _steady_kv(spark, str(tmp_path / "wh"), model)
    kv.store.rescale(kv.ns, 32)
    for tag, keys in (("b", range(2, 4000, 78)), ("c", range(3990, 4100, 2))):
        _merge(spark, kv, model, keys, tag)
        meta = kv.store._read_meta(kv.ns)
        assert meta.kv_folded and len(meta.index.entries) == 2
    rep = kv.store.verify(kv.ns)
    assert rep["ok"], rep
    assert {r.key: bytes(r.value)
            for r in kv.enumerate().collect()} == model


def _small_folded_kv(spark, root):
    """Keys 0, 2, 4, 6 (buckets 0, 2, 4, 6) holding ``raw``, folded by
    one merge of key 0."""
    kv = MutableKV(TimeStore(spark, root), "kv")
    kv.insert_bulk(spark.createDataFrame(
        [(k, bytearray(b"raw")) for k in (0, 2, 4, 6)],
        "key long, value binary"))
    kv.merge_into(_batch(spark, [0], "a"), _mrg)
    assert kv.store._read_meta(kv.ns).kv_folded
    return kv


def _view_agrees(kv):
    """The folded and argmax reads serve one value per key (enumerate
    reports a key as its address, ``key | 1``)."""
    view = {r.key: bytes(r.value) for r in kv.enumerate().collect()}
    assert {k: kv.lookup(k) for k in view} == view
    return view


def test_merge_into_is_fenced_from_its_entry_read(spark, tmp_path):
    # A raw insert that commits after the merge's one meta read (here:
    # while the rewrite starts) clears kv_folded and grows key 6's
    # chain in a bucket the pruned merge would clone as folded.  The
    # merge's flip must fail against its entry txn, not commit
    # kv_folded=True over the two-row chain.
    from rados_timestore_spark.store import ConcurrentWriterError

    root = str(tmp_path / "wh")
    kv = _small_folded_kv(spark, root)
    other = MutableKV(TimeStore(spark, root), "kv")
    store = kv.store
    real_rewrite, real_read = store._rewrite_generation, store._read_meta
    reads = []

    def rewrite(*args, **kw):
        other.insert(6, b"v6")
        return real_rewrite(*args, **kw)

    def read(ns):
        reads.append(ns)
        return real_read(ns)

    store._rewrite_generation, store._read_meta = rewrite, read
    try:
        with pytest.raises(ConcurrentWriterError):
            kv.merge_into(_batch(spark, [0], "b"), _mrg)
    finally:
        del store._rewrite_generation, store._read_meta
    assert reads == [kv.ns]  # one read before the CAS re-check
    assert not store._read_meta(kv.ns).kv_folded
    assert _view_agrees(kv) == {1: b"raw|a0", 3: b"raw", 5: b"raw",
                                7: b"v6"}


def test_pruned_merge_refuses_rows_outside_its_prune_set(spark, tmp_path):
    # The prune set comes from one evaluation of ``updates`` and the
    # fold from another; a source whose second evaluation adds key 6
    # (bucket 6, outside the set) would write its merged head beside
    # the clone of bucket 6: a duplicate chain under kv_folded=True.
    root = str(tmp_path / "wh")
    kv = _small_folded_kv(spark, root)
    before = _view_agrees(kv)
    meta0 = kv.store._read_meta(kv.ns)
    dirs0 = sorted(glob.glob(f"{kv.store._ns_dir(kv.ns)}/points*"))
    flag = str(tmp_path / "evaluated")

    def source(batches):
        import os

        for _ in batches:
            pass
        keys = [0]
        try:
            os.close(os.open(flag, os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            keys = [0, 6]  # every evaluation after the first
        yield pd.DataFrame({"key": keys, "value": [b"x"] * len(keys),
                            "seq": range(len(keys))})

    updates = spark.range(1, numPartitions=1).mapInPandas(
        source, "key long, value binary, seq long")
    with pytest.raises(ValueError, match="outside its 1 pruned"):
        kv.merge_into(updates, _mrg)
    assert _view_agrees(kv) == before
    meta = kv.store._read_meta(kv.ns)
    assert (meta.txn, meta.kv_folded) == (meta0.txn, True)
    assert sorted(glob.glob(
        f"{kv.store._ns_dir(kv.ns)}/points*")) == dirs0


def _random_chains(rng):
    """Rows of ``merge_into``'s fold input, key-sorted like the
    exchange output: every chain kind the kernel can meet."""
    rows = []
    for addr in range(1, 2 * 400, 2):
        kind = rng.choice(["head", "head", "head", "tomb", "fresh",
                           "chain"])
        if kind == "head":        # untouched stored head
            rows.append((addr, rng.randrange(50), 0, b"h%d" % addr, 0))
        elif kind == "tomb":      # untouched one-row tombstone
            rows.append((addr, rng.randrange(50), 0, None, 0))
        elif kind == "fresh":     # batch-only fresh key, one row
            rows.append((addr, 1 << 62, 0, b"f%d" % addr, 1))
        else:                     # stored versions, then batch rows
            n_stored = rng.randrange(0, 4)
            for t in range(n_stored):
                blob = None if rng.random() < 0.3 else b"s%d.%d" % (addr, t)
                rows.append((addr, t, 0, blob, 0))
            for s in range(rng.randrange(0 if n_stored else 1, 3)):
                rows.append((addr, 1 << 62, s, b"n%d.%d" % (addr, s), 1))
    pdf = pd.DataFrame(rows, columns=["address", "time", "seq", "payload",
                                      "__src"])
    pdf["__src"] = pdf["__src"].astype("int32")
    return pdf.sort_values(["address", "__src", "time", "seq"],
                           kind="stable", ignore_index=True)


def _cut(pdf, rng):
    """Arrow-batch-like pieces cut at arbitrary rows, with an empty
    batch in between."""
    cuts = sorted(rng.sample(range(1, len(pdf)), 12))
    pieces = [pdf.iloc[a:b].reset_index(drop=True)
              for a, b in zip([0, *cuts], [*cuts, len(pdf)])]
    pieces.insert(5, pdf.iloc[0:0])
    return pieces


def _folded(frames):
    out = pd.concat(list(frames), ignore_index=True)
    return sorted((int(a), int(t), bytes(p)) for a, t, p in
                  zip(out["address"], out["time"], out["payload"]))


def test_bulk_one_row_fold_matches_per_group_fold():
    for seed in range(5):
        rng = random.Random(seed)
        pdf = _random_chains(rng)
        calls = []

        def fold(g):
            calls.append(len(g))
            return _merge_chain(_mrg, g)

        per_group = _folded(_chain_runs(_cut(pdf, random.Random(seed)),
                                        "address", fold))
        n_groups = len(calls)
        calls.clear()
        bulk = _folded(_chain_runs(_cut(pdf, random.Random(seed)),
                                   "address", fold, _fold_stored_heads))
        assert bulk == per_group
        # the bulk pass took the stored heads off the per-key path
        heads = sum(1 for _, g in pdf.groupby("address")
                    if len(g) == 1 and g["__src"].iloc[0] == 0
                    and g["payload"].iloc[0] is not None)
        assert heads > 0 and len(calls) >= n_groups - heads
        assert len(calls) < n_groups
        # and the reference: one whole-frame groupby, no batches
        whole = [_merge_chain(_mrg, g) for _, g in pdf.groupby("address")]
        assert per_group == sorted(
            (r["address"], r["time"], r["payload"]) for r in whole
            if r is not None)
