"""Two-maintainer interleave tests for the persisted ANN indexes
(VERDICT r12 #4): index maintenance verbs are serial BY CONTRACT, and
until r13 that contract was enforced only by documentation — a second
concurrent maintainer silently lost the first's meta update.  The
meta commit is now CAS-fenced (``_commit_meta``: flip lock + txn
re-check, the store's ``_write_meta_cas`` pattern cross-applied), so
the late committer fails LOUDLY with ConcurrentMaintainerError and
the earlier commit survives intact.

Interleave mechanics: hook the victim verb's ENTRY meta read and run
the second maintainer's whole verb inside the window — the widest
realistic interleaving (a verb's Spark jobs run for seconds between
its entry read and its commit).
"""

import json

import pytest
import pyspark.sql.functions as F

from rados_timestore_spark.fsutil import ConcurrentMaintainerError
from rados_timestore_spark.hnsw import HNSWIndex
from rados_timestore_spark.vector_index import VectorIndex
from tests.conftest import SF_DIR

K = 8


@pytest.fixture(scope="module")
def emb(spark):
    return (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") < 300))


def _hook_entry_read(monkeypatch, cls, victim, interleave):
    """After ``victim``'s FIRST meta read, run ``interleave()`` once
    (the second maintainer's whole verb), then continue the victim."""
    orig = cls.meta
    state = {"armed": True}

    def hooked(self, ns):
        doc = orig(self, ns)
        if self is victim and state["armed"]:
            state["armed"] = False
            interleave()
        return doc

    monkeypatch.setattr(cls, "meta", hooked)


def test_vecidx_commit_meta_detects_stale_txn(spark, emb, tmp_path):
    # unit shape: a doc carrying an outdated txn must be refused
    vi = VectorIndex(spark, str(tmp_path / "u"))
    vi.build("e", emb, k=K)
    stale = vi.meta("e")
    vi.compact("e")  # bumps txn
    with pytest.raises(ConcurrentMaintainerError, match="txn advanced"):
        vi._commit_meta("e", stale)


def test_vecidx_append_batch_vs_delete_interleave(
        spark, emb, tmp_path, monkeypatch):
    root = str(tmp_path / "ab")
    vi = VectorIndex(spark, root)
    vi.build("e", emb.filter(F.col("vec_id") < 200), k=K)
    other = VectorIndex(spark, root)
    victims = [r.vec_id for r in
               emb.filter((F.col("vec_id") < 200)
                          & (F.col("vec_id") % 7 == 3))
               .select("vec_id").collect()]

    _hook_entry_read(monkeypatch, VectorIndex, vi,
                     lambda: other.delete("e", victims))
    batch = emb.filter(F.col("vec_id").between(200, 250))
    with pytest.raises(ConcurrentMaintainerError):
        vi.append_batch("e", batch, batch_id=0)
    # the interleaved delete's commit SURVIVED (lost-update prevented):
    doc = other.meta("e")
    assert doc["n_vectors"] == 200 - len(victims)
    # and the failed appender advanced nothing
    assert "last_batch_id" not in doc


def test_vecidx_delete_vs_append_interleave(
        spark, emb, tmp_path, monkeypatch):
    root = str(tmp_path / "da")
    vi = VectorIndex(spark, root)
    vi.build("e", emb.filter(F.col("vec_id") < 200), k=K)
    other = VectorIndex(spark, root)

    _hook_entry_read(
        monkeypatch, VectorIndex, vi,
        lambda: other.append(
            "e", emb.filter(F.col("vec_id").between(200, 220))))
    with pytest.raises(ConcurrentMaintainerError):
        vi.delete("e", [3, 13, 23])
    assert other.meta("e")["n_vectors"] == 221  # append survived


def test_vecidx_compact_vs_delete_interleave(
        spark, emb, tmp_path, monkeypatch):
    root = str(tmp_path / "cd")
    vi = VectorIndex(spark, root)
    vi.build("e", emb.filter(F.col("vec_id") < 200), k=K)
    other = VectorIndex(spark, root)

    _hook_entry_read(monkeypatch, VectorIndex, vi,
                     lambda: other.delete("e", [3, 13]))
    with pytest.raises(ConcurrentMaintainerError):
        vi.compact("e")
    assert other.meta("e")["n_vectors"] == 198  # delete survived


def test_vecidx_serial_verbs_still_green(spark, emb, tmp_path):
    # the fence must not tax the sanctioned serial flow: a full verb
    # chain runs clean and the txn counter advances once per commit
    vi = VectorIndex(spark, str(tmp_path / "serial"))
    vi.build("e", emb.filter(F.col("vec_id") < 150), k=K)
    t0 = int(vi.meta("e")["txn"])
    vi.append("e", emb.filter(F.col("vec_id").between(150, 199)))
    vi.append_batch("e", emb.filter(F.col("vec_id").between(200, 229)),
                    batch_id=0)
    vi.delete("e", [5])
    vi.compact("e")
    vi.enable_pq("e", m=4, ksub=8)
    assert int(vi.meta("e")["txn"]) == t0 + 5
    assert vi.meta("e")["n_vectors"] == 229


def test_pre_r13_meta_without_txn_is_accepted(spark, emb, tmp_path):
    # an index persisted before the fence existed has no txn field;
    # the first fenced commit must start the counter, not refuse
    vi = VectorIndex(spark, str(tmp_path / "legacy"))
    vi.build("e", emb.filter(F.col("vec_id") < 100), k=K)
    path = f"{vi._ns_dir('e')}/_vidx_meta.json"
    doc = json.loads(vi.fs.read_text(path))
    doc.pop("txn")
    vi.fs.write_text_atomic(path, json.dumps(doc))
    vi.delete("e", [1])
    assert int(vi.meta("e")["txn"]) == 1
    assert vi.meta("e")["n_vectors"] == 99


def test_hnsw_append_batch_vs_delete_interleave(
        spark, emb, tmp_path, monkeypatch):
    root = str(tmp_path / "hab")
    hx = HNSWIndex(spark, root)
    hx.build("e", emb.filter(F.col("vec_id") < 200), shards=4)
    other = HNSWIndex(spark, root)

    _hook_entry_read(monkeypatch, HNSWIndex, hx,
                     lambda: other.delete("e", [3, 13, 23]))
    batch = emb.filter(F.col("vec_id").between(200, 230))
    with pytest.raises(ConcurrentMaintainerError):
        hx.append_batch("e", batch, batch_id=0)
    doc = other.meta("e")
    assert doc["n_vectors"] == 197       # delete survived
    assert "last_batch_id" not in doc    # appender committed nothing


def test_hnsw_compact_vs_append_interleave(
        spark, emb, tmp_path, monkeypatch):
    root = str(tmp_path / "hca")
    hx = HNSWIndex(spark, root)
    hx.build("e", emb.filter(F.col("vec_id") < 200), shards=4)
    other = HNSWIndex(spark, root)

    _hook_entry_read(
        monkeypatch, HNSWIndex, hx,
        lambda: other.append(
            "e", emb.filter(F.col("vec_id").between(200, 210))))
    with pytest.raises(ConcurrentMaintainerError):
        hx.compact("e")
    assert other.meta("e")["n_vectors"] == 211  # append survived


def test_hnsw_serial_verbs_still_green(spark, emb, tmp_path):
    hx = HNSWIndex(spark, str(tmp_path / "hserial"))
    hx.build("e", emb.filter(F.col("vec_id") < 150), shards=4)
    t0 = int(hx.meta("e")["txn"])
    hx.append("e", emb.filter(F.col("vec_id").between(150, 179)))
    hx.append_batch("e", emb.filter(F.col("vec_id").between(180, 199)),
                    batch_id=0)
    hx.delete("e", [5])
    hx.compact("e")
    assert int(hx.meta("e")["txn"]) == t0 + 4
    assert hx.meta("e")["n_vectors"] == 199


def test_hnsw_reshard_marker_fences_midflight_maintainer(
        spark, emb, tmp_path, monkeypatch):
    # ADVICE r14 #1 (medium): reshard's commit point (the marker
    # write) CAS-checks the stored txn but pre-fix did NOT advance it,
    # so a maintainer verb already past its entry read could still
    # pass cas_commit_meta in the window between the marker write and
    # the roll-forward's meta write — the dir swaps then silently
    # clobbered its changes.  The fence bump (txn=entry+1 written
    # under the marker lock) makes that commit fail LOUDLY.
    import json

    root = str(tmp_path / "hrf")
    hx = HNSWIndex(spark, root)          # the mid-flight maintainer
    hx.build("e", emb.filter(F.col("vec_id") < 200), shards=2)
    resharder = HNSWIndex(spark, root)

    # Freeze the reshard AT its commit point: skip its own completion
    # call (the final _restore_remnants(ns), sweep_stagings
    # False) so the marker exists but the roll-forward has not run —
    # exactly the ADVICE window.
    orig_restore = HNSWIndex._restore_remnants

    def frozen(self, ns, sweep_stagings=False):
        if self is resharder and not sweep_stagings:
            return  # commit point reached; stop before roll-forward
        return orig_restore(self, ns, sweep_stagings)

    monkeypatch.setattr(HNSWIndex, "_restore_remnants", frozen)
    _hook_entry_read(monkeypatch, HNSWIndex, hx,
                     lambda: resharder.reshard("e", shards=5))

    with pytest.raises(ConcurrentMaintainerError):
        hx.delete("e", [3, 13, 23])

    # marker still present (roll-forward was frozen), and the stored
    # meta txn was bumped under the marker lock — the fence itself
    marker = f"{resharder._ns_dir('e')}/_reshard.json"
    assert resharder.fs.exists(marker)
    target = json.loads(resharder.fs.read_text(marker))
    monkeypatch.setattr(HNSWIndex, "_restore_remnants",
                        orig_restore)

    # recovery completes the reshard; the failed delete left no trace
    # (its pre-CAS shard swaps are overwritten by the whole-dir swap)
    fresh = HNSWIndex(spark, root)
    doc = fresh.meta("e")
    fresh._restore_remnants("e")
    doc = fresh.meta("e")
    assert doc["shards"] == 5 and doc["n_vectors"] == 200
    assert int(doc["txn"]) == int(target["txn"]) + 2  # fence +1, commit +1
    qs = [(int(r.vec_id), r.embedding) for r in
          emb.filter(F.col("vec_id") < 2).collect()]
    import numpy as np
    assert fresh.probe_candidates(
        "e", [(q, np.asarray(v, dtype=np.float64)) for q, v in qs],
        k=8).count() > 0


def test_hnsw_reshard_kill_between_fence_and_marker_aborts(
        spark, emb, tmp_path, monkeypatch):
    # the fence write precedes the marker write, so a kill between the
    # two ABORTS the reshard: marker-less stagings are swept at the
    # next verb entry, one txn number is burned, and the index serves
    # its pre-reshard state.
    root = str(tmp_path / "hrk")
    hx = HNSWIndex(spark, root)
    hx.build("e", emb.filter(F.col("vec_id") < 150), shards=2)
    t0 = int(hx.meta("e")["txn"])

    class Kill(RuntimeError):
        pass

    orig_write = type(hx.fs).write_text_atomic

    def dying(self, path, text):
        if path.endswith("/_reshard.json"):
            raise Kill("killed before the marker write")
        return orig_write(self, path, text)

    monkeypatch.setattr(type(hx.fs), "write_text_atomic", dying)
    with pytest.raises(Kill):
        hx.reshard("e", shards=4)
    monkeypatch.setattr(type(hx.fs), "write_text_atomic", orig_write)

    doc = hx.meta("e")
    assert doc["shards"] == 2                  # aborted, not applied
    assert int(doc["txn"]) == t0 + 1           # the burned fence txn
    # next verb entry sweeps the orphaned stagings and runs clean
    hx.compact("e")
    for base in (hx._graph_dir("e"), hx._vectors_dir("e")):
        assert not hx.fs.exists(f"{base}.resharding")
    assert hx.meta("e")["n_vectors"] == 150


def test_vecidx_retrain_marker_fences_midflight_maintainer(
        spark, emb, tmp_path, monkeypatch):
    # the HNSW reshard fence (ADVICE r14 #1), mirrored on the IVF
    # retrain: a maintainer past its entry read must fail its CAS
    # commit loudly once retrain's commit point (fence txn + marker)
    # lands — never be silently clobbered by the roll-forward swaps.
    root = str(tmp_path / "vrf")
    vi = VectorIndex(spark, root)          # the mid-flight maintainer
    vi.build("e", emb.filter(F.col("vec_id") < 200), k=K)
    retrainer = VectorIndex(spark, root)

    orig_restore = VectorIndex._restore_remnants

    def frozen(self, ns, sweep_stagings=False):
        if self is retrainer and not sweep_stagings:
            return  # commit point reached; stop before roll-forward
        return orig_restore(self, ns, sweep_stagings)

    monkeypatch.setattr(VectorIndex, "_restore_remnants", frozen)
    _hook_entry_read(monkeypatch, VectorIndex, vi,
                     lambda: retrainer.retrain("e", k=16))

    with pytest.raises(ConcurrentMaintainerError):
        vi.delete("e", [3, 13, 23])

    assert retrainer.fs.exists(f"{retrainer._ns_dir('e')}/_retrain.json")
    monkeypatch.setattr(VectorIndex, "_restore_remnants", orig_restore)

    # recovery completes the retrain; the failed delete left no trace
    fresh = VectorIndex(spark, root)
    fresh._restore_remnants("e")
    doc = fresh.meta("e")
    assert doc["k"] == 16 and doc["n_vectors"] == 200
    qs = [(int(r.vec_id), list(r.embedding)) for r in
          emb.filter(F.col("vec_id") < 2).collect()]
    assert fresh.probe("e", qs, nprobe=4, topk=5).count() == 10
