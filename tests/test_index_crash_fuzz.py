"""Strided kill-point crash fuzz for both persisted vector indexes.

Harness + rationale: :mod:`tests.crash_fuzz_harness`.  The exhaustive
every-boundary sweep is ``tools/index_crash_fuzz.py`` (run per round,
recorded in BENCH_NOTES.md); this strided subset keeps the law under
continuous test at ~4 boundaries per index, always including the
first and last mutation — the windows targeted by the r10/r11 ADVICE
fixes sit between verbs, which a stride this dense always straddles.
The ``_smoke`` twins run in the default marker set with one kill
each, inside the relayout roll-forward window.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.crash_fuzz_harness import crash_at, dry_run, recover_and_replay

SF = "/root/testdata/sf0.001"


def _emb(spark, n=150):
    return (spark.read.parquet(f"{SF}/embeddings.parquet")
            .filter(F.col("vec_id") < n))


def _strides(total: int, points: int = 4) -> list[int]:
    ks = {0, total - 1}
    for i in range(1, points - 1):
        ks.add(i * total // (points - 1))
    return sorted(ks)


def _queries(spark, n=3):
    rows = (spark.read.parquet(f"{SF}/embeddings.parquet")
            .filter(F.col("vec_id") < n).collect())
    return [(r.vec_id, np.asarray(r.embedding, dtype=np.float64))
            for r in rows]


def _hnsw_case(spark, tmp_path):
    """The HNSW verb script over a built template: ``(make, template
    root, script, probe)``."""
    from rados_timestore_spark.hnsw import HNSWIndex

    emb = _emb(spark)
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    victims = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 10 == 4)
               .select("vec_id").collect()]
    # r12: second lineage reusing batch id 0 (see tools twin)
    d = emb.filter(F.col("vec_id") % 10 == 9)
    qs = _queries(spark)

    def make(root):
        return HNSWIndex(spark, root)

    def script(ix):
        ix.append_batch("e", b, 0)
        ix.append_batch("e", c, 1)
        ix.append_batch("e", d, 0, app_id="L2")  # new lineage, id 0
        ix.delete("e", victims)
        ix.reshard("e", shards=3)  # r13: two-dir roll-forward window
        ix.compact("e")

    def probe(ix):
        # API first: probe entry runs the remnant restore, after
        # which the raw-path reads below are legal even mid-crash
        cand = {(r.query_id, r.neighbor_id) for r in
                ix.probe_candidates("e", qs, k=10,
                                    ef_search=64).collect()}
        meta = ix.meta("e")
        ids = sorted(
            r.vec_id for r in
            ix.spark.read.parquet(ix._vectors_dir("e"))
            .select("vec_id").distinct().collect())
        return meta["n_vectors"], ids, cand

    tmpl = str(tmp_path / "tmpl")
    make(tmpl).build("e", a, shards=2, m=8, ef_construction=64)
    return make, tmpl, script, probe


def _ivf_case(spark, tmp_path):
    """The IVF verb script over a built template: ``(make, template
    root, script, probe)``."""
    from rados_timestore_spark.vector_index import VectorIndex

    emb = _emb(spark)
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    victims = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 10 == 4)
               .select("vec_id").collect()]
    # r12: second lineage reusing batch id 0 (see tools twin)
    d = emb.filter(F.col("vec_id") % 10 == 9)
    qs = [(qid, list(map(float, v))) for qid, v in _queries(spark)]

    def make(root):
        return VectorIndex(spark, root)

    # enable_pq LAST: it trains codebooks on the corpus as-of its
    # run, so it is replay-convergent only once the corpus-mutating
    # verbs before it have all re-fenced to no-ops.
    def script(ix):
        ix.append_batch("e", b, 0)
        ix.append_batch("e", c, 1)
        ix.append_batch("e", d, 0, app_id="L2")  # new lineage, id 0
        ix.delete("e", victims)
        ix.compact("e")
        ix.enable_pq("e", m=4, ksub=16, residual=True)
        ix.retrain("e", k=8)  # r14: three-dir roll-forward window

    def probe(ix):
        # API first: probe entry runs the remnant restore, after
        # which the raw-path reads below are legal even mid-crash
        raw = tuple(
            (r.query_id, r.neighbor_id) for r in
            ix.probe("e", qs, nprobe=2, topk=5)
            .orderBy("query_id", "rank").collect())
        adc = tuple(
            (r.query_id, r.neighbor_id) for r in
            ix.probe_pq("e", qs, nprobe=2, topk=5)
            .orderBy("query_id", "rank").collect())
        meta = ix.meta("e")
        ids = sorted(
            r.vec_id for r in
            ix.spark.read.parquet(ix._assignments_dir("e"))
            .select("vec_id").distinct().collect())
        return meta["n_vectors"], ids, raw, adc

    tmpl = str(tmp_path / "tmpl")
    make(tmpl).build("e", a, k=4)
    return make, tmpl, script, probe


def _converges(case, fuels, tmp_path, allowed=()):
    """Kill ``case``'s script at each boundary ``fuels(paths)`` picks
    from the dry run's mutated paths, recover, replay, and compare
    against the no-crash run."""
    make, tmpl, script, probe = case
    paths: list[str] = []
    _total, final_root = dry_run(make, tmpl, script, paths)
    want = probe(make(final_root))
    assert want[0] == len(want[1]) > 0
    for fuel in fuels(paths):
        work = str(tmp_path / f"k{fuel}")
        crash_at(make, tmpl, script, fuel, work)
        got = recover_and_replay(make, work, script, probe,
                                 allowed_cold_errors=allowed)
        assert got == want, f"fuel={fuel}: {got[0]} != {want[0]}"


def _after_marker(marker: str):
    """The first boundary after the relayout's roll-forward marker is
    written: the kill lands inside the roll-forward window, so the
    replay's entry restore must complete the relayout."""
    def pick(paths):
        return [next(i for i, p in enumerate(paths)
                     if p.endswith(f"/{marker}")) + 1]
    return pick


@pytest.mark.slow  # soak/fuzz: excluded from the default run (see pytest.ini)
def test_hnswidx_crash_fuzz_strided(spark, tmp_path):
    _converges(_hnsw_case(spark, tmp_path),
               lambda paths: _strides(len(paths)), tmp_path)


@pytest.mark.slow  # soak/fuzz: excluded from the default run (see pytest.ini)
def test_vecidx_crash_fuzz_strided(spark, tmp_path):
    from rados_timestore_spark.vector_index import VectorIndexNotBuilt

    _converges(_ivf_case(spark, tmp_path),
               lambda paths: _strides(len(paths)), tmp_path,
               allowed=(VectorIndexNotBuilt,))


def test_hnswidx_crash_fuzz_smoke(spark, tmp_path):
    # default-run smoke of the strided sweep: one kill inside the
    # reshard roll-forward window
    _converges(_hnsw_case(spark, tmp_path),
               _after_marker("_reshard.json"), tmp_path)


def test_vecidx_crash_fuzz_smoke(spark, tmp_path):
    # default-run smoke of the strided sweep: one kill inside the
    # retrain roll-forward window
    from rados_timestore_spark.vector_index import VectorIndexNotBuilt

    _converges(_ivf_case(spark, tmp_path),
               _after_marker("_retrain.json"), tmp_path,
               allowed=(VectorIndexNotBuilt,))


def test_vecidx_delete_everything_lifecycle(spark, tmp_path):
    # Review finding (r11): deleting EVERY vector leaves a bucket-less
    # assignments dir; the commit recount used to throw there (after
    # the swaps, before the meta write), stranding stale meta, and
    # every later read threw too.  The empty index must behave: zero
    # counts, empty probes, no-op maintenance, and append_batch
    # re-populates it.
    from rados_timestore_spark.vector_index import VectorIndex

    emb = _emb(spark, 80)
    vi = VectorIndex(spark, str(tmp_path / "de"))
    vi.build("e", emb, k=4)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    q = [(0, list(map(float, emb.limit(1).collect()[0].embedding)))]
    assert vi.delete("e", ids) == len(ids)
    assert vi.meta("e")["n_vectors"] == 0
    assert vi.probe("e", q, topk=3).count() == 0
    assert vi.delete("e", ids) == 0          # idempotent
    assert vi.compact("e") == 0
    vi.append_batch("e", emb, 0)
    assert vi.meta("e")["n_vectors"] == len(ids)
    assert vi.probe("e", q, topk=3).count() == 3


def test_hnswidx_delete_everything_lifecycle(spark, tmp_path):
    # Same class in HNSW: pre-fix, delete-everything BRICKED the index
    # (commit recount threw after the swaps; probe/append threw too).
    import numpy as np

    from rados_timestore_spark.hnsw import HNSWIndex

    emb = _emb(spark, 80)
    ix = HNSWIndex(spark, str(tmp_path / "hde"))
    ix.build("e", emb, shards=2, m=8, ef_construction=32)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    q = [(0, np.asarray(emb.limit(1).collect()[0].embedding,
                        dtype=np.float64))]
    assert ix.delete("e", ids) == len(ids)
    assert ix.meta("e")["n_vectors"] == 0
    assert ix.probe_candidates("e", q, k=5).count() == 0
    assert ix.delete("e", ids) == 0          # idempotent
    ix.compact("e")
    ix.append_batch("e", emb, 0)
    assert ix.meta("e")["n_vectors"] == len(ids)
    assert ix.probe_candidates("e", q, k=5, ef_search=32).count() > 0
