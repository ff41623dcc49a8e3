"""Exhaustive kill-at-EVERY-FS-boundary crash fuzz for the persisted
vector indexes — the full sweep behind the strided pytest subset
(tests/test_index_crash_fuzz.py; harness + rationale in
tests/crash_fuzz_harness.py).

For every FS mutation the verb script performs, each rename and
delete inside a meta document's tmp+backup replace included, kill
there, reopen cold, replay the whole script, and assert the
final state (meta counters + vector-id set + probe results) equals
the no-crash run.  Run per round; outcome recorded in BENCH_NOTES.md.

    python tools/index_crash_fuzz.py [hnsw|ivf|all]
"""

import sys
import tempfile
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

from crash_fuzz_harness import crash_at, dry_run, recover_and_replay  # noqa: E402
from rados_timestore_spark import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .filter(F.col("vec_id") < 150))
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    victims = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 10 == 4)
               .select("vec_id").collect()]
    # second-lineage batch (r12): reuses batch id 0 under app_id="L2"
    # — overlaps b on id%30==19, so it exercises BOTH the
    # lineage-scoped file prefix (same numeric id must not sweep the
    # other lineage's committed files) and cross-lineage redelivery
    # dedup, at every crash boundary
    d = emb.filter(F.col("vec_id") % 10 == 9)
    return emb, a, b, c, d, victims


def _sweep(name, make, tmpl, script, probe, allowed=()):
    total, final_root = dry_run(make, tmpl, script)
    want = probe(make(final_root))
    print(f"[{name}] boundaries={total}", flush=True)
    t0 = time.time()
    bad = 0
    for fuel in range(total):
        work = f"{tmpl}.k{fuel}"
        crash_at(make, tmpl, script, fuel, work)
        got = recover_and_replay(make, work, script, probe,
                                 allowed_cold_errors=allowed)
        ok = got == want
        bad += not ok
        print(f"[{name}] fuel={fuel:3d} "
              f"{'OK' if ok else 'DIVERGED: ' + repr(got[:2])}",
              flush=True)
        import shutil
        shutil.rmtree(work, ignore_errors=True)
    dt = time.time() - t0
    print(f"[{name}] {'ALL CONVERGED' if not bad else f'{bad} DIVERGED'}"
          f" over {total} boundaries in {dt:.0f}s", flush=True)
    return bad


def fuzz_hnsw(spark, root):
    from rados_timestore_spark.hnsw import HNSWIndex

    emb, a, b, c, d, victims = _corpus(spark)
    qrows = emb.filter(F.col("vec_id") < 3).collect()
    qs = [(r.vec_id, np.asarray(r.embedding, dtype=np.float64))
          for r in qrows]

    def make(r):
        return HNSWIndex(spark, r)

    def script(ix):
        ix.append_batch("e", b, 0)
        ix.append_batch("e", c, 1)
        ix.append_batch("e", d, 0, app_id="L2")  # new lineage, id 0
        ix.delete("e", victims)
        ix.reshard("e", shards=3)  # r13: two-dir roll-forward window
        ix.compact("e")

    def probe(ix):
        # API first: probe entry runs the remnant restore
        cand = {(r.query_id, r.neighbor_id) for r in
                ix.probe_candidates("e", qs, k=10,
                                    ef_search=64).collect()}
        meta = ix.meta("e")
        ids = sorted(r.vec_id for r in
                     ix.spark.read.parquet(ix._vectors_dir("e"))
                     .select("vec_id").distinct().collect())
        return meta["n_vectors"], ids, cand

    tmpl = f"{root}/hnsw_tmpl"
    make(tmpl).build("e", a, shards=2, m=8, ef_construction=64)
    return _sweep("hnsw", make, tmpl, script, probe)


def fuzz_ivf(spark, root):
    from rados_timestore_spark.vector_index import (
        VectorIndex, VectorIndexNotBuilt,
    )

    emb, a, b, c, d, victims = _corpus(spark)
    qrows = emb.filter(F.col("vec_id") < 3).collect()
    qs = [(r.vec_id, list(map(float, r.embedding))) for r in qrows]

    def make(r):
        return VectorIndex(spark, r)

    def script(ix):
        ix.append_batch("e", b, 0)
        ix.append_batch("e", c, 1)
        ix.append_batch("e", d, 0, app_id="L2")  # new lineage, id 0
        ix.delete("e", victims)
        ix.compact("e")
        ix.enable_pq("e", m=4, ksub=16, residual=True)
        ix.retrain("e", k=8)  # r14: three-dir roll-forward window
        # (centroids + pq codebooks + assignments; fence txn + marker
        # commit point — VERDICT r13 #2)

    def probe(ix):
        # API first: probe entry runs the remnant restore
        raw = tuple((r.query_id, r.neighbor_id) for r in
                    ix.probe("e", qs, nprobe=2, topk=5)
                    .orderBy("query_id", "rank").collect())
        adc = tuple((r.query_id, r.neighbor_id) for r in
                    ix.probe_pq("e", qs, nprobe=2, topk=5)
                    .orderBy("query_id", "rank").collect())
        meta = ix.meta("e")
        ids = sorted(r.vec_id for r in
                     ix.spark.read.parquet(ix._assignments_dir("e"))
                     .select("vec_id").distinct().collect())
        return meta["n_vectors"], ids, raw, adc

    tmpl = f"{root}/ivf_tmpl"
    make(tmpl).build("e", a, k=4)
    return _sweep("ivf", make, tmpl, script, probe,
                  allowed=(VectorIndexNotBuilt,))


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark(master="local[16]", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="idx_crash_fuzz_")
    bad = 0
    if which in ("hnsw", "all"):
        bad += fuzz_hnsw(spark, root)
    if which in ("ivf", "all"):
        bad += fuzz_ivf(spark, root)
    print(f"TOTAL DIVERGED: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
