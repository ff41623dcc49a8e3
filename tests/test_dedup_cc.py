"""dedup_minhash_lsh's kernels: the band-bucket verify (every pair
sharing a band, verified exactly once, hot buckets salted) and
connected components — local union-find vs distributed two-hop label
propagation must agree, and the two-hop shortcut must converge in
O(log diameter) rounds — the property that keeps the serial-barrier
count small when the edge set outgrows the driver."""

import os

from rados_timestore_spark import queries_dedup as qd
from rados_timestore_spark.queries_common import release_pins
from tests.conftest import SF_DIR
from tests.test_targeted_open import _jobs_and_tasks

#: the sf0.01 fixture, beside the default one
SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _labels(df):
    return {r.doc_id: r.rep for r in df.collect()}


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )


def test_cc_local_chain(spark):
    got = _labels(qd._connected_components(spark, _chain_edges(spark, 20)))
    assert got == {i: 0 for i in range(20)}


def test_cc_distributed_matches_local_and_round_bound(spark, monkeypatch):
    # Force the distributed path; a 64-node chain has diameter 63, so
    # one-hop-per-round propagation would need ~63 rounds (> the 32
    # cap); the two-hop shortcut must finish well under log2(64)*2.
    monkeypatch.setattr(qd, "_CC_LOCAL_MAX_EDGES", 0)
    edges = _chain_edges(spark, 64).union(
        spark.createDataFrame(
            [(100, 101), (101, 102), (200, 100)], "doc_a long, doc_b long"
        )
    )
    got = _labels(qd._connected_components(spark, edges))
    want = {i: 0 for i in range(64)}
    want.update({100: 100, 101: 100, 102: 100, 200: 100})
    assert got == want
    assert qd._LAST_CC_ROUNDS <= 12, qd._LAST_CC_ROUNDS


def _sig(bands):
    """A 16-value signature whose band b key is shared exactly by docs
    given the same ``bands[b]`` token (a token t fills the band's 4
    rows with t; weights are positive, so equal tokens <=> equal keys
    for the small tokens used here)."""
    return [t for t in bands for _ in range(qd._MH_BAND_ROWS)]


def test_lsh_pairs_hot_bucket_is_lossless_and_exactly_once(
        spark, monkeypatch):
    # VERDICT r5 item 7: a band bucket OVER the cap must still yield
    # every within-bucket pair (the r4 code dropped the whole bucket).
    # Shrink the cap so a 25-member bucket is "hot" (g = ceil(25/8) =
    # 4 sub-groups) and check the verified pairs against the exact
    # all-pairs set: no pair lost, none emitted twice.
    from pyspark.sql import functions as F

    monkeypatch.setattr(qd, "_LSH_BUCKET_CAP", 8)
    same = list(range(1, 11))
    rows = []
    for d in range(25):
        # hot bucket in band 0; 3 and 9 ALSO share band 1 (cold), so
        # the pair meets in two bands and must be kept in band 0 only
        b1 = 2 if d in (3, 9) else 1000 + d
        rows.append((d, same, _sig([1, b1, 2000 + d, 3000 + d])))
    # a cold pair sharing bands 1 and 3: emitted once, from band 1
    rows.append((40, same, _sig([4000, 5, 4040, 6])))
    rows.append((41, same[:8], _sig([4001, 5, 4041, 6])))
    # a candidate that fails the verify (disjoint shingle sets)
    rows.append((50, [100, 101], _sig([7, 5050, 5051, 5052])))
    rows.append((51, [200, 201], _sig([7, 5150, 5151, 5152])))
    rows.append((99, [500], _sig([9, 9, 9, 9])))          # singleton
    sh = spark.createDataFrame(
        rows, "doc_id long, hs array<long>, s array<long>")

    got = [tuple(r) for r in qd._lsh_pairs(sh).collect()]
    assert len(got) == len(set(got)), "a pair was emitted twice"
    want = {(a, b, 10, 10) for a in range(25) for b in range(25) if a < b}
    want.add((40, 41, 8, 10))
    assert set(got) == want
    # the per-task bound holds: no salted group exceeds ~2*cap rows
    sizes = qd._lsh_groups(sh).groupBy(*qd._LSH_GROUP).count()
    assert sizes.agg(F.max("count")).collect()[0][0] <= 2 * 8
    assert sizes.filter(F.col("band") == 0).count() > 4  # really salted


def test_lsh_verify_carries_groups_across_batches():
    # The kernel sees a partition as Arrow batches that can cut a group
    # anywhere (or be empty): the result must not depend on the cuts,
    # and must equal a brute force over every pair sharing a band.
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(0)
    docs = {d: (np.unique(rng.integers(0, 12, 8)), rng.integers(0, 40, 4))
            for d in range(300)}
    pdf = pd.DataFrame(
        [(d, hs, bks, b, int(bks[b]), 0, 0, 0)
         for d, (hs, bks) in docs.items() for b in range(4)],
        columns=["doc_id", "hs", "bks", "band", "bkey", "gd", "si", "sj"],
    ).sort_values([*qd._LSH_GROUP, "doc_id"], ignore_index=True)

    def pairs(batches):
        return sorted(tuple(r) for out in qd._lsh_verify(iter(batches))
                      for r in out.itertuples(index=False))

    cuts = [0, 0, 7, 100, 101, 500, 1199, 1200]
    got = pairs([pdf.iloc[a:b] for a, b in zip(cuts[:-1], cuts[1:])])
    assert got == pairs([pdf])
    want = []
    for a, (ha, ka) in docs.items():
        for b, (hb, kb) in docs.items():
            common = len(set(ha) & set(hb))
            union_n = len(ha) + len(hb) - common
            if a < b and (ka == kb).any() and common * 10 >= 4 * union_n:
                want.append((a, b, common, union_n))
    assert got == sorted(want) and len(want) > 100


def test_minhash_lsh_distributed_cc_matches_local(spark, monkeypatch):
    # The relabel join must give the same clusters whichever CC path
    # produced the labels (broadcast local frame vs checkpointed
    # distributed one).
    def clusters():
        try:
            return sorted(tuple(r) for r in
                          qd.dedup_minhash_lsh(spark, SF01).collect())
        finally:
            release_pins()

    local = clusters()
    monkeypatch.setattr(qd, "_CC_LOCAL_MAX_EDGES", 0)
    assert clusters() == local
    assert qd._LAST_CC_ROUNDS >= 1
    assert len(local) == len({d for d, _ in local}) \
        and any(d != rep for d, rep in local)


def test_minhash_lsh_job_pin(spark):
    # One band-bucket shuffle verifies the candidates and one broadcast
    # join relabels the corpus: a warm call runs <= 12 jobs (23 when
    # candidates, distinct and the two verify joins were separate
    # shuffles and singletons came from an anti join).
    def run(fn):
        try:
            return fn(spark, SF01).toArrow()
        finally:
            release_pins()

    run(qd.dedup_minhash_lsh)  # warm
    jobs, _ = _jobs_and_tasks(spark, "pin-minhash-lsh",
                              lambda: run(qd.dedup_minhash_lsh))
    assert jobs <= 12, jobs

    pairs = qd.dedup_minhash_pairs(spark, SF01)
    try:
        pairs.toArrow()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # AQE's final plan
    finally:
        release_pins()
    assert plan.count("MapInPandas") == 1, plan
    assert "array_intersect" not in plan, plan


def test_triangle_orientation_counts_each_triangle_once(spark):
    # Known graph: K4 on {1,2,3,4} (4 triangles, each node in 3) plus
    # a pendant edge (5-1: no triangles) plus a disjoint triangle
    # {6,7,8}.  The degree-ordered orientation must enumerate each
    # triangle exactly once regardless of degree ties (K4 is all-ties,
    # exercising the id tiebreak).
    import itertools

    from pyspark.sql import functions as F

    edges = (
        list(itertools.combinations([1, 2, 3, 4], 2))
        + [(1, 5)]
        + list(itertools.combinations([6, 7, 8], 2))
    )
    ep = spark.createDataFrame(edges, "doc_a long, doc_b long")
    e = ep.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")) \
        .unionByName(ep.select(F.col("doc_b").alias("u"),
                               F.col("doc_a").alias("v")))
    deg = e.groupBy("u").agg(F.count("*").alias("d"))
    da = deg.select(F.col("u").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("doc_b"), F.col("d").alias("db"))
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b")))
    fwd = ep.join(da, "doc_a").join(db, "doc_b").select(
        F.when(lower, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
        F.when(lower, F.col("doc_b")).otherwise(F.col("doc_a")).alias("v"),
    )
    e1 = fwd.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = fwd.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = fwd.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    triangles = sorted(tuple(sorted((r.a, r.b, r.c)))
                       for r in tri.collect())
    assert triangles == sorted(
        [t for t in itertools.combinations([1, 2, 3, 4], 3)]
        + [(6, 7, 8)]
    )
