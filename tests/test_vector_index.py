"""VectorIndex laws — the persisted build-once/probe-many IVF index
(vector_index.py), the embeddings application of the reference's
persisted-routing Index model (Index.hs:37-49; the register-writes-
index round-trip law is UnitTests.hs:140-147 registerWritesIndex).
"""

import numpy as np
import pytest

import pyspark.sql.functions as F

from rados_timestore_spark.vector_index import (
    VectorIndex, VectorIndexNotBuilt,
)
from tests.conftest import SF_DIR

K = 32
NPROBE = 4


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def built(spark, emb, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("vidx") / "idx")
    vi = VectorIndex(spark, root)
    doc = vi.build("e", emb, k=K)
    return vi, doc


def _queries(emb, n=3):
    rows = emb.filter(F.col("vec_id") < n).collect()
    return [(r.vec_id, list(r.embedding)) for r in rows]


def test_build_writes_meta_and_layout(built, emb, spark):
    vi, doc = built
    assert doc["k"] == K and doc["version"] == 1
    assert doc["n_vectors"] == emb.count()
    assert vi.meta("e") == doc
    # routing is PERSISTED: centroids table holds exactly k rows and
    # the assignment table is hive-partitioned by bucket
    cent = spark.read.parquet(vi._centroids_dir("e"))
    assert cent.count() == K
    buckets = {r.bucket for r in
               spark.read.parquet(vi._assignments_dir("e"))
               .select("bucket").distinct().collect()}
    assert buckets <= {r.cid for r in cent.collect()}


def test_probe_requires_build(spark, tmp_path):
    vi = VectorIndex(spark, str(tmp_path / "empty"))
    with pytest.raises(VectorIndexNotBuilt):
        vi.probe("nope", [(0, [0.0] * 64)])


def test_probe_matches_in_query_ivf(built, emb, spark):
    # The persisted probe must reproduce the in-query IVF path
    # bit-exactly on the same (centroids, nprobe, topk) config: the
    # index adds persistence, not approximation.
    vi, _doc = built
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in vi.probe("e", _queries(emb), topk=5,
                          nprobe=NPROBE).collect()
    }

    # reference: brute-force the same IVF rule in numpy
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    dim = E.shape[1]
    from rados_timestore_spark.vector_index import seq_cos_matrix

    Cids, C = ids[:K], E[:K]
    cos_all = seq_cos_matrix(E, C, dim)
    assign = Cids[np.argmax(cos_all, axis=1)]
    expect = {}
    for qi, (qid, qv) in enumerate(_queries(emb)):
        q = np.array([qv], dtype=np.float64)
        qc = seq_cos_matrix(q, C, dim)[0]
        probed = Cids[np.argsort(-qc, kind="stable")[:NPROBE]]
        cand = [i for i in range(len(ids))
                if assign[i] in probed and ids[i] != qid]
        cc = seq_cos_matrix(E[cand], q, dim)[:, 0]
        order = sorted(zip(-cc, ids[cand]))
        for rank, (negc, nid) in enumerate(order[:5], start=1):
            expect[(qid, rank)] = (nid, -negc)
    assert set(got) == set(expect)
    for key in expect:
        assert got[key][0] == expect[key][0], (key, got[key], expect[key])
        assert got[key][1] == pytest.approx(expect[key][1], abs=0), key


def test_append_law_matches_single_build(spark, emb, tmp_path):
    # build(A) + append(B) == build(A ∪ B) given A's routing table —
    # assignment is per-vector under fixed centroids, so incremental
    # ingest loses nothing.  Compare probes, not files: the law is
    # about query-visible state.
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)

    inc = VectorIndex(spark, str(tmp_path / "inc"))
    inc.build("e", a, k=K)
    inc.append("e", b)

    # one-shot reference with the SAME routing table (A's lowest ids)
    one = VectorIndex(spark, str(tmp_path / "one"))
    one.build("e", a, k=K)
    cids, C = one._load_centroids("e")
    from rados_timestore_spark.vector_index import assign_to_centroids

    (assign_to_centroids(b, cids, C, one.meta("e")["dim"])
     .write.mode("append").partitionBy("bucket")
     .parquet(one._assignments_dir("e")))

    qs = _queries(emb)
    r_inc = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
             for r in inc.probe("e", qs, topk=5, nprobe=NPROBE).collect()}
    r_one = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
             for r in one.probe("e", qs, topk=5, nprobe=NPROBE).collect()}
    assert r_inc == r_one
    assert inc.meta("e")["n_vectors"] == emb.count()


def test_rebuild_bumps_version(spark, emb, tmp_path):
    vi = VectorIndex(spark, str(tmp_path / "rb"))
    assert vi.build("e", emb, k=K)["version"] == 1
    assert vi.build("e", emb, k=K)["version"] == 2


def test_probe_survives_source_table_loss(spark, emb, tmp_path):
    # The index is SELF-CONTAINED: probing must not touch the source
    # frame it was built from (the build-once contract — at 100 TB
    # the source may be cold storage by probe time).  Build from a
    # transient frame, drop it, probe.
    vi = VectorIndex(spark, str(tmp_path / "sc"))
    transient = emb.limit(500)
    vi.build("e", transient, k=K)
    del transient
    out = vi.probe("e", _queries(emb, n=2), topk=3, nprobe=2)
    assert out.count() > 0
    assert {c for c in out.columns} == {
        "query_id", "neighbor_id", "cos", "rank"}


def test_compact_collapses_append_files_and_preserves_probes(
        spark, emb, tmp_path):
    # Repeated appends leave one file per (append x bucket); compact
    # must collapse each bucket to ONE file while the probe results
    # stay byte-identical (rows preserved exactly).
    import glob

    vi = VectorIndex(spark, str(tmp_path / "cp"))
    parts = [emb.filter(F.col("vec_id") % 4 == r) for r in range(4)]
    vi.build("e", parts[0], k=K)
    for p in parts[1:]:
        vi.append("e", p)

    def n_files():
        return len(glob.glob(
            f"{vi._assignments_dir('e')}/bucket=*/part-*"))

    qs = _queries(emb)
    before_files = n_files()
    before = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
              for r in vi.probe("e", qs, topk=5,
                                nprobe=NPROBE).collect()}
    n_buckets = len(glob.glob(f"{vi._assignments_dir('e')}/bucket=*"))
    total = vi.compact("e")
    assert total == n_buckets  # exactly one file per bucket
    assert n_files() == n_buckets < before_files
    after = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
             for r in vi.probe("e", qs, topk=5, nprobe=NPROBE).collect()}
    assert after == before
    assert vi.meta("e")["n_vectors"] == emb.count()


def test_delete_rewrites_only_affected_buckets(spark, emb, tmp_path):
    # Retraction: victims vanish from probes, n_vectors is adjusted,
    # and UNAFFECTED bucket directories keep their exact files (no
    # read, no rewrite, no move — bounded maintenance cost).
    import glob
    import os

    vi = VectorIndex(spark, str(tmp_path / "dl"))
    vi.build("e", emb, k=K)
    scan = spark.read.parquet(vi._assignments_dir("e"))
    # pick 3 victims from ONE bucket so most buckets are unaffected
    some = scan.groupBy("bucket").count().orderBy(F.desc("count")) \
        .limit(1).collect()[0]
    victims = [r.vec_id for r in
               scan.filter(F.col("bucket") == some.bucket)
               .limit(3).collect()]
    before_meta = vi.meta("e")
    untouched = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{vi._assignments_dir('e')}/bucket=*/part-*")
        if f"bucket={some.bucket}/" not in p
    }
    assert vi.delete("e", victims) == 3
    after = spark.read.parquet(vi._assignments_dir("e"))
    assert after.filter(F.col("vec_id").isin(victims)).count() == 0
    assert vi.meta("e")["n_vectors"] == before_meta["n_vectors"] - 3
    for p, mtime in untouched.items():
        assert os.path.getmtime(p) == mtime, p  # file not rewritten
    # deleting ids that do not exist is a no-op
    assert vi.delete("e", [10 ** 9]) == 0
    # the victims never come back from a probe
    got = vi.probe("e", _queries(emb), topk=5, nprobe=K)  # probe ALL
    assert got.filter(F.col("neighbor_id").isin(victims)).count() == 0


def test_kmeans_trainer_is_deterministic_and_probeable(spark, emb, tmp_path):
    # The production trainer: distributed Lloyd seeded from the k
    # lowest ids, fixed-point update sums.  Two independent builds
    # must produce byte-identical centroid tables (shuffle-order
    # independence), probes must serve from the persisted routing,
    # and the incremental-append law must hold exactly as for the
    # sample trainer (it only depends on a FIXED routing table).
    a = VectorIndex(spark, str(tmp_path / "km_a"))
    b = VectorIndex(spark, str(tmp_path / "km_b"))
    da = a.build("e", emb, k=K, trainer="kmeans", iters=2)
    db = b.build("e", emb, k=K, trainer="kmeans", iters=2)
    assert da["trainer"] == "kmeans"
    ca = {r.cid: list(r.ce) for r in
          spark.read.parquet(a._centroids_dir("e")).collect()}
    cb = {r.cid: list(r.ce) for r in
          spark.read.parquet(b._centroids_dir("e")).collect()}
    assert ca == cb  # bit-identical training
    qs = _queries(emb)
    ra = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
          for r in a.probe("e", qs, topk=5, nprobe=NPROBE).collect()}
    assert ra and len({q for q, _ in ra}) == len(qs)

    # append law under the trained routing
    ev = emb.filter(F.col("vec_id") % 2 == 0)
    od = emb.filter(F.col("vec_id") % 2 == 1)
    inc = VectorIndex(spark, str(tmp_path / "km_inc"))
    inc.build("e", ev, k=K, trainer="kmeans", iters=2)
    inc.append("e", od)
    assert inc.meta("e")["n_vectors"] == emb.count()
    got = inc.probe("e", qs, topk=5, nprobe=NPROBE)
    assert got.count() == len(qs) * 5


def test_probe_df_matches_driver_probe(spark, emb, built):
    # The distributed probe (queries stay a DataFrame) must equal the
    # driver-list probe on the same query set — same bucket choice
    # (stable-argsort ties), same exact in-bucket ranking.
    vi, _doc = built
    qs = _queries(emb, n=4)
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
            for r in vi.probe("e", qs, topk=5, nprobe=NPROBE).collect()}
    qdf = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
           for r in vi.probe_df("e", qdf, topk=5,
                                nprobe=NPROBE).collect()}
    assert got == want


def test_probe_ranks_nan_cos_like_probe_df(spark, tmp_path):
    # A zero vector scores cos = NaN against every query (and a zero
    # query against every vector).  NaN leaves a pandas kernel as
    # NULL, which desc("cos") ranks last, so the probe kernel's
    # partial top-k must rank NaN last too: ranking it first would
    # spend a slot of the zero vector's bucket on it and drop that
    # bucket's third-best candidate.
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(40)]
    # near-copies of vector 0 (the first centroid) fill its bucket,
    # which also takes the zero vector (argmax of a NaN row is 0)
    rows += [(50 + i, [float(x) for x in np.array(rows[0][1])
                       + 0.01 * rng.standard_normal(8)])
             for i in range(4)]
    rows.append((100, [0.0] * 8))
    vi = VectorIndex(spark, str(tmp_path / "nan"))
    vi.build("z", spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"), k=4)
    qs = [(200, [0.0] * 8), (201, rows[0][1])]

    def ranked(df):
        return {(r.query_id, r.rank): (r.neighbor_id, r.cos)
                for r in df.collect()}

    want = ranked(vi.probe_df("z", spark.createDataFrame(
        qs, "query_id long, qe array<float>"), topk=3, nprobe=4))
    assert [want[(200, r)] for r in (1, 2, 3)] \
        == [(0, None), (1, None), (2, None)]
    # premise: query 201's top 3 share the zero vector's bucket
    bucket = {r.vec_id: r.bucket for r in spark.read.parquet(
        vi._assignments_dir("z")).collect()}
    assert {bucket[want[(201, r)][0]] for r in (1, 2, 3)} \
        == {bucket[100]}
    assert ranked(vi.probe("z", qs, topk=3, nprobe=4)) == want


def test_meta_cols_persist_and_filter_probes(spark, emb, tmp_path):
    # meta_cols ride the assignment table through build AND append, so
    # a filtered probe's predicate evaluates inside the bucket-pruned
    # scan; the filter prunes candidates pre-ranking (never reorders),
    # so the filtered result == unfiltered result restricted to
    # matching neighbors, re-ranked.
    vi = VectorIndex(spark, str(tmp_path / "mc"))
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    vi.build("e", a, k=K, meta_cols=("label",))
    vi.append("e", b)  # inherits meta_cols from the meta document
    scan = spark.read.parquet(vi._assignments_dir("e"))
    assert "label" in scan.columns
    assert scan.filter(F.col("label").isNull()).count() == 0

    qs = _queries(emb)
    flt = F.col("label") % 2 == 1
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in vi.probe("e", qs, topk=3, nprobe=NPROBE,
                             where=flt).collect()}
    # reference: unfiltered probe at full depth, filter, re-rank
    deep = vi.probe("e", qs, topk=10 ** 6, nprobe=NPROBE)
    lab = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    want = {}
    rows = (deep.join(lab, "neighbor_id")
            .filter(F.col("label") % 2 == 1)
            .select("query_id", "neighbor_id", "cos").collect())
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        per_q[r.query_id].append((-r.cos, r.neighbor_id))
    for q, lst in per_q.items():
        for rank, (_negc, nid) in enumerate(sorted(lst)[:3], start=1):
            want[(q, rank)] = nid
    assert got == want


def test_delete_probe_query_excludes_victims(spark):
    # The registered end-to-end retraction query: no deleted id may
    # surface as a neighbor, per-query result stays a top-<=5 ranked
    # list, and the probe demonstrably DIFFERS from the full-index
    # probe (the victims included real neighbors on the fixture).
    from rados_timestore_spark.queries_similarity import (
        sim_vecidx_delete_probe, sim_vecidx_probe,
    )

    out = sim_vecidx_delete_probe(spark, SF_DIR).toPandas()
    assert (out["neighbor_id"] % 7 != 5).all()
    g = out.groupby("query_id")["rank"]
    assert (g.max() <= 5).all()
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in g.apply(list))
    full = sim_vecidx_probe(spark, SF_DIR).toPandas()
    assert not full.equals(out)


# ------------------------------------------------- PQ codes at rest


@pytest.fixture(scope="module")
def pq_built(spark, emb, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("vidxpq") / "idx")
    vi = VectorIndex(spark, root)
    vi.build("e", emb, k=K)
    doc = vi.enable_pq("e", m=4, ksub=16)
    return vi, doc


def test_enable_pq_layout_and_code_validity(pq_built, emb, spark):
    vi, doc = pq_built
    assert doc["pq"] == {"m": 4, "ksub": 16, "dsub": 16, "gen": 1}
    cb = spark.read.parquet(vi._pq_dir("e"))
    assert cb.count() == 4 * 16
    rows = spark.read.parquet(vi._assignments_dir("e"))
    # every row carries a valid code word; no row was lost or gained
    assert rows.count() == emb.count()
    assert rows.filter(F.col("pq_code").isNull()).count() == 0
    bad = rows.filter(
        (F.size("pq_code") != 4)
        | F.exists("pq_code",
                   lambda c: (c < 0) | (c >= 16))).count()
    assert bad == 0


def test_enable_pq_codes_match_direct_encode(pq_built, spark):
    # every persisted code equals a driver-side re-encode with the
    # persisted codebooks (argmin over the canonical sequential
    # squared-L2 fold, first-min ties) — the encode law, checked row
    # by row on the fixture corpus
    from rados_timestore_spark.queries_similarity import _sq_dists

    vi, doc = pq_built
    CBm = vi._load_pq("e", doc)
    pdf = (spark.read.parquet(vi._assignments_dir("e"))
           .select("vec_id", "embedding", "pq_code").toPandas())
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    dsub = doc["pq"]["dsub"]
    for s in range(doc["pq"]["m"]):
        want = np.argmin(
            _sq_dists(E[:, s * dsub:(s + 1) * dsub], CBm[s]), axis=1)
        got = np.array([c[s] for c in pdf["pq_code"]])
        assert (got == want).all()


def test_probe_pq_requires_enable(built):
    vi, _ = built
    with pytest.raises(VectorIndexNotBuilt):
        vi.probe_pq("e", [(0, [0.0] * 64)])


def test_probe_pq_full_rerank_equals_exact_probe(pq_built, emb):
    # with a rerank budget covering every probed candidate, the ADC
    # cut is a no-op and the exact re-rank MUST reproduce probe()'s
    # exact cosine top-k bit for bit — the lossless-degeneracy law
    # tying the compressed path to the exact path
    vi, _doc = pq_built
    qs = _queries(emb)
    exact = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
             for r in vi.probe("e", qs, topk=5,
                               nprobe=NPROBE).collect()}
    rr = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
          for r in vi.probe_pq("e", qs, topk=5, nprobe=NPROBE,
                               rerank=10 ** 9).collect()}
    assert rr == exact


def test_append_after_enable_pq_encodes_new_rows(spark, emb, tmp_path):
    # appends on a PQ-enabled index encode inline with the PERSISTED
    # codebooks (no re-train, no rewrite of resident rows), so the
    # code column never goes stale — checked by re-encoding the
    # appended rows directly
    from rados_timestore_spark.queries_similarity import _sq_dists

    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    vi = VectorIndex(spark, str(tmp_path / "pqapp"))
    vi.build("e", a, k=K)
    doc = vi.enable_pq("e", m=4, ksub=16)
    CBm = vi._load_pq("e", doc)
    vi.append("e", b)
    rows = spark.read.parquet(vi._assignments_dir("e"))
    assert rows.filter(F.col("pq_code").isNull()).count() == 0
    pdf = (rows.filter(F.col("vec_id") % 2 == 1)
           .select("vec_id", "embedding", "pq_code").toPandas())
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    dsub = doc["pq"]["dsub"]
    for s in range(doc["pq"]["m"]):
        want = np.argmin(
            _sq_dists(E[:, s * dsub:(s + 1) * dsub], CBm[s]), axis=1)
        got = np.array([c[s] for c in pdf["pq_code"]])
        assert (got == want).all()


def test_delete_preserves_survivor_codes_and_probe_pq(spark, emb,
                                                     tmp_path):
    # retraction on a PQ-enabled index: victims vanish from the ADC
    # probe, survivors keep their exact code words (codes live IN the
    # assignment rows, so the bucket rewrite carries them verbatim)
    vi = VectorIndex(spark, str(tmp_path / "pqdel"))
    vi.build("e", emb, k=K)
    vi.enable_pq("e", m=4, ksub=16)
    before = {r.vec_id: list(r.pq_code) for r in
              spark.read.parquet(vi._assignments_dir("e"))
              .select("vec_id", "pq_code").collect()}
    victims = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 7 == 5)
               .select("vec_id").collect()]
    vi.delete("e", victims)
    after = {r.vec_id: list(r.pq_code) for r in
             spark.read.parquet(vi._assignments_dir("e"))
             .select("vec_id", "pq_code").collect()}
    assert set(after) == set(before) - set(victims)
    assert all(after[v] == before[v] for v in after)
    out = vi.probe_pq("e", _queries(emb), topk=5,
                      nprobe=NPROBE).toPandas()
    assert (out["neighbor_id"] % 7 != 5).all()


def test_enable_pq_rerun_with_new_params_serves_new_codebooks(
        spark, emb, tmp_path):
    # re-running enable_pq with different geometry must serve the NEW
    # codebooks (generation-keyed cache — a stale (m, ksub) tensor
    # would IndexError or silently mis-rank) and keep the lossless-
    # degeneracy law intact under the new codes
    vi = VectorIndex(spark, str(tmp_path / "pqre"))
    vi.build("e", emb, k=K)
    d1 = vi.enable_pq("e", m=4, ksub=16)
    vi.probe_pq("e", _queries(emb), topk=3, nprobe=2).collect()
    d2 = vi.enable_pq("e", m=8, ksub=8)
    assert d2["pq"] == {"m": 8, "ksub": 8, "dsub": 8,
                        "gen": d1["pq"]["gen"] + 1}
    CBm = vi._load_pq("e", d2)
    assert CBm.shape == (8, 8, 8)
    out = vi.probe_pq("e", _queries(emb), topk=3, nprobe=2).toPandas()
    assert (out.groupby("query_id")["rank"].max() <= 3).all()
    rows = spark.read.parquet(vi._assignments_dir("e"))
    assert rows.filter(F.size("pq_code") != 8).count() == 0


def test_load_pq_refuses_marker_meta_mismatch(spark, emb, tmp_path):
    # the crashed-enable_pq guard: when the codebook marker and the
    # meta's pq block disagree (a run promoted codebooks but died
    # before the meta commit, or vice versa), the load must raise —
    # never rank codes against the wrong codebooks
    import json as _json

    vi = VectorIndex(spark, str(tmp_path / "pqcr"))
    vi.build("e", emb, k=K)
    vi.enable_pq("e", m=4, ksub=16)
    doc = vi.meta("e")
    doc["pq"]["gen"] += 1  # meta claims a generation never promoted
    vi._write_meta("e", _json.loads(_json.dumps(doc)) and doc)
    with pytest.raises(IOError, match="did not complete"):
        vi.probe_pq("e", _queries(emb), topk=3, nprobe=2)


def test_probe_pq_rerank_zero_is_empty(pq_built, emb):
    # rerank=0 is an explicit empty-candidate request, not rerank=topk
    vi, _doc = pq_built
    assert vi.probe_pq("e", _queries(emb), topk=3, nprobe=2,
                       rerank=0).count() == 0


def test_probe_pq_filtered_search(spark, emb, tmp_path):
    # the compressed path supports the same filtered search as probe:
    # the meta_cols predicate evaluates inside the pruned scan and
    # prunes candidates without reordering survivors
    vi = VectorIndex(spark, str(tmp_path / "pqfl"))
    vi.build("e", emb, k=K, meta_cols=("label",))
    vi.enable_pq("e", m=4, ksub=16)
    labels = {r.label for r in emb.select("label").distinct().collect()}
    pick = sorted(labels)[0]
    out = vi.probe_pq("e", _queries(emb), topk=5, nprobe=NPROBE,
                      where=F.col("label") == pick,
                      rerank=10 ** 9).toPandas()
    allowed = {r.vec_id for r in
               emb.filter(F.col("label") == pick).collect()}
    assert set(out["neighbor_id"]) <= allowed
    # equals the exact filtered probe under the full-rerank degeneracy
    exact = vi.probe("e", _queries(emb), topk=5, nprobe=NPROBE,
                     where=F.col("label") == pick).toPandas()
    a = out.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = exact.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_enable_pq_residual_lifecycle(spark, emb, tmp_path):
    # the FAISS by_residual=True shape end-to-end: enable -> ADC
    # probe -> full-rerank degeneracy (exhaustive rerank of residual
    # candidates == the exact probe), append encodes residual codes
    # for new rows, and the marker/meta carry the residual flag
    vi = VectorIndex(spark, str(tmp_path / "pqr"))
    vi.build("e", emb.filter(F.col("vec_id") % 2 == 0), k=K)
    doc = vi.enable_pq("e", m=4, ksub=16, residual=True)
    assert doc["pq"] == {"m": 4, "ksub": 16, "dsub": 16, "gen": 1,
                         "residual": True}
    vi.append("e", emb.filter(F.col("vec_id") % 2 == 1))
    rows = spark.read.parquet(vi._assignments_dir("e"))
    assert rows.filter(F.size("pq_code") != 4).count() == 0
    qs = _queries(emb)
    adc = vi.probe_pq("e", qs, topk=5, nprobe=NPROBE).toPandas()
    assert (adc.groupby("query_id")["rank"].max() <= 5).all()
    full = vi.probe_pq("e", qs, topk=5, nprobe=NPROBE,
                       rerank=10 ** 9).toPandas()
    exact = vi.probe("e", qs, topk=5, nprobe=NPROBE).toPandas()
    a = full.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = exact.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_residual_codes_match_direct_encode(spark, emb, tmp_path):
    # white-box: stored residual codes equal the canonical kernel's
    # encode of (embedding - assigned centroid) against the persisted
    # DOUBLE codebooks — the exact arithmetic the oracle restates
    import numpy as np
    from rados_timestore_spark.queries_similarity import _sq_dists

    vi = VectorIndex(spark, str(tmp_path / "pqrw"))
    vi.build("e", emb, k=K)
    doc = vi.enable_pq("e", m=4, ksub=16, residual=True)
    CBm = vi._load_pq("e", doc)
    cids, C = vi._load_centroids("e")
    pdf = (spark.read.parquet(vi._assignments_dir("e"))
           .select("vec_id", "embedding", "bucket", "pq_code")
           .toPandas().sort_values("vec_id"))
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    pos = np.searchsorted(np.asarray(cids, dtype=np.int64),
                          pdf["bucket"].to_numpy().astype(np.int64))
    R = E - np.asarray(C, dtype=np.float64)[pos]
    dsub = E.shape[1] // 4
    got = np.stack(pdf["pq_code"].to_numpy())
    for s in range(4):
        want = np.argmin(
            _sq_dists(R[:, s * dsub:(s + 1) * dsub], CBm[s]), axis=1)
        assert (got[:, s] == want).all()


def test_residual_and_plain_pq_are_distinct_generations(
        spark, emb, tmp_path):
    # switching residual mode re-runs the whole enable (new gen, new
    # codebooks, re-encoded rows) — and the marker guard refuses a
    # meta that claims the other mode
    import json as _json

    vi = VectorIndex(spark, str(tmp_path / "pqsw"))
    vi.build("e", emb, k=K)
    d1 = vi.enable_pq("e", m=4, ksub=16)
    d2 = vi.enable_pq("e", m=4, ksub=16, residual=True)
    assert d2["pq"]["gen"] == d1["pq"]["gen"] + 1
    out = vi.probe_pq("e", _queries(emb), topk=3, nprobe=2)
    assert out.count() > 0
    doc = vi.meta("e")
    del doc["pq"]["residual"]  # meta now claims plain codes
    vi._write_meta("e", doc)
    vi._cent_cache.clear()
    with pytest.raises(IOError, match="did not complete"):
        vi.probe_pq("e", _queries(emb), topk=3, nprobe=2)


def test_delete_accepts_victim_dataframe(spark, emb, tmp_path):
    # ADVICE r9 / VERDICT r9 #5: the takedown-RELATION overload —
    # victims arrive as a DataFrame, stay distributed (anti-join, no
    # driver-side victim collect), and the result is identical to the
    # id-list path.
    import glob
    import os

    vi = VectorIndex(spark, str(tmp_path / "dldf"))
    vi.build("e", emb, k=K)
    scan = spark.read.parquet(vi._assignments_dir("e"))
    some = scan.groupBy("bucket").count().orderBy(F.desc("count")) \
        .limit(1).collect()[0]
    victims_df = (scan.filter(F.col("bucket") == some.bucket)
                  .select("vec_id").limit(3))
    victim_ids = [r.vec_id for r in victims_df.collect()]  # test oracle only
    before_meta = vi.meta("e")
    untouched = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{vi._assignments_dir('e')}/bucket=*/part-*")
        if f"bucket={some.bucket}/" not in p
    }
    assert vi.delete("e", victims_df) == 3
    after = spark.read.parquet(vi._assignments_dir("e"))
    assert after.filter(F.col("vec_id").isin(victim_ids)).count() == 0
    assert vi.meta("e")["n_vectors"] == before_meta["n_vectors"] - 3
    for p, mtime in untouched.items():
        assert os.path.getmtime(p) == mtime, p  # file not rewritten
    # a victim frame that matches nothing is a no-op
    none = spark.createDataFrame([(10 ** 9,)], "vec_id long")
    assert vi.delete("e", none) == 0
    got = vi.probe("e", _queries(emb), topk=5, nprobe=K)
    assert got.filter(F.col("neighbor_id").isin(victim_ids)).count() == 0


def test_swap_crash_window_restores_lost_bucket(spark, emb, tmp_path):
    # r11 (the HNSW ADVICE fix, cross-applied): a crash between
    # delete()'s two per-bucket renames leaves no live bucket=B; the
    # next verb or probe must restore the .old remnant instead of
    # serving an index with a silently-missing bucket.
    import os

    vi = VectorIndex(spark, str(tmp_path / "cw"))
    vi.build("e", emb, k=K)
    qs = _queries(emb)
    pre = {(r.query_id, r.neighbor_id) for r in
           vi.probe("e", qs, topk=5, nprobe=K).collect()}
    live = vi._assignments_dir("e")
    some = sorted(d for d in os.listdir(live) if d.startswith("bucket="))[0]
    os.rename(f"{live}/{some}", f"{live}/{some}.old")
    # probe restores the pre-crash state (no vanished bucket)
    assert {(r.query_id, r.neighbor_id) for r in
            vi.probe("e", qs, topk=5, nprobe=K).collect()} == pre
    assert not os.path.exists(f"{live}/{some}.old")
    # stale remnant BESIDE a live bucket (crash after the second
    # rename) is cleared, live wins
    os.makedirs(f"{live}/{some}.old")
    vi.compact("e")
    assert not os.path.exists(f"{live}/{some}.old")
    assert {(r.query_id, r.neighbor_id) for r in
            vi.probe("e", qs, topk=5, nprobe=K).collect()} == pre


def test_compact_crash_window_restores_whole_dir(spark, emb, tmp_path):
    # r11: crash between compact()'s two whole-dir renames leaves no
    # live assignments dir; re-entry must restore the .old (pre-fix it
    # DELETED the .old holding the only copy, then failed on the read).
    import os

    vi = VectorIndex(spark, str(tmp_path / "cc"))
    vi.build("e", emb, k=K)
    qs = _queries(emb)
    pre = {(r.query_id, r.neighbor_id) for r in
           vi.probe("e", qs, topk=5, nprobe=K).collect()}
    live = vi._assignments_dir("e")
    os.rename(live, f"{live}.old")
    vi.compact("e")  # re-entry: restore then compact normally
    assert {(r.query_id, r.neighbor_id) for r in
            vi.probe("e", qs, topk=5, nprobe=K).collect()} == pre


def test_append_batch_cross_batch_redelivery(spark, emb, tmp_path):
    # The HNSW r11 ADVICE fix cross-applied (found missing here by
    # the crash fuzz): a vec_id redelivered under a DIFFERENT batch
    # id (at-least-once source) must neither duplicate its assignment
    # row nor inflate n_vectors.
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    vi = VectorIndex(spark, str(tmp_path / "rd"))
    vi.build("e", a, k=8)
    vi.append_batch("e", b, 0)
    # batch 1 redelivers ALL of b alongside the genuinely-new c
    vi.append_batch("e", b.unionByName(c), 1)
    n = emb.count()
    assert vi.meta("e")["n_vectors"] == n
    asg = spark.read.parquet(vi._assignments_dir("e"))
    assert asg.count() == n
    assert asg.select("vec_id").distinct().count() == n


def test_delete_crash_before_meta_write_recounts(spark, emb, tmp_path):
    # Crash-fuzz finding (r11): a kill between delete()'s last bucket
    # swap and its meta write used to strand n_vectors forever — the
    # replayed delete finds no victims and returns 0, and the old
    # decrement-based accounting never ran.  The commit now RECOUNTS
    # from the live table, so the replay (a no-op on files) still
    # heals the meta.
    import shutil

    from tests.crash_fuzz_harness import CountdownFS
    from rados_timestore_spark.fsutil import SimulatedCrash

    sub = emb.filter(F.col("vec_id") < 200)
    victims = [r.vec_id for r in
               sub.filter(F.col("vec_id") % 10 == 4)
               .select("vec_id").collect()]
    tmpl = str(tmp_path / "tmpl")
    VectorIndex(spark, tmpl).build("e", sub, k=8)

    # dry-count delete's FS mutations; the meta write is the last one
    probe_root = str(tmp_path / "dry")
    shutil.copytree(tmpl, probe_root)
    dry = VectorIndex(spark, probe_root)
    dry.fs = CountdownFS(dry.fs)
    dry.delete("e", victims)
    total = dry.fs.ops
    want = dry.meta("e")["n_vectors"]
    assert want == sub.count() - len(victims)

    work = str(tmp_path / "crash")
    shutil.copytree(tmpl, work)
    vi = VectorIndex(spark, work)
    # the last TWO counted mutations are the meta write and the CAS
    # flip lock's release delete (r13, _commit_meta) — kill just
    # before the meta write itself
    vi.fs = CountdownFS(vi.fs, fuel=total - 2)
    with pytest.raises(SimulatedCrash):
        vi.delete("e", victims)  # dies just before the meta write
    # the kill lands inside the CAS commit window, leaving the flip
    # lock held — sweep it like the crash runbook's accelerated
    # stale-break (see crash_fuzz_harness.recover_and_replay)
    import glob
    import os

    for lk in glob.glob(f"{work}/**/*.lock", recursive=True):
        os.remove(lk)
    cold = VectorIndex(spark, work)
    assert cold.delete("e", victims) == 0  # files already final
    assert cold.meta("e")["n_vectors"] == want


def test_append_batch_duplicate_id_deterministic_winner(
        spark, emb, tmp_path):
    # Review finding (r11): dropDuplicates keeps an arbitrary row, so
    # a crashed attempt and its replay could pick DIFFERENT embeddings
    # for a duplicated vec_id — routing the id into two buckets.  The
    # dedup now orders by the embedding's string cast: two independent
    # runs must produce byte-identical assignments.
    import pandas as pd

    a = emb.filter(F.col("vec_id") % 2 == 0).limit(40)
    dup_rows = emb.filter(F.col("vec_id") % 2 == 1).limit(6)
    # same ids, two different embeddings each (the second shifted)
    shifted = dup_rows.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(3.0))
        .cast("array<float>").alias("embedding"))
    batch = dup_rows.select("vec_id", "embedding").unionByName(shifted)

    def run(root):
        vi = VectorIndex(spark, root)
        vi.build("e", a, k=8)
        vi.append_batch("e", batch, 0)
        return (spark.read.parquet(vi._assignments_dir("e"))
                .select("vec_id", "bucket", "embedding").toPandas()
                .sort_values(["vec_id", "bucket"])
                .reset_index(drop=True))

    r1 = run(str(tmp_path / "one"))
    r2 = run(str(tmp_path / "two"))
    pd.testing.assert_frame_equal(r1, r2)
    n_ids = batch.select("vec_id").distinct().count()
    assert (r1["vec_id"].isin(
        [r.vec_id for r in dup_rows.collect()])).sum() == n_ids


@pytest.mark.parametrize("residual", [False, True])
def test_fused_build_pq_equals_build_then_enable_pq(
        spark, emb, tmp_path, residual):
    # r12 differential law: build(pq=...) — ONE corpus pass, codes
    # encoded inline during the assignment scan — must produce the
    # byte-identical index that build() + enable_pq(...) reaches with
    # its second full encode-only rewrite: same codebooks, same
    # per-vector (bucket, pq_code), same meta pq doc, same ADC probes.
    from rados_timestore_spark.vector_index import VectorIndex

    kw = dict(m=4, ksub=16, residual=residual)

    fused = VectorIndex(spark, str(tmp_path / f"f{int(residual)}"))
    fused.build("e", emb, k=K, pq=kw)
    staged = VectorIndex(spark, str(tmp_path / f"s{int(residual)}"))
    staged.build("e", emb, k=K)
    staged.enable_pq("e", **kw)

    assert fused.meta("e")["pq"] == staged.meta("e")["pq"]

    def cb(vi):
        return {(r.s, r.code): tuple(r.cv) for r in
                spark.read.parquet(vi._pq_dir("e")).collect()}

    assert cb(fused) == cb(staged)

    def rows(vi):
        return {r.vec_id: (r.bucket, tuple(r.pq_code)) for r in
                spark.read.parquet(vi._assignments_dir("e")).collect()}

    rf, rs = rows(fused), rows(staged)
    assert rf == rs and len(rf) == emb.count()

    qs = [(r.vec_id, list(r.embedding)) for r in
          emb.filter(F.col("vec_id") < 3).collect()]
    pf = [(r.query_id, r.rank, r.neighbor_id) for r in
          fused.probe_pq("e", qs, nprobe=4, topk=5)
          .orderBy("query_id", "rank").collect()]
    ps = [(r.query_id, r.rank, r.neighbor_id) for r in
          staged.probe_pq("e", qs, nprobe=4, topk=5)
          .orderBy("query_id", "rank").collect()]
    assert pf == ps and len(pf) == 15


def test_fused_residual_pq_law_holds_for_float64_source(spark, tmp_path):
    # ADVICE r12 #2: the fused build residualized its codebook
    # training sample against the argmax computed AFTER the float32
    # cast, while the stored bucket (assign_to_centroids) and
    # enable_pq's path both use the raw-precision argmax.  For an
    # array<double> source whose cast flips a training vector's
    # nearest centroid, the fused and staged codebooks diverged —
    # invisible on the array<float> fixture where the cast is
    # identity.  This corpus plants exactly that vector: vec 2's raw
    # argmax is centroid 0 but its float32 cast's argmax is
    # centroid 1 (premise asserted below, so a fixture drift can't
    # turn the test vacuous).
    from rados_timestore_spark.vector_index import (
        VectorIndex, seq_cos_matrix)

    flip = [0.8944271933913788, 0.44721358927816474]
    vecs = [
        [1.0, 0.0],        # id 0 — centroid 0
        [0.6, 0.8],        # id 1 — centroid 1
        flip,              # id 2 — PQ training vector, cast-flipped
        [0.2, 0.9],        # id 3 — PQ training vector
        [0.9, 0.1], [0.1, 0.95], [0.7, 0.7], [0.55, 0.82],
        [0.99, 0.05], [0.05, 0.99], [0.8, 0.3], [0.3, 0.8],
    ]
    C = np.array(vecs[:2]).astype(np.float32).astype(np.float64)
    v = np.array([flip])
    a_raw = np.argmax(seq_cos_matrix(v, C, 2), axis=1)[0]
    a_32 = np.argmax(seq_cos_matrix(
        v.astype(np.float32).astype(np.float64), C, 2), axis=1)[0]
    assert a_raw != a_32, "fixture premise lost: cast no longer flips"

    src = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(m=2, ksub=4, residual=True)
    fused = VectorIndex(spark, str(tmp_path / "f64f"))
    fused.build("e", src, k=2, pq=kw)
    staged = VectorIndex(spark, str(tmp_path / "f64s"))
    staged.build("e", src, k=2)
    staged.enable_pq("e", **kw)

    assert fused.meta("e")["pq"] == staged.meta("e")["pq"]

    def cb(vi):
        return {(r.s, r.code): tuple(r.cv) for r in
                spark.read.parquet(vi._pq_dir("e")).collect()}

    assert cb(fused) == cb(staged)

    def rows(vi):
        return {r.vec_id: (r.bucket, tuple(r.pq_code)) for r in
                spark.read.parquet(vi._assignments_dir("e")).collect()}

    assert rows(fused) == rows(staged)


def test_rebuild_with_pq_never_serves_stale_codebooks(spark, emb, tmp_path):
    # r12 review finding: gen alone recycled across rebuilds, so the
    # in-process (ns, gen) codebook cache could serve the OLD tensor
    # against the new codes.  The cache and the marker now bind to
    # the index VERSION as well.
    from rados_timestore_spark.vector_index import VectorIndex

    vi = VectorIndex(spark, str(tmp_path / "rb"))
    half = emb.filter(F.col("vec_id") % 2 == 0)
    vi.build("e", half, k=K, pq=dict(m=4, ksub=16))
    qs = [(r.vec_id, list(r.embedding)) for r in
          emb.filter(F.col("vec_id") < 3).collect()]
    vi.probe_pq("e", qs, nprobe=4, topk=5).collect()  # warms the cache
    # rebuild over a DIFFERENT corpus slice: new codebooks, new codes
    other = emb.filter(F.col("vec_id") % 2 == 1)
    vi.build("e", other, k=K, pq=dict(m=4, ksub=16))
    got = {r.neighbor_id for r in
           vi.probe_pq("e", qs, nprobe=4, topk=5).collect()}
    valid = {r.vec_id for r in other.select("vec_id").collect()}
    assert got and got <= valid  # served from the NEW index, not cache
    # and a marker/meta version mismatch is LOUD, not servable:
    # simulate the rebuild that crashed between codebook and meta
    # writes by rewriting the marker with a bumped version
    import json as _json

    marker_path = f"{vi._pq_dir('e')}/{'_pq_meta.json'}"
    marker = _json.loads(vi.fs.read_text(marker_path))
    marker["version"] = int(marker["version"]) + 1
    vi.fs.write_text_atomic(marker_path, _json.dumps(marker))
    vi._cent_cache.clear()
    with pytest.raises(IOError, match="do not match"):
        vi.probe_pq("e", qs, nprobe=4, topk=5).collect()


def test_plain_rebuild_carries_pq_gen_floor(spark, emb, tmp_path):
    # a rebuild WITHOUT pq drops the pq block but must not reset the
    # generation clock for a later enable_pq (same review finding)
    from rados_timestore_spark.vector_index import VectorIndex

    vi = VectorIndex(spark, str(tmp_path / "fl"))
    vi.build("e", emb, k=K, pq=dict(m=4, ksub=16))
    g1 = vi.meta("e")["pq"]["gen"]
    vi.build("e", emb, k=K)                       # plain rebuild
    assert "pq" not in vi.meta("e")
    assert vi.meta("e")["pq_gen_floor"] == g1
    vi.enable_pq("e", m=4, ksub=16)
    assert vi.meta("e")["pq"]["gen"] == g1 + 1    # clock continued
    assert "pq_gen_floor" not in vi.meta("e")


def test_rebuild_crash_windows_never_serve_mixed_state(spark, emb, tmp_path):
    # r13: a REBUILD overwrites centroids, then assignments, then
    # commits meta — a kill between any of those used to leave NEW
    # routing servable against OLD meta/assignments, silently pruning
    # the wrong buckets.  The centroid marker (version-bound, written
    # right after the centroid overwrite) makes every such window a
    # loud retryable refusal.  Sweep EVERY rebuild boundary: the cold
    # probe must either serve the OLD corpus, serve the NEW corpus,
    # or raise the marker IOError — never a silent mix; replaying the
    # rebuild always converges to the NEW index.
    import glob
    import os
    import shutil

    from rados_timestore_spark.fsutil import SimulatedCrash
    from tests.crash_fuzz_harness import CountdownFS

    old_corpus = emb.filter((F.col("vec_id") % 2 == 0)
                            & (F.col("vec_id") < 200))
    new_corpus = emb.filter((F.col("vec_id") % 2 == 1)
                            & (F.col("vec_id") < 200))
    evens = {r.vec_id for r in old_corpus.select("vec_id").collect()}
    odds = {r.vec_id for r in new_corpus.select("vec_id").collect()}
    qs = [(r.vec_id, list(r.embedding)) for r in
          emb.filter(F.col("vec_id") < 2).collect()]

    tmpl = str(tmp_path / "tmpl")
    VectorIndex(spark, tmpl).build("e", old_corpus, k=8)

    dry_root = str(tmp_path / "dry")
    shutil.copytree(tmpl, dry_root)
    dry = VectorIndex(spark, dry_root)
    dry.fs = CountdownFS(dry.fs)
    dry.build("e", new_corpus, k=8)
    total = dry.fs.ops
    want_new = {(r.query_id, r.rank): r.neighbor_id for r in
                dry.probe("e", qs, nprobe=4, topk=5).collect()}

    guard_fired = False
    for fuel in range(total):
        work = str(tmp_path / f"w{fuel}")
        crashed = VectorIndex(spark, work)
        shutil.copytree(tmpl, work)
        crashed.fs = CountdownFS(crashed.fs, fuel=fuel)
        try:
            crashed.build("e", new_corpus, k=8)
            shutil.rmtree(work, ignore_errors=True)
            continue  # swallowed boundary: build completed
        except SimulatedCrash:
            pass
        for lk in glob.glob(f"{work}/**/*.lock", recursive=True):
            os.remove(lk)
        cold = VectorIndex(spark, work)
        try:
            got = {r.neighbor_id for r in
                   cold.probe("e", qs, nprobe=4, topk=5).collect()}
            assert got and (got <= evens or got <= odds), \
                f"fuel={fuel}: mixed-corpus serve {got}"
        except IOError as exc:
            assert "re-run build()" in str(exc)
            guard_fired = True
        # replay converges to the NEW index
        replay = VectorIndex(spark, work)
        replay.build("e", new_corpus, k=8)
        got = {(r.query_id, r.rank): r.neighbor_id for r in
               replay.probe("e", qs, nprobe=4, topk=5).collect()}
        assert got == want_new, f"fuel={fuel}"
        shutil.rmtree(work, ignore_errors=True)
    assert guard_fired  # the sweep crossed at least one guarded window


def test_legacy_index_without_centroid_marker_still_serves(
        spark, emb, tmp_path):
    # pre-r13 indexes have neither the marker nor the meta flag —
    # they must keep serving (back-compat), and their first rebuild
    # upgrades them into the guarded world
    import json
    import os

    vi = VectorIndex(spark, str(tmp_path / "lg"))
    sub = emb.filter(F.col("vec_id") < 100)
    vi.build("e", sub, k=8)
    # strip the r13 marker + flag, simulating a pre-r13 index
    os.remove(f"{vi._centroids_dir('e')}/_cent_meta.json")
    doc = json.loads(vi.fs.read_text(f"{vi._ns_dir('e')}/_vidx_meta.json"))
    doc.pop("cent_marker")
    vi.fs.write_text_atomic(
        f"{vi._ns_dir('e')}/_vidx_meta.json", json.dumps(doc))
    vi._cent_cache.clear()
    qs = [(r.vec_id, list(r.embedding)) for r in
          emb.filter(F.col("vec_id") < 2).collect()]
    assert vi.probe("e", qs, nprobe=4, topk=5).count() == 10
    vi.build("e", sub, k=8)   # first marker-aware rebuild
    assert vi.meta("e")["cent_marker"]
    assert vi.probe("e", qs, nprobe=4, topk=5).count() == 10


# ---------------------------------------------------------- retrain
# VERDICT r13 #2: the centroid-growth escape hatch, mirroring the
# HNSW reshard.  Laws: retrain(k) == fresh build(k) over the stored
# vectors (content + probes); ingest fences survive; crash windows
# converge; the commit point fences mid-flight maintainers.


def _content(spark, vi, ns="e"):
    cent = sorted((r.cid, tuple(r.ce)) for r in
                  spark.read.parquet(vi._centroids_dir(ns)).collect())
    cols = spark.read.parquet(vi._assignments_dir(ns)).columns
    rows = spark.read.parquet(vi._assignments_dir(ns)).collect()
    assign = sorted(
        (r.vec_id, r.bucket, tuple(r.embedding),
         tuple(r.pq_code) if "pq_code" in cols else ())
        for r in rows)
    return cent, assign


def test_retrain_equals_fresh_build(spark, emb, tmp_path):
    sub = emb.filter(F.col("vec_id") < 300)
    vi = VectorIndex(spark, str(tmp_path / "rt"))
    vi.build("e", sub, k=8)
    qs = _queries(emb)
    before = {(r.query_id, r.rank): r.neighbor_id
              for r in vi.probe("e", qs, nprobe=8, topk=5).collect()}

    doc = vi.retrain("e", k=32)
    assert doc["k"] == 32 and doc["version"] == 2
    assert doc["n_vectors"] == 300

    fresh = VectorIndex(spark, str(tmp_path / "fb"))
    fresh.build("e", sub, k=32)
    assert _content(spark, vi) == _content(spark, fresh)
    for key in ("k", "dim", "n_vectors", "trainer"):
        assert vi.meta("e")[key] == fresh.meta("e")[key]

    # probes on the retrained index == fresh-build probes, and (this
    # fixture's exact rerank saturates recall at nprobe=k) == the
    # pre-retrain answer
    after = {(r.query_id, r.rank): r.neighbor_id
             for r in vi.probe("e", qs, nprobe=32, topk=5).collect()}
    fresh_probe = {(r.query_id, r.rank): r.neighbor_id
                   for r in fresh.probe("e", qs, nprobe=32,
                                        topk=5).collect()}
    assert after == fresh_probe
    # exhaustive probes (nprobe == k on both sides) are
    # bucketing-invariant, so the answer survives the retrain
    assert after == before

    # no staging/marker remnants survive a clean retrain
    assert not vi.fs.exists(f"{vi._ns_dir('e')}/_retrain.json")
    for base in (vi._centroids_dir("e"), vi._pq_dir("e"),
                 vi._assignments_dir("e")):
        assert not vi.fs.exists(f"{base}.retraining")
        assert not vi.fs.exists(f"{base}.preretrain")


def test_retrain_pq_reencodes_and_matches_fresh_fused_build(
        spark, emb, tmp_path):
    sub = emb.filter(F.col("vec_id") < 250)
    vi = VectorIndex(spark, str(tmp_path / "rtpq"))
    vi.build("e", sub, k=8, pq={"m": 4, "ksub": 16, "residual": True})
    g1 = vi.meta("e")["pq"]["gen"]
    vi.retrain("e", k=16)
    doc = vi.meta("e")
    assert doc["pq"]["gen"] == g1 + 1      # codebook generation bumped
    assert doc["pq"]["residual"] is True

    fresh = VectorIndex(spark, str(tmp_path / "fbpq"))
    fresh.build("e", sub, k=16,
                pq={"m": 4, "ksub": 16, "residual": True})
    assert _content(spark, vi) == _content(spark, fresh)
    qs = _queries(emb)
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in vi.probe_pq("e", qs, nprobe=16, topk=5).collect()}
    want = {(r.query_id, r.rank): r.neighbor_id
            for r in fresh.probe_pq("e", qs, nprobe=16,
                                    topk=5).collect()}
    assert got == want


def test_retrain_preserves_ingest_fences(spark, emb, tmp_path):
    # unlike a fresh build, retrain keeps batch_fences/last_batch_id —
    # an exactly-once streaming ingest must stay fenced across it
    vi = VectorIndex(spark, str(tmp_path / "rtf"))
    vi.build("e", emb.filter(F.col("vec_id") < 150), k=8)
    b = emb.filter(F.col("vec_id").between(150, 199))
    vi.append_batch("e", b, batch_id=3, app_id="q-rt")
    assert vi.meta("e")["batch_fences"] == {"q-rt": 3}

    vi.retrain("e", k=16)
    assert vi.meta("e")["batch_fences"] == {"q-rt": 3}
    n = vi.meta("e")["n_vectors"]
    # the replay is STILL fenced (a fresh build would have wiped the
    # fence and double-applied)
    vi.append_batch("e", b, batch_id=3, app_id="q-rt")
    assert vi.meta("e")["n_vectors"] == n == 200


def test_retrain_crash_windows_converge(spark, emb, tmp_path):
    # kill BEFORE the marker: retrain aborts — stagings swept at the
    # next verb entry, pre-retrain index intact (one txn burned).
    # kill AFTER the marker (roll-forward skipped): the next entry —
    # even a probe's — completes the swaps and commits the target.
    import json

    sub = emb.filter(F.col("vec_id") < 200)
    root = str(tmp_path / "rtc")
    vi = VectorIndex(spark, root)
    vi.build("e", sub, k=8)
    t0 = int(vi.meta("e")["txn"])
    qs = _queries(emb)

    class Kill(RuntimeError):
        pass

    orig_write = type(vi.fs).write_text_atomic

    def dying(self, path, text):
        if path.endswith("/_retrain.json"):
            raise Kill("killed before the marker write")
        return orig_write(self, path, text)

    type(vi.fs).write_text_atomic = dying
    try:
        with pytest.raises(Kill):
            vi.retrain("e", k=32)
    finally:
        type(vi.fs).write_text_atomic = orig_write
    doc = vi.meta("e")
    assert doc["k"] == 8 and doc["version"] == 1   # aborted
    assert int(doc["txn"]) == t0 + 1               # burned fence txn
    vi.compact("e")                                # sweeps stagings
    for base in (vi._centroids_dir("e"), vi._pq_dir("e"),
                 vi._assignments_dir("e")):
        assert not vi.fs.exists(f"{base}.retraining")
    assert vi.probe("e", qs, nprobe=8, topk=5).count() == 15

    # now the post-marker window: freeze the completion call
    orig_restore = VectorIndex._restore_remnants

    def frozen(self, ns, sweep_stagings=False):
        if not sweep_stagings:
            return
        return orig_restore(self, ns, sweep_stagings)

    VectorIndex._restore_remnants = frozen
    try:
        vi.retrain("e", k=32)
    finally:
        VectorIndex._restore_remnants = orig_restore
    assert vi.fs.exists(f"{vi._ns_dir('e')}/_retrain.json")
    assert vi.meta("e")["k"] == 8                 # not yet committed
    # a fresh reader's PROBE entry rolls the retrain forward
    reader = VectorIndex(spark, root)
    got = reader.probe("e", qs, nprobe=32, topk=5)
    assert got.count() == 15
    doc = reader.meta("e")
    assert doc["k"] == 32 and doc["version"] == 2
    assert not reader.fs.exists(f"{reader._ns_dir('e')}/_retrain.json")
    fresh = VectorIndex(spark, str(tmp_path / "rtcf"))
    fresh.build("e", sub, k=32)
    assert _content(spark, reader) == _content(spark, fresh)


def test_build_after_crashed_retrain_is_not_clobbered(
        spark, emb, tmp_path):
    # the HNSW r13 severe finding, mirrored: a crashed retrain's
    # marker must NOT roll forward over a subsequent fresh build —
    # build() runs recovery first, completing the retrain BEFORE it
    # reads the prior meta, so the build wins cleanly.
    sub = emb.filter(F.col("vec_id") < 150)
    root = str(tmp_path / "rtb")
    vi = VectorIndex(spark, root)
    vi.build("e", sub, k=8)

    orig_restore = VectorIndex._restore_remnants

    def frozen(self, ns, sweep_stagings=False):
        if not sweep_stagings:
            return
        return orig_restore(self, ns, sweep_stagings)

    VectorIndex._restore_remnants = frozen
    try:
        vi.retrain("e", k=32)      # marker written, swaps frozen
    finally:
        VectorIndex._restore_remnants = orig_restore
    assert vi.fs.exists(f"{vi._ns_dir('e')}/_retrain.json")

    bigger = emb.filter(F.col("vec_id") < 220)
    vi.build("e", bigger, k=8)     # recovery-first, then rebuild
    doc = vi.meta("e")
    assert doc["n_vectors"] == 220 and doc["k"] == 8
    assert not vi.fs.exists(f"{vi._ns_dir('e')}/_retrain.json")
    qs = _queries(emb)
    assert vi.probe("e", qs, nprobe=8, topk=5).count() == 15
    # and a later verb entry does not resurrect the dead retrain
    vi.compact("e")
    assert vi.meta("e")["n_vectors"] == 220 and vi.meta("e")["k"] == 8


def test_append_after_crashed_retrain_preserves_rows(
        spark, emb, tmp_path):
    # r14 review severe finding: append was the ONE verb entry
    # without _restore_remnants(sweep_stagings=True) — after a
    # retrain killed at its commit point (fence txn + marker
    # written, swaps not run), append would land its rows in the
    # doomed pre-retrain assignments dir and the NEXT entry's
    # roll-forward silently deleted them.  With the guard, append
    # completes the retrain first and the rows survive forever.
    sub = emb.filter(F.col("vec_id") < 150)
    root = str(tmp_path / "rta")
    vi = VectorIndex(spark, root)
    vi.build("e", sub, k=8)

    orig_restore = VectorIndex._restore_remnants

    def frozen(self, ns, sweep_stagings=False):
        if not sweep_stagings:
            return
        return orig_restore(self, ns, sweep_stagings)

    VectorIndex._restore_remnants = frozen
    try:
        vi.retrain("e", k=32)      # marker written, swaps frozen
    finally:
        VectorIndex._restore_remnants = orig_restore
    assert vi.fs.exists(f"{vi._ns_dir('e')}/_retrain.json")

    extra = emb.filter(
        (F.col("vec_id") >= 150) & (F.col("vec_id") < 200))
    doc = vi.append("e", extra)
    # the entry restore completed the retrain BEFORE the append —
    # rows were assigned under the NEW (k=32) routing
    assert doc["k"] == 32 and doc["n_vectors"] == 200
    assert not vi.fs.exists(f"{vi._ns_dir('e')}/_retrain.json")
    # later entries must not discard the appended rows (pre-fix,
    # compact's roll-forward deleted them with no error anywhere)
    vi.compact("e")
    assert vi.meta("e")["n_vectors"] == 200
    assert (spark.read.parquet(vi._assignments_dir("e"))
            .select("vec_id").distinct().count()) == 200
    # and they are probe-visible
    qs = _queries(emb)
    assert vi.probe("e", qs, nprobe=32, topk=5).count() == 15


def test_probe_detects_concurrent_retrain_swap(spark, emb, tmp_path):
    # the _pruned_scan snapshot check: routing loaded from the cache
    # for version v, then a retrain flips the centroid marker before
    # the bucket listing — the probe must never route old centroids
    # against new buckets.  A PERSISTENT mismatch (planted here)
    # exhausts the bounded retry and propagates loudly; healing the
    # marker heals the probe.
    import json

    from rados_timestore_spark.vector_index import RetrainRaceError

    vi = VectorIndex(spark, str(tmp_path / "rp"))
    vi.build("e", emb.filter(F.col("vec_id") < 120), k=8)
    qs = _queries(emb)
    assert vi.probe("e", qs, nprobe=4, topk=5).count() == 15  # caches v1

    marker = f"{vi._centroids_dir('e')}/_cent_meta.json"
    vi.fs.write_text_atomic(marker, json.dumps({"version": 2}))
    with pytest.raises(RetrainRaceError, match="still racing"):
        vi.probe("e", qs, nprobe=4, topk=5)
    vi.fs.write_text_atomic(marker, json.dumps({"version": 1}))
    assert vi.probe("e", qs, nprobe=4, topk=5).count() == 15


def test_stats_and_overgrowth_warning(spark, emb, tmp_path, monkeypatch):
    # the IVF twin of the HNSW shard-bound tripwire (VERDICT r13 #3):
    # stats reports exact per-bucket counts; appends warn on mean
    # density past BUCKET_BOUND, pointing at retrain.
    import warnings

    sub = emb.filter(F.col("vec_id") < 120)
    vi = VectorIndex(spark, str(tmp_path / "vst"))
    vi.build("e", sub.filter(F.col("vec_id") < 80), k=8)

    st = vi.stats("e")
    assert st["k"] == 8 and st["n_vectors"] == 80
    assert sum(st["per_bucket"].values()) == 80
    assert st["over_bound"] == [] and st["bound"] == 1_000_000

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        vi.append("e", sub.filter(F.col("vec_id").between(80, 99)))

    monkeypatch.setattr(VectorIndex, "BUCKET_BOUND", 10)
    with pytest.warns(UserWarning, match="mean bucket density"):
        vi.append("e", sub.filter(F.col("vec_id").between(100, 119)))
    st = vi.stats("e")
    assert st["n_vectors"] == 120 and st["over_bound"]


def test_maintain_noop_when_healthy_heals_when_overgrown(
        spark, emb, tmp_path, monkeypatch):
    # r14: the measure-then-heal verb closing the observability loop
    # — healthy index is a BYTE-untouched no-op; an over-bound index
    # retrains at the k the shared pure rule derives (density back
    # to bound // 2), after which maintain converges to no-op.
    import os

    sub = emb.filter(F.col("vec_id") < 120)
    root = str(tmp_path / "vmt")
    vi = VectorIndex(spark, root)
    vi.build("e", sub, k=8)

    def snapshot():
        out = []
        for dirp, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirp, f)
                s = os.stat(p)
                out.append((p, s.st_size, s.st_mtime_ns))
        return sorted(out)

    before = snapshot()
    res = vi.maintain("e")
    assert res["action"] == "none"
    assert res["stats"]["n_vectors"] == 120
    assert snapshot() == before                 # strict no-op

    monkeypatch.setattr(VectorIndex, "BUCKET_BOUND", 10)
    res = vi.maintain("e")
    assert res["action"] == "retrain"
    assert res["k"] == 24                       # ceil(120 / (10//2))
    doc = vi.meta("e")
    assert doc["k"] == 24 and doc["version"] == 2
    assert doc["n_vectors"] == 120              # rows preserved
    qs = _queries(emb)
    assert vi.probe("e", qs, nprobe=24, topk=5).count() == 15
    # healed: the next maintain converges to a no-op
    res2 = vi.maintain("e")
    assert res2["action"] == "none"


def test_maintain_terminates_on_duplicate_heavy_corpus(
        spark, tmp_path, monkeypatch):
    # r14 review finding: kmeans drops empty clusters, so on a
    # corpus with ONE distinguishable group the committed k collapses
    # to 1 however large the requested k — planning against the
    # committed k alone re-ran an identical full retrain forever.
    # The fix persists k_requested and plans against
    # max(committed, requested), which strictly grows to the n-clamp
    # and then reports healthy.  The per-bucket bound is genuinely
    # unachievable here (every row is identical), so "healthy" is
    # the only honest terminal state.
    dup = spark.range(120).selectExpr(
        "id as vec_id",
        "array(0.5D, 0.25D, 0.125D, 0.0625D) as embedding")
    root = str(tmp_path / "vdup")
    vi = VectorIndex(spark, root)
    vi.build("e", dup, k=8)

    monkeypatch.setattr(VectorIndex, "BUCKET_BOUND", 10)
    actions = []
    for _ in range(8):
        res = vi.maintain("e")
        actions.append(res["action"])
        if res["action"] == "none":
            break
    assert actions[-1] == "none"         # terminated
    assert actions.count("retrain") < 8  # and not by exhausting the loop
    # the committed state is the collapsed-but-stable one; rows intact
    doc = vi.meta("e")
    assert doc["n_vectors"] == 120
    assert int(doc["k_requested"]) >= int(doc["k"])
    qs = [(0, [0.5, 0.25, 0.125, 0.0625])]
    assert vi.probe("e", qs, nprobe=max(int(doc["k"]), 1),
                    topk=5).count() == 5
