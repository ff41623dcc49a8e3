"""Persisted IVF vector index — build once, probe many.

The reference persists ROUTING METADATA at register time and reuses it
on every read: the epoch->bucket ``Index`` map is written by
``registerNamespace`` and fetched, never recomputed, by each query
(``lib/TimeStore/Index.hs:37-49``; ``tests/UnitTests.hs:140-147``
``registerWritesIndex`` pins the round-trip).  This module applies the
same model to embeddings: the coarse quantizer's centroids are the
routing table, and per-vector bucket assignments are the routed data —
both persisted as parquet under an index root so a probe reuses them
WITHOUT re-running the trainer or the O(n*k) assignment pass that
every in-query ANN path (``sim_ivf_ann`` and friends) pays per query.

Layout under ``root/<ns>/``::

    _vidx_meta.json           k, dim, n_vectors, version (commit marker)
    centroids/                parquet (cid long, ce array<float>)
    assignments/bucket=<cid>/ parquet (vec_id long, embedding
                              array<float>[, meta_cols...,
                              pq_code array<smallint>]), hive-partitioned
    pq_codebooks/             parquet (s int, code int, cv
                              array<float>; array<double> in residual
                              mode) + _pq_meta.json marker
                              (m/ksub/gen/residual, cross-checked
                              against the meta's pq block) — after
                              enable_pq()

Scale design (the build-once/probe-many shape at 100 TB):

* ``build`` — centroid selection is BOUNDED driver state (k rows
  collected once, k constant in corpus size); assignment is one
  shuffle-free ``mapInPandas`` argmax scan (O(n*k) work, 64 KiB
  closure); the single data-size pass is the ``partitionBy(bucket)``
  write, paid once instead of per probe.
* ``probe`` — centroids load from the persisted k-row table; the
  nprobe bucket choice per query is numpy over that bounded matrix;
  the corpus scan reads ONLY the probed bucket directories (a static
  ``bucket IN (...)`` predicate -> ``PartitionFilters``, pinned by
  tests/test_plans.py) and ranks exactly inside them.  Cost per query
  is nprobe/k of the corpus, independent of history size.
* ``append`` — new vectors are assigned to the EXISTING centroids
  (same kernel, no retrain) and appended to their bucket directories:
  incremental ingest at the cost of the new data only, with the
  exact law build(A ∪ B) == build(A) then append(B) because
  assignment is per-vector given a fixed routing table (law-tested in
  tests/test_vector_index.py and oracle-checked by
  ``sim_vecidx_append_probe``).

Float choreography: every cosine is the repo-standard sequential
left-to-right per-dimension double fold, bit-identical to
``queries_similarity._cos_seq`` and DuckDB's ``list_inner_product``
chain, so the persisted-index probe hash-matches the same DuckDB
oracle as the in-query IVF path.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rados_timestore_spark.core import one_slice_df
from rados_timestore_spark.fsutil import IndexKernel
from rados_timestore_spark.session import shuffle_partition_count

_META = "_vidx_meta.json"
_PQ_MARKER = "_pq_meta.json"
#: Build-generation marker inside the centroids dir (r13): a REBUILD
#: overwrites centroids, then assignments, then commits meta — a
#: crash between any of those leaves NEW routing servable against OLD
#: meta/assignments, and probes would silently prune the wrong
#: buckets.  The marker (written right after the centroid overwrite,
#: carrying the version the build WILL commit) turns every such
#: window into a loud retryable refusal: marker.version != the meta's
#: committed version => the rebuild crashed mid-way, re-run build().
#: Missing marker + meta without ``cent_marker`` flag = a pre-r13
#: index, accepted (one unavoidable silent window exists on the FIRST
#: marker-aware rebuild of a legacy index, crash-before-marker).
_CENT_MARKER = "_cent_meta.json"
#: Roll-forward marker for :meth:`VectorIndex.retrain` (r14, VERDICT
#: r13 #2): written under the meta flip lock AFTER all three staging
#: dirs are complete, carrying the full target meta.  From that commit
#: point the retrain completes deterministically at every verb/probe
#: entry (``IndexKernel._roll_forward``), across any kill.
_RETRAIN_MARKER = "_retrain.json"


def _bucket_shaped(df: DataFrame) -> DataFrame:
    """Hash each bucket wholly into one task AT THE SESSION'S SHUFFLE
    PARALLELISM before a bucket-partitioned write (r15; same rationale
    as ``store.shape_rewrite``): an un-counted ``repartition("bucket")``
    is AQE-coalescible, and AQE reasons in bytes — on a small-bytes
    index write it merges the exchange into ONE task, which then
    commits all k bucket files serially (~15 ms per parquet
    open/close; measured 4.4 s -> 1.5 s on the k=256 assignment
    write).  Pinning the count keeps the writer stage parallel where
    the cost is per-file; at scale it is a no-op (bucket bytes far
    exceed the advisory size, so AQE would not have coalesced) and the
    file count stays exactly k at any N."""
    return df.repartition(shuffle_partition_count(df.sparkSession),
                          "bucket")


def dedup_ids_deterministic(df: DataFrame, id_col: str,
                            vec_col: str) -> DataFrame:
    """Within-batch id dedup with a DETERMINISTIC winner: keep the
    row whose embedding casts to the lexicographically-smallest
    array<string>.  ``dropDuplicates([id])`` keeps an ARBITRARY row
    (review finding, r11): with two embeddings for one id routing to
    different buckets, a crashed attempt and its replay could each
    pick a different winner — the replay's pre-sweep and anti-join
    are both scoped to the replay's OWN buckets, so the other
    attempt's promoted copy survives and the id lands twice.  A
    stable total order makes every attempt pick the same row.  (Rows
    with IDENTICAL embeddings but different metadata still tie —
    the embedding is the routing input, so the copies land in the
    same bucket either way.)"""
    from pyspark.sql import Window

    key = F.concat_ws(",", F.col(vec_col).cast("array<string>"))
    w = Window.partitionBy(id_col).orderBy(key.asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def _append_pq_codes(df: DataFrame, CBm: np.ndarray,
                     res: tuple | None = None) -> DataFrame:
    """Encode-only ``mapInPandas`` pass: append a ``pq_code
    array<smallint>`` column (nearest sub-codeword per subspace,
    canonical sequential squared-L2 fold, first-min ties) while every
    existing column — including the stored ``bucket`` — rides through
    untouched.  Used by :meth:`VectorIndex.enable_pq`, which must not
    pay a nearest-centroid re-assignment just to re-obtain buckets it
    already persisted.

    ``res`` = (cids, C) switches to RESIDUAL encoding (FAISS
    by_residual=True): each row's stored bucket looks up its centroid
    and the codes quantize ``embedding - centroid`` — the residual is
    exact float64 arithmetic on float32-representable inputs, so the
    encode stays oracle-restatable."""
    CBm = np.asarray(CBm, dtype=np.float64)
    m, _ksub, dsub = CBm.shape
    cols = [c for c in df.columns if c != "pq_code"]
    if res is not None:
        res_cids = np.asarray(res[0], dtype=np.int64)
        res_C = np.asarray(res[1], dtype=np.float64)

    def enc(batches):
        from rados_timestore_spark.queries_similarity import _sq_dists

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if res is not None:
                pos = np.searchsorted(
                    res_cids, pdf["bucket"].to_numpy().astype(np.int64))
                E = E - res_C[pos]
            out = {c: pdf[c] for c in cols}
            codes = np.empty((len(E), m), dtype=np.int16)
            for s in range(m):
                sub = E[:, s * dsub:(s + 1) * dsub]
                codes[:, s] = np.argmin(_sq_dists(sub, CBm[s]), axis=1)
            out["pq_code"] = list(codes)
            yield pd.DataFrame(out)

    in_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema if f.name != "pq_code"
    )
    return df.select(*cols).mapInPandas(
        enc, f"{in_schema}, pq_code array<smallint>")


def seq_cos_matrix(E: np.ndarray, C: np.ndarray,
                   dim: int) -> np.ndarray:
    """Cosine of every row of ``E`` against every row of ``C`` with the
    repo's sequential per-dimension accumulation order (one vectorized
    numpy op per dimension), so results are bit-identical to
    ``_cos_seq`` / DuckDB regardless of batch shape."""
    acc = np.zeros((len(E), len(C)))
    ne = np.zeros(len(E))
    for i in range(dim):
        acc += E[:, i : i + 1] * C[:, i][None, :]
        ne += E[:, i] * E[:, i]
    nc = np.zeros(len(C))
    for i in range(dim):
        nc += C[:, i] * C[:, i]
    return acc / np.sqrt(ne)[:, None] / np.sqrt(nc)[None, :]


def assign_to_centroids(emb: DataFrame, cids: np.ndarray,
                        C: np.ndarray, dim: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        meta_cols: tuple = (),
                        pq_cb: np.ndarray | None = None,
                        pq_residual: bool = False) -> DataFrame:
    """Shuffle-free nearest-centroid assignment: one ``mapInPandas``
    scan doing an O(batch * k) argmax against the broadcast-closure
    centroid matrix.  ``cids`` must be sorted ascending so
    ``np.argmax``'s first-max-wins tie rule equals the SQL
    ``ORDER BY cos DESC, cid`` rule — the same kernel (and tie
    contract) as the in-query IVF path (``_ivf_parts``).

    ``meta_cols`` ride through unchanged (filtered-search metadata
    persisted NEXT TO the vectors, so probe predicates push into the
    bucket scan instead of joining the source table — the production
    filtered-ANN index layout).

    ``pq_cb`` — an (m, ksub, dsub) PQ codebook tensor — additionally
    emits a ``pq_code array<smallint>`` column (nearest sub-codeword
    per subspace, squared-L2 with the canonical sequential fold,
    np.argmin first-min == ties to the lowest code).  Codes live IN
    the assignment rows, so every maintenance verb (delete, compact)
    keeps them consistent for free, and the ADC probe reads just this
    one column out of the bucket files (parquet column projection =
    the PQ bandwidth win).  ``pq_residual`` quantizes
    ``embedding - assigned_centroid`` instead of the raw vector
    (FAISS by_residual=True) — assignment happens in this same pass,
    so the bucket context is free."""
    if pq_cb is not None:
        # canonical fold lives in queries_similarity; deferred import
        # breaks the module cycle (that module imports this one)
        from rados_timestore_spark.queries_similarity import _sq_dists
        CBm = np.asarray(pq_cb, dtype=np.float64)
        m, _ksub, dsub = CBm.shape

    def assign(batches):
        # input columns are NORMALIZED to vec_id/embedding by the
        # select below, regardless of the caller's id_col/vec_col
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cos = seq_cos_matrix(E, C, dim)
            rows = np.argmax(cos, axis=1)
            out = {
                "vec_id": pdf["vec_id"],
                "embedding": pdf["embedding"],
                "bucket": cids[rows],
            }
            for c in meta_cols:
                out[c] = pdf[c]
            if pq_cb is not None:
                # encode from PERSISTED precision (float32), exactly
                # what enable_pq's re-encode reads back from the
                # stored table — the assignment argmax above still
                # sees the raw input, matching the stored bucket and
                # the in-query IVF oracle (review finding r12: a
                # not-exactly-float32 input must not make the inline
                # and staged encodes disagree)
                E32 = E.astype(np.float32).astype(np.float64)
                Eq = E32 - C[rows] if pq_residual else E32
                codes = np.empty((len(E), m), dtype=np.int16)
                for s in range(m):
                    sub = Eq[:, s * dsub:(s + 1) * dsub]
                    codes[:, s] = np.argmin(
                        _sq_dists(sub, CBm[s]), axis=1)
                out["pq_code"] = list(codes)
            yield pd.DataFrame(out)

    meta_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in emb.schema if f.name in meta_cols
    )
    pq_schema = ", pq_code array<smallint>" if pq_cb is not None else ""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        *[F.col(c) for c in meta_cols],
    ).mapInPandas(
        assign,
        f"vec_id long, embedding array<float>, bucket long"
        f"{meta_schema}{pq_schema}",
    )


#: Fixed-point scale for the k-means update step — floor(x * 2^20)
#: sums are exact BIGINTs, so the distributed mean is shuffle-order
#: independent (the same choreography as sim_kmeans_quantizer's
#: oracle-checked trainer).
_KM_SCALE = 1 << 20


def train_kmeans_centroids(emb: DataFrame, k: int, dim: int,
                           iters: int = 2, id_col: str = "vec_id",
                           vec_col: str = "embedding"):
    """Driver-coordinated Lloyd iterations over ANY embedding frame
    (the MLlib pattern): per iteration one shuffle-free mapInPandas
    nearest-centroid pass (squared L2, ties to the lowest cid) + one
    hash aggregate of fixed-point dimension sums; only the k x dim
    centroid matrix ever reaches the driver.  Deterministic: seeds
    are the k lowest ids, update means are exact-integer sums divided
    in one fixed IEEE order.  Returns (cids, centroid matrix) —
    centroid ids are the surviving seed ids (empty clusters drop).
    """
    import pyspark.sql.functions as _F

    seed = (
        emb.select(_F.col(id_col).alias("vec_id"),
                   _F.col(vec_col).alias("embedding"))
        .orderBy("vec_id").limit(k).collect()
    )
    if not seed:
        raise ValueError("train_kmeans_centroids: empty input")
    cids = np.array([r.vec_id for r in seed], dtype=np.int64)
    C = np.array([r.embedding for r in seed], dtype=np.float64)

    sum_cols = [
        _F.sum(
            _F.floor(_F.col("embedding")[i].cast("double")
                     * _F.lit(float(_KM_SCALE))).cast("long")
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    base = emb.select(_F.col(id_col).alias("vec_id"),
                      _F.col(vec_col).alias("embedding"))
    for _ in range(iters):
        cid_arr, Cm = cids, C

        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                E = np.stack(
                    pdf["embedding"].to_numpy()).astype(np.float64)
                # squared L2 via the sequential per-dimension fold
                d = np.zeros((len(E), len(Cm)))
                for i in range(dim):
                    diff = E[:, i : i + 1] - Cm[:, i][None, :]
                    d += diff * diff
                yield pd.DataFrame({
                    "embedding": pdf["embedding"],
                    "cid": cid_arr[np.argmin(d, axis=1)],
                })

        assigned = base.mapInPandas(
            assign, "embedding array<float>, cid long")
        rows = sorted(
            assigned.groupBy("cid").agg(
                _F.count("*").alias("n"), *sum_cols).collect(),
            key=lambda r: r["cid"],
        )
        cids = np.array([int(r["cid"]) for r in rows], dtype=np.int64)
        C = np.array(
            [[float(r[f"s{i}"]) / r["n"] / float(_KM_SCALE)
              for i in range(dim)] for r in rows]
        )
    return cids, C


class VectorIndexNotBuilt(Exception):
    pass


class RetrainRaceError(IOError):
    """A probe's file listing raced a concurrent retrain's dir swaps
    (the live centroid marker moved past the probed version).  The
    public probe verbs catch this internally and retry the whole
    entry — after bounded attempts it propagates, meaning a maintainer
    is flipping the index faster than probes can snapshot it."""


class VectorIndex(IndexKernel):
    """Build-once / probe-many IVF index persisted under ``root``."""

    META = _META
    NOT_BUILT = VectorIndexNotBuilt
    WHAT = "vector index"
    PART_COL = "bucket"
    WHOLE_DIRS = ("assignments", "pq_codebooks")
    PART_DIRS = ("assignments",)
    ROLL_VERB = "retrain"
    ROLL_MARKER = _RETRAIN_MARKER
    #: centroids first: their staged ``_CENT_MARKER`` binds the new
    #: routing to the target version (see :meth:`_pruned_scan`)
    ROLL_DIRS = ("centroids", "pq_codebooks", "assignments")
    ROLL_STAGING = ".retraining"
    ROLL_PRE = ".preretrain"

    #: Per-bucket sizing rule (the HNSW :data:`~rados_timestore_spark.
    #: hnsw.HNSWIndex.SHARD_BOUND` analog): probe cost is
    #: nprobe x bucket size, so buckets past ~1M vectors mean the
    #: centroid count is under-provisioned for the corpus — the
    #: :meth:`retrain` escape hatch restores density.  :meth:`stats`
    #: reports exact per-bucket counts against it; the append verbs
    #: warn on MEAN density (meta-only O(1) — exact counting per
    #: micro-batch would add a Spark job to the hot ingest path).
    BUCKET_BOUND = 1_000_000

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        # routing-table cache keyed by (ns, meta version): probes hit
        # the k-row centroid matrix constantly, and the version key
        # invalidates on rebuild — the same read-side caching the
        # store applies to its registered-namespace map (U1)
        self._cent_cache: dict[tuple[str, int], tuple] = {}

    # ------------------------------------------------------- layout

    def _centroids_dir(self, ns: str) -> str:
        return f"{self._ns_dir(ns)}/centroids"

    def _assignments_dir(self, ns: str) -> str:
        return f"{self._ns_dir(ns)}/assignments"

    def _pq_dir(self, ns: str) -> str:
        return f"{self._ns_dir(ns)}/pq_codebooks"

    def _heal_after_noop_delete(self, ns: str) -> None:
        """A delete that finds no victims may be the REPLAY of one
        that crashed after its last bucket swap but before its meta
        write (crash-fuzz finding, r11): the files are final but
        n_vectors is stale and a ``.deleting`` staging remnant may
        linger.  Heal both — this is the only path a pure replay
        takes, so skipping it would strand the drift forever."""
        doc = self.meta(ns)
        n = self._recount(ns)
        if int(doc["n_vectors"]) != n:
            doc["n_vectors"] = n
            self._commit_meta(ns, doc)
        staging = f"{self._assignments_dir(ns)}.deleting"
        if self.fs.exists(staging):
            self.fs.delete(staging, recursive=True)

    def _has_buckets(self, ns: str) -> bool:
        return self._has_data(self._assignments_dir(ns))

    def _recount(self, ns: str) -> int:
        """Row count of the live assignments table — the source of
        truth for ``n_vectors`` at every verb's commit point.  A
        zero-filter zero-column count: Spark serves it from parquet
        footer row counts, so cost is bounded by file count, not
        corpus bytes."""
        if not self._has_buckets(ns):
            return 0
        return int(self.spark.read.parquet(
            self._assignments_dir(ns)).count())

    def _warn_if_overgrown(self, ns: str, doc: dict) -> None:
        """Mean-density tripwire for the append verbs (VERDICT r13
        "What's missing" #2) — see :data:`BUCKET_BOUND` for why the
        hot path checks the mean."""
        import warnings

        k = max(int(doc.get("k", 1)), 1)
        n = int(doc.get("n_vectors", 0))
        if n > k * self.BUCKET_BOUND:
            warnings.warn(
                f"vector index {ns!r}: mean bucket density {n // k} "
                f"exceeds the ~{self.BUCKET_BOUND}-vector sizing rule "
                f"({n} vectors / {k} centroids) — probe cost is "
                f"nprobe x bucket size; run retrain(ns, k=N) to "
                f"restore density (stats(ns) reports exact per-bucket "
                f"counts)",
                stacklevel=3,
            )

    def stats(self, ns: str) -> dict:
        """Exact per-bucket row counts against the sizing rule — the
        observability verb that makes the retrain story operational
        (VERDICT r13 "What's missing" #2).  One partition-column aggregation over the
        assignment table (parquet footer counts per bucket directory —
        cost bounded by file count, not corpus bytes).  ``over_bound``
        lists buckets whose EXACT count exceeds :data:`BUCKET_BOUND` —
        including skewed ones the append-time mean check cannot
        see."""
        self._restore_remnants(ns)
        doc = self.meta(ns)
        per: dict[int, int] = {}
        if self._has_buckets(ns):
            rows = (self.spark.read.parquet(self._assignments_dir(ns))
                    .groupBy("bucket").count().collect())
            per = {int(r["bucket"]): int(r["count"]) for r in rows}
        over = sorted(b for b, c in per.items() if c > self.BUCKET_BOUND)
        return {
            "k": int(doc["k"]),
            "n_vectors": int(doc["n_vectors"]),
            "bound": int(self.BUCKET_BOUND),
            "per_bucket": per,
            "over_bound": over,
        }

    def maintain(self, ns: str) -> dict:
        """Measure-then-heal in one verb — the auto-OPTIMIZE shape
        that closes the r14 observability loop: :meth:`stats` decides
        (exact counts, so skew the append-time mean tripwire cannot
        see still triggers), and a violated sizing rule runs
        :meth:`retrain` at a centroid count derived by the shared
        pure rule :func:`~rados_timestore_spark.fsutil.maintain_plan`
        (density restored to ``BUCKET_BOUND // 2`` — headroom so the
        next append doesn't re-trip; skew-only violations DOUBLE k,
        clamped at n, because the deterministic refit at an unchanged
        k reproduces the identical index — see maintain_plan's
        convergence note).  The healing trainer is ALWAYS ``kmeans``:
        splitting a dense region needs a data-adaptive refit — the
        ``sample`` trainer picks centroids by id and redistributes
        only by count.  Healing therefore also PERSISTS ``kmeans`` as
        the index's trainer (deliberate: after the heal the layout in
        place IS kmeans-trained, and later ``retrain(ns, k)`` calls
        default to the trainer of the current layout — meta never
        lies about how the live routing was produced).

        Termination (law-tested on a duplicate-heavy corpus): kmeans
        drops empty clusters, so the COMMITTED k can collapse below
        the requested k when the data has fewer distinguishable
        groups — planning against the committed k alone would re-run
        an identical heal forever.  The plan therefore feeds back
        ``max(k, k_requested)`` (retrain persists the requested k),
        which strictly grows until the n-clamp reports healthy.

        A healthy index is a strict no-op: nothing written, meta
        untouched (law-tested byte-identical).  Deterministic given
        the stored rows (the kmeans init rule is deterministic, as
        build's), serial with the other maintenance verbs (retrain's
        CAS fence and crash-safety apply unchanged — a maintain is
        exactly a retrain once it decides to act).  The result
        reports the COMMITTED k (``meta["k"]``) and the requested one
        separately."""
        from rados_timestore_spark.fsutil import maintain_plan

        st = self.stats(ns)
        doc0 = self.meta(ns)
        parts_eff = max(st["k"], int(doc0.get("k_requested", 0)))
        k_new = maintain_plan(st["n_vectors"], parts_eff,
                              self.BUCKET_BOUND,
                              skewed=bool(st["over_bound"]),
                              refit_same_layout=True)
        if k_new is None:
            return {"action": "none", "stats": st}
        doc = self.retrain(ns, k=k_new, trainer="kmeans")
        return {"action": "retrain", "k": int(doc["k"]),
                "k_requested": int(k_new), "stats": st, "meta": doc}

    # -------------------------------------------------------- build

    def build(self, ns: str, emb: DataFrame, k: int = 256,
              dim: int | None = None, id_col: str = "vec_id",
              vec_col: str = "embedding", trainer: str = "sample",
              iters: int = 2, meta_cols: tuple = (),
              pq: dict | None = None) -> dict:
        """Train the coarse quantizer and persist centroids +
        bucket-partitioned assignments.

        ``pq`` (r12): build the PQ-coded index in ONE corpus pass —
        ``{"m": 4, "ksub": 16, "residual": False}`` trains the
        sub-codebooks up front (the same ksub-lowest-id sample rule
        as :meth:`enable_pq`, residualized against the just-trained
        routing) and encodes ``pq_code`` inline during the assignment
        scan, exactly like :meth:`append_batch` does on a PQ index.
        ``build(pq=...)`` is law-tested byte-equal to ``build()`` +
        ``enable_pq(...)`` — which costs a SECOND full read+write of
        the corpus (the encode-only rewrite).  At 100 TB that second
        pass is the difference between one corpus write and two, so
        fused is the cold-build production shape; ``enable_pq`` stays
        for adding codes to an index that already exists.

        Trainers (both deterministic, both bounded driver state):

        * ``"sample"`` (default): the ``k`` LOWEST-id vectors of the
          input (a bounded TakeOrdered) — simple enough for the DuckDB
          oracle to restate, which is what the driver-checked queries
          use.
        * ``"kmeans"``: ``iters`` distributed Lloyd rounds
          (:func:`train_kmeans_centroids`) seeded from the same
          sample — the production quantizer; identical persistence,
          probe plan and laws.

        Either way the centroid matrix is quantized to the persisted
        float32 precision BEFORE assignment, so the routing the build
        uses is bit-identical to the routing every later probe/append
        loads from disk.  The meta document is written LAST, so a
        crashed build leaves no readable index (probe requires the
        meta — the same publish-by-metadata pattern as the store's
        generation flip).
        """
        if trainer == "kmeans":
            probe_dim = dim
            if probe_dim is None:
                first = emb.select(F.col(vec_col)).head()
                if first is None:
                    raise ValueError(f"build({ns!r}): empty input")
                probe_dim = len(first[0])
            cids, C = train_kmeans_centroids(
                emb, k, probe_dim, iters=iters,
                id_col=id_col, vec_col=vec_col)
            dim = probe_dim
        elif trainer == "sample":
            cent_rows = (
                emb.select(F.col(id_col).alias("cid"),
                           F.col(vec_col).alias("ce"))
                .orderBy("cid").limit(k).collect()
            )
            if not cent_rows:
                raise ValueError(f"build({ns!r}): empty input")
            cids = np.array([r.cid for r in cent_rows], dtype=np.int64)
            C = np.array([r.ce for r in cent_rows], dtype=np.float64)
            if dim is None:
                dim = C.shape[1]
        else:
            raise ValueError(f"unknown trainer {trainer!r}")
        # persisted precision IS the routing precision
        C = C.astype(np.float32).astype(np.float64)

        # read the prior meta BEFORE the first mutation (the centroid
        # overwrite): the txn captured here makes the whole rebuild a
        # CAS window, so a maintainer interleaving anywhere inside it
        # fails the commit loudly (VERDICT r12 #4).  A REBUILD must
        # first run crash recovery like every other verb (r13 review
        # finding): a pending retrain marker left by a crash would
        # otherwise roll forward AFTER this build commits — renaming the fresh build aside and
        # promoting the pre-crash staging over it (silent loss).
        prev_version, prev_pq_gen, prev_txn = 0, 0, 0
        try:
            self.meta(ns)
            self._restore_remnants(ns, sweep_stagings=True)
            prior = self.meta(ns)
            prev_version = int(prior.get("version", 0))
            prev_pq_gen = max(int(prior.get("pq", {}).get("gen", 0)),
                              int(prior.get("pq_gen_floor", 0)))
            prev_txn = int(prior.get("txn", 0))
        except VectorIndexNotBuilt:
            pass

        cent_df = one_slice_df(
            self.spark,
            [(int(c), [float(x) for x in row]) for c, row in zip(cids, C)],
            "cid long, ce array<float>",
        )
        cent_df.coalesce(1).write.mode("overwrite").parquet(
            self._centroids_dir(ns))
        # bind the fresh routing table to the version this build WILL
        # commit (rebuild-crash guard, see _CENT_MARKER)
        self.fs.write_text_atomic(
            f"{self._centroids_dir(ns)}/{_CENT_MARKER}",
            json.dumps({"version": prev_version + 1}))

        CBm, pq_doc = None, None
        if pq is not None:
            pq_m = int(pq.get("m", 4))
            ksub = int(pq.get("ksub", 16))
            residual = bool(pq.get("residual", False))
            if dim % pq_m:
                raise ValueError(f"build({ns!r}): dim {dim} not "
                                 f"divisible by pq m {pq_m}")
            dsub = dim // pq_m
            if trainer == "sample" and ksub <= len(cent_rows):
                # the sample trainer already collected the k lowest-id
                # vectors sorted ascending — the ksub lowest are a
                # prefix; re-scanning the corpus for them would be a
                # redundant full TakeOrdered job on exactly the cold
                # path this fusion exists to make one-pass (review
                # finding r12)
                cb_vecs = [r.ce for r in cent_rows[:ksub]]
            else:
                cb_rows = (
                    emb.select(F.col(vec_col).alias("ce"))
                    .orderBy(F.col(id_col)).limit(ksub).collect())
                cb_vecs = [r.ce for r in cb_rows]
            if len(cb_vecs) < ksub:
                raise ValueError(
                    f"build({ns!r}): need {ksub} vectors to train PQ "
                    f"codebooks, input holds {len(cb_vecs)}")
            # persisted precision IS the encode precision (the
            # assignment table stores float32, which is what
            # enable_pq trains on) — but the residual BUCKET is the
            # raw-precision argmax: assign_to_centroids assigns from
            # the raw input and enable_pq's searchsorted path reads
            # that stored bucket back, so the fused path must pick
            # the same centroid BEFORE the float32 cast or a float64
            # source whose cast flips a training vector's nearest
            # centroid breaks the fused == staged byte-equality law
            # (ADVICE r12 #2)
            CB = np.array(cb_vecs, dtype=np.float64)
            if residual:
                # same argmax kernel + first-max-wins tie rule as the
                # assignment pass (cids sorted ascending)
                rows = np.argmax(seq_cos_matrix(CB, C, dim), axis=1)
            CB = CB.astype(np.float32).astype(np.float64)
            if residual:
                CB = CB - C[rows]
            CBm = CB.reshape(ksub, pq_m, dsub).transpose(1, 0, 2)
            cb_dir = self._pq_dir(ns)
            cv_type = "array<double>" if residual else "array<float>"
            cb_df = one_slice_df(
                self.spark,
                [(s, c, [float(x) for x in CBm[s, c]])
                 for s in range(pq_m) for c in range(ksub)],
                f"s int, code int, cv {cv_type}",
            )
            cb_df.coalesce(1).write.mode("overwrite").parquet(cb_dir)
            # gen continues past any prior index's PQ generation, and
            # the marker binds these codebooks to the VERSION this
            # build will commit — a rebuild crashing between the
            # codebook write and the meta write must leave a loud
            # marker/meta mismatch, never new codebooks servable
            # against old codes (review finding r12)
            pq_doc = {"m": pq_m, "ksub": ksub, "dsub": dsub,
                      "gen": prev_pq_gen + 1}
            if residual:
                pq_doc["residual"] = True
            self.fs.write_text_atomic(
                f"{cb_dir}/{_PQ_MARKER}",
                json.dumps({**pq_doc, "version": prev_version + 1}))

        assigned = assign_to_centroids(
            emb, cids, C, dim, id_col, vec_col, meta_cols=meta_cols,
            pq_cb=CBm,
            pq_residual=bool(pq.get("residual", False)) if pq else False)
        # n_vectors is observed ON the assignment write (free metric
        # piggybacked on the one corpus pass) instead of re-reading
        # the 256-bucket tree back just to count it (was ~1 s of the
        # cold build).  The observe sits directly under the write —
        # no exchange above it — and build rejects empty input, so
        # the empty-metrics toPyRow trap cannot fire.
        from pyspark.sql import Observation

        # hash-distribute buckets before the partitioned write (the
        # compact shape): each bucket lands in exactly one task, so
        # the file count is k at ANY input parallelism — unshaped,
        # the corpus scan's tasks each open every bucket directory
        # (tasks x k tiny files at scale; serially-committed dirs on
        # a narrow local read).  The observe sits between the
        # exchange and the write, directly under the write as before.
        assigned = _bucket_shaped(assigned)
        obs = Observation()
        assigned = assigned.observe(
            obs, F.count(F.lit(1)).alias("n_rows"))
        (assigned.write.mode("overwrite")
         .partitionBy("bucket").parquet(self._assignments_dir(ns)))

        n = int(obs.get["n_rows"] or 0)
        doc = {"k": int(len(cids)), "dim": int(dim),
               "n_vectors": int(n), "version": prev_version + 1,
               "trainer": trainer, "meta_cols": list(meta_cols),
               "txn": prev_txn, "cent_marker": True}
        if pq_doc is not None:
            doc["pq"] = dict(pq_doc)
        elif prev_pq_gen:
            # a plain rebuild DROPS the pq block but must not reset
            # the generation clock: a later enable_pq picks up from
            # here, so its gen never collides with a cached tensor
            # from the pre-rebuild index (review finding r12)
            doc["pq_gen_floor"] = prev_pq_gen
        self._commit_meta(ns, doc)
        return doc

    # ------------------------------------------------------- append

    def append(self, ns: str, emb: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> dict:
        """Assign ``emb`` to the EXISTING routing table and append —
        incremental ingest with no retrain and no touch of resident
        buckets beyond the directory appends.  Because assignment is
        per-vector given fixed centroids, build(A) + append(B) ==
        build(A ∪ B with A's centroids) exactly."""
        self._restore_remnants(ns, sweep_stagings=True)  # BEFORE the
        # entry read (r14 review finding): a retrain killed after its
        # commit point (fence txn + marker written, swaps not run)
        # must roll forward HERE — otherwise this verb appends into
        # the doomed pre-retrain assignments dir and the next entry's
        # roll-forward silently discards the appended rows
        doc = self.meta(ns)  # raises if never built
        cids, C = self._load_centroids(ns, int(doc["version"]))
        assigned = assign_to_centroids(
            emb, cids, C, doc["dim"], id_col, vec_col,
            meta_cols=tuple(doc.get("meta_cols", ())),
            pq_cb=(self._load_pq(ns, doc)
                   if "pq" in doc else None),
            pq_residual=bool(doc.get("pq", {}).get("residual")))
        (_bucket_shaped(assigned).write.mode("append")
         .partitionBy("bucket").parquet(self._assignments_dir(ns)))
        # recount, don't increment: keeps `n_vectors == count(rows)`
        # an invariant even after a crash-and-retry of this
        # (documented non-idempotent) verb — the count then matches
        # whatever file state the retries actually produced.
        doc["n_vectors"] = self._recount(ns)
        self._commit_meta(ns, doc)
        self._warn_if_overgrown(ns, doc)
        return doc

    def append_batch(self, ns: str, emb: DataFrame, batch_id: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     app_id: str | None = None) -> dict:
        """IDEMPOTENT append keyed by a monotone ``batch_id`` — the
        exactly-once ingest primitive for streaming (foreachBatch
        passes its micro-batch id).  Replaying any prefix of batches
        after a crash converges to single-copy file state:

        * fence: a batch at or below ``meta['last_batch_id']`` is a
          completed replay — skipped outright;
        * files promote under a deterministic ``b<batch_id>-`` name
          prefix, and the promote FIRST sweeps any files with that
          prefix from the affected buckets (leftovers of a crashed
          mid-promote attempt of the SAME batch), so re-running the
          promote replaces rather than duplicates;
        * the meta write (n_vectors + last_batch_id) is the commit
          point, after which the fence makes the batch a no-op.

        Batch ids must be handed in monotonically increasing order
        (Structured Streaming's contract for foreachBatch) — but only
        WITHIN one checkpoint lineage: a stream restarted with a new
        checkpoint restarts them at 0.  ``app_id`` (r12, ADVICE r11)
        scopes the fence to one lineage (see
        :meth:`~rados_timestore_spark.fsutil.IndexKernel._batch_fence`);
        :func:`streaming.vector_ingest.stream_vectors` derives it
        from the checkpoint's query id.  Without an app id, the
        checkpoint lineage must never be reset against an existing
        index — a regressed id is skipped as a completed replay.
        """
        self._restore_remnants(ns, sweep_stagings=True)  # BEFORE the
        # entry read: a crashed retrain rolls forward here and commits
        # meta (version/txn) — the fence fields survive a retrain
        # unchanged, but the entry txn must be the post-roll one
        doc = self.meta(ns)
        entry_txn = int(doc.get("txn", 0))
        if int(batch_id) <= self._batch_fence(doc, app_id):
            return doc
        cids, C = self._load_centroids(ns, int(doc["version"]))
        live = self._assignments_dir(ns)
        # lineage-scoped stage and file prefix (see _batch_names).
        # Verbs on one index still run SERIALLY (the maintenance
        # contract): the scoping makes interleaved crash-replays
        # converge, it does not license concurrent writers — the
        # CAS-fenced meta commit fails a second maintainer loudly.
        suffix, prefix = self._batch_names(batch_id, app_id)
        stage = f"{live}{suffix}"
        if self.fs.exists(stage):
            self.fs.delete(stage, recursive=True)
        assigned = assign_to_centroids(
            dedup_ids_deterministic(emb, id_col, vec_col), cids, C,
            doc["dim"], id_col, vec_col,
            meta_cols=tuple(doc.get("meta_cols", ())),
            pq_cb=(self._load_pq(ns, doc)
                   if "pq" in doc else None),
            pq_residual=bool(doc.get("pq", {}).get("residual")))
        # Cross-batch redelivery guard (ADVICE r11): a vec_id
        # redelivered under a DIFFERENT
        # batch id (at-least-once source) must not land twice.  With
        # the centroids version fixed, a redelivered id assigns to
        # the SAME bucket as before, so the existing-id anti-join
        # prunes to just the batch's own buckets — a partition-pruned
        # single-column scan, never a full-table pass.  The stage
        # write doubles as the materialization of the assignment pass
        # (DISK, not persist() — pin() is the repo's only sanctioned
        # cache route and its query-scoped lifecycle doesn't fit an
        # index verb); the dedup then rewrites the stage from the
        # stage itself, so assignment runs exactly once.
        (_bucket_shaped(assigned).write.mode("overwrite")
         .partitionBy("bucket").parquet(stage))
        existing = None
        bks = [int(d.split("=", 1)[1])
               for d in self.fs.list_dirs(stage)
               if d.startswith("bucket=")]
        # Sweep THIS batch's crashed-attempt files from the WHOLE
        # live tree BEFORE reading `existing` (found by the crash
        # fuzz): the promote loop replaces a bucket's b<id>- files
        # with the stage's — if partially-promoted rows were instead
        # left in `existing`, the anti-join would drop them from the
        # stage and the sweep would then delete their only copy.
        # Same-batch files are uncommitted (the fence hasn't
        # advanced), so removing them at any pre-commit point is
        # safe.  Whole-tree, not per-staged-bucket (ADVICE r11): if
        # the centroids were retrained between the crashed attempt
        # and this replay, the old attempt's files can sit in buckets
        # OUTSIDE this replay's staged set.  (A retrain via build()
        # also rewrites the assignments dir wholesale, but the sweep
        # must not depend on that implementation detail.)
        if self._has_buckets(ns):
            self.fs.sweep_files(live, prefix)
        # re-probe AFTER the sweep: it may have removed the live
        # dir's ONLY data files (a crashed attempt of this batch on
        # an otherwise-empty index) — nothing left to dedup against;
        # reading it would throw (review finding)
        if bks and self._has_buckets(ns):
            existing = (
                self.spark.read.parquet(live)
                .filter(F.col("bucket").isin(bks))
                .select("vec_id"))
        if existing is not None:
            fresh = (self.spark.read.parquet(stage)
                     .join(existing, "vec_id", "left_anti"))
            dstage = f"{stage}.dedup"
            if self.fs.exists(dstage):
                self.fs.delete(dstage, recursive=True)
            (_bucket_shaped(fresh).write.mode("overwrite")
             .partitionBy("bucket").parquet(dstage))
            self.fs.delete(stage, recursive=True)
            if not self.fs.rename(dstage, stage):
                raise IOError(
                    f"append_batch({ns!r}, {batch_id}): dedup-stage "
                    f"swap failed")
        staged_buckets = [d for d in self.fs.list_dirs(stage)
                          if d.startswith("bucket=")]
        for d in staged_buckets:
            tgt = f"{live}/{d}"
            if not self.fs.is_dir(tgt):
                self.fs.mkdirs(tgt)
            # (no per-bucket sweep here: the pre-anti-join sweep above
            # already cleared this batch's crashed-attempt files from
            # every staged bucket, BEFORE the existing-ids read — see
            # the review note there)
            for st in self.fs.fs.listStatus(
                    self.fs._path(f"{stage}/{d}")):
                name = st.getPath().getName()
                if name.startswith(("_", ".")):
                    continue
                if not self.fs.rename(f"{stage}/{d}/{name}",
                                      f"{tgt}/{prefix}{name}"):
                    raise IOError(
                        f"append_batch({ns!r}, {batch_id}): rename "
                        f"failed for {d}/{name}")
        self.fs.delete(stage, recursive=True)
        # commit-time re-read refreshes the bookkeeping fields, but
        # the CAS txn is the one captured at ENTRY: the corruption
        # window a concurrent maintainer opens spans the whole verb,
        # not just this last read->write gap (VERDICT r12 #4)
        doc = self.meta(ns)
        doc["txn"] = entry_txn
        # recount at the commit point (see delete()): heals both the
        # crash-after-promote replay and any redelivery the anti-join
        # already filtered — `n_vectors == count(rows)` is invariant.
        doc["n_vectors"] = self._recount(ns)
        self._advance_batch_fence(doc, app_id, batch_id)
        self._commit_meta(ns, doc)
        self._warn_if_overgrown(ns, doc)
        return doc

    # ----------------------------------------------------------- pq

    def enable_pq(self, ns: str, m: int = 4, ksub: int = 16,
                  residual: bool = False) -> dict:
        """Add product-quantization codes to the index — the FAISS
        IVFPQ composition.  Default is ``by_residual=False``: global
        sub-codebooks over raw vectors, IVF routing unchanged.
        Non-residual codes are routing-independent, so appends encode
        with no bucket context and delete/compact never invalidate a
        code — the property that makes the codes safe to persist
        INSIDE the assignment rows.

        ``residual=True`` is the full FAISS IVFPQ shape
        (``by_residual=True``): codes quantize ``embedding -
        assigned_centroid``, which on clustered corpora concentrates
        the quantized distribution near zero and buys recall at the
        same code budget (a wash on isotropic vectors — measured by
        the sim_vecidxpq_residual_recall / sim_vecidxpq_recall pair).  Residual codes keep every maintenance property —
        assignment rows carry their bucket, so encode context is
        free at append/compact/delete time; the one thing that would
        invalidate them is a centroid RETRAIN, which is already a
        full :meth:`build` (new version, fresh assignment rewrite).
        Residual codebooks persist as ``array<double>`` (residuals
        are float64 differences of float32 values — a float32
        round-trip would break the oracle-exact encode; the codebook
        is m x ksub rows, so doubling its bytes is noise).

        Codebooks are the ``ksub`` lowest-vec_id vectors of the index
        (a bounded TakeOrdered — the same deterministic "sample"
        trainer as :meth:`build`, restatable by the DuckDB oracle),
        residualized against their stored buckets when
        ``residual=True``,
        reshaped to (m, ksub, dim/m) and persisted as a parquet table.
        The assignment table is then rewritten ONCE (staging + rename
        swap, the :meth:`compact` mechanics — enable_pq doubles as a
        compaction; the rewrite only ENCODES — the stored bucket
        column is carried through, never recomputed) with a
        ``pq_code array<smallint>`` column; the meta update is the
        commit point.

        Crash/re-run safety: both the codebook table and the
        assignment rewrite stage first and promote by rename, and the
        codebook directory carries a ``_pq_meta.json`` marker with
        the PQ GENERATION that the meta commit also records —
        :meth:`_load_pq` refuses to serve when marker and meta
        disagree (raises instead of silently ranking new codes
        against old codebooks, or vice versa), so every crash window
        between the promotes is loud-and-retryable, never servable-
        and-wrong.  Like compact/delete, schedule serially with other
        maintenance verbs.

        At 100 TB the ADC probe reads only (vec_id, bucket, pq_code)
        from nprobe bucket directories: parquet column projection
        skips the raw-vector column entirely, so scan bandwidth per
        vector drops from dim*4 bytes to m*2 bytes (~128x at dim=64,
        m=4) — the Jégou et al. 2011 memory-bandwidth economics on
        columnar storage instead of a bespoke code layout.
        """
        self._restore_remnants(ns, sweep_stagings=True)  # BEFORE the
        # entry read (see delete)
        doc = self.meta(ns)
        entry_txn = int(doc.get("txn", 0))
        dim = int(doc["dim"])
        if dim % m:
            raise ValueError(f"enable_pq({ns!r}): dim {dim} not "
                             f"divisible by m {m}")
        dsub = dim // m
        if not self._has_buckets(ns):
            # ValueError, NOT VectorIndexNotBuilt: the index IS built
            # (meta exists) — retry logic that maps NotBuilt to
            # "re-run build()" must not fire on a transient
            # delete-everything state (review finding)
            raise ValueError(
                f"enable_pq({ns!r}): index is empty (every vector "
                f"deleted) — nothing to train codebooks on")
        live = self._assignments_dir(ns)
        scan = self.spark.read.parquet(live)
        cb_rows = (scan.select("vec_id", "embedding", "bucket")
                   .orderBy("vec_id").limit(ksub).collect())
        if len(cb_rows) < ksub:
            raise ValueError(
                f"enable_pq({ns!r}): need {ksub} vectors to train, "
                f"index holds {len(cb_rows)}")
        CB = np.array([r.embedding for r in cb_rows], dtype=np.float64)
        res = None
        if residual:
            cids, C = self._load_centroids(ns, int(doc["version"]))
            res = (cids, C)
            pos = np.searchsorted(
                np.asarray(cids, dtype=np.int64),
                np.array([int(r.bucket) for r in cb_rows],
                         dtype=np.int64))
            # residuals are exact float64 differences; persisted as
            # doubles, so persisted precision == encode precision
            CB = CB - C[pos]
        else:
            # persisted precision IS the encode precision (same
            # contract as the centroid table)
            CB = CB.astype(np.float32).astype(np.float64)
        CBm = CB.reshape(ksub, m, dsub).transpose(1, 0, 2)
        # the floor carries the generation clock across plain
        # rebuilds (see build()) so a recycled gen can never serve a
        # stale cached tensor (review finding r12)
        gen = max(int(doc.get("pq", {}).get("gen", 0)),
                  int(doc.get("pq_gen_floor", 0))) + 1
        cb_live = self._pq_dir(ns)
        cb_staging, staging = f"{cb_live}.staging", f"{live}.pq_encoding"
        for leftover in (cb_staging, staging):
            if self.fs.exists(leftover):
                self.fs.delete(leftover, recursive=True)
        cv_type = "array<double>" if residual else "array<float>"
        cb_df = one_slice_df(
            self.spark,
            [(s, c, [float(x) for x in CBm[s, c]])
             for s in range(m) for c in range(ksub)],
            f"s int, code int, cv {cv_type}",
        )
        cb_df.coalesce(1).write.mode("overwrite").parquet(cb_staging)
        self.fs.write_text_atomic(
            f"{cb_staging}/{_PQ_MARKER}",
            json.dumps({"m": int(m), "ksub": int(ksub),
                        "dsub": int(dsub), "gen": gen,
                        "residual": bool(residual),
                        "version": int(doc["version"])}))

        # encode-only rewrite: the stored bucket rides through — no
        # O(n*k*dim) re-assignment pass (review finding); cost is
        # m*ksub*dsub per vector
        encoded = _append_pq_codes(scan.drop("pq_code"), CBm, res=res)
        (_bucket_shaped(encoded).write.mode("overwrite")
         .partitionBy("bucket").parquet(staging))
        # promote: codebooks, then assignments, then the meta commit —
        # _load_pq's gen cross-check makes every window in between a
        # loud retry, never a silently-wrong serve
        self._swap_dir(cb_live, cb_staging, f"enable_pq({ns!r})")
        self._swap_dir(live, staging, f"enable_pq({ns!r})")
        doc = self.meta(ns)
        doc["txn"] = entry_txn  # CAS spans the whole verb (see build)
        doc["pq"] = {"m": int(m), "ksub": int(ksub),
                     "dsub": int(dsub), "gen": gen}
        if residual:
            doc["pq"]["residual"] = True
        doc.pop("pq_gen_floor", None)  # superseded by the live block
        self._commit_meta(ns, doc)
        return doc

    def _load_pq(self, ns: str, doc: dict) -> np.ndarray:
        """Codebook tensor for the PQ generation the meta commits to —
        cached per (ns, gen); the codebook dir's marker must agree
        with the meta block (m, ksub, gen) or the load REFUSES
        (a crashed enable_pq left marker and meta out of step — the
        state is retryable by re-running enable_pq, and must never be
        served)."""
        pq = doc["pq"]
        gen = int(pq.get("gen", 1))
        version = int(doc.get("version", 0))
        # cache key includes the index VERSION: a rebuild replaces
        # the codebooks but starts a new version, so a recycled gen
        # can never alias a stale cached tensor (review finding r12)
        hit = self._cent_cache.get(("pq", ns, version, gen))
        if hit is not None:
            return hit
        marker = json.loads(self.fs.read_text(
            f"{self._pq_dir(ns)}/{_PQ_MARKER}"))
        if (marker.get("gen"), marker.get("m"), marker.get("ksub"),
                bool(marker.get("residual", False))) != \
                (gen, int(pq["m"]), int(pq["ksub"]),
                 bool(pq.get("residual", False))) or (
                "version" in marker
                and int(marker["version"]) != version):
            raise IOError(
                f"vector index {ns!r}: persisted codebooks "
                f"(gen {marker.get('gen')}, m {marker.get('m')}, "
                f"ksub {marker.get('ksub')}, "
                f"version {marker.get('version')}) do not match the "
                f"meta's pq block {pq} / version {version} — a "
                f"build(pq=)/enable_pq() run did not complete; re-run "
                f"it to repair")
        pdf = (self.spark.read.parquet(self._pq_dir(ns))
               .toPandas().sort_values(["s", "code"]))
        CBm = np.stack(pdf["cv"].to_numpy()).astype(
            np.float64).reshape(int(pq["m"]), int(pq["ksub"]), -1)
        self._cent_cache[("pq", ns, version, gen)] = CBm
        return CBm

    def _probe_pq_impl(self, ns: str, queries,
                       topk: int = 5, nprobe: int = 4,
                       rerank: int | None = None,
                       where=None) -> DataFrame:
        """ADC probe against the persisted codes — the compressed
        read path: route each query to its nprobe buckets (driver
        numpy over the k-row centroid matrix, exactly like
        :meth:`probe`), build the per-query distance lookup table
        driver-side (m x ksub doubles per query; queries are bounded
        by the same contract as probe), then scan ONLY the
        (vec_id, bucket, pq_code) columns of the probed bucket
        directories and rank by the m-term LUT sum.

        ``rerank=R`` widens the ADC cut to R candidates and refines
        them by exact cosine against the raw vectors of the SAME
        bucket-pruned scan (a bounded Q x R broadcast semi-join —
        never a second full scan), returning
        (query_id, neighbor_id, cos, rank) — the IVFADC-R shape.
        Without rerank, returns (query_id, neighbor_id, approx_d2,
        rank).  ``where`` is the same filtered-search predicate as
        :meth:`probe` (evaluates inside the pruned scan, against the
        persisted meta_cols, before any ranking).
        """
        self._restore_remnants(ns)  # BEFORE the meta read (r14 fuzz
        # finding, fuel=57; see IndexKernel._restore_remnants)
        doc = self.meta(ns)
        if "pq" not in doc:
            raise VectorIndexNotBuilt(
                f"vector index {ns!r} has no PQ codes — run "
                f"enable_pq() first")
        m = int(doc["pq"]["m"])
        ksub = int(doc["pq"]["ksub"])
        dsub = int(doc["pq"]["dsub"])
        residual = bool(doc["pq"].get("residual"))
        CBm = self._load_pq(ns, doc)
        if not self._has_buckets(ns):
            # every bucket deleted: empty index, empty result (the
            # raw read would throw UNABLE_TO_INFER_SCHEMA).  The
            # schema must match the mode: the ADC-only path emits
            # approx_d2, the refine path emits cos (review finding);
            # the entry restore above already recovered any remnants
            score = "approx_d2" if rerank is None else "cos"
            return self.spark.createDataFrame(
                [], f"query_id long, neighbor_id long, "
                    f"{score} double, rank int")
        probe_buckets, all_buckets = self._route_buckets(
            ns, queries, nprobe, doc)

        def _lut(qv, off):
            # the same sequential per-dimension fold as the in-query
            # ADC path (_pq_ann), so the m-term sums are bit-identical
            # to the oracle's list_sum(list(d ORDER BY s)); ``off`` is
            # the query-side residual offset (the bucket centroid) —
            # None for raw-vector codes
            luts = []
            for s in range(m):
                lut = []
                for c in range(ksub):
                    acc = 0.0
                    for i in range(dsub):
                        q = float(qv[s * dsub + i])
                        if off is not None:
                            q = q - float(off[s * dsub + i])
                        d = q - float(CBm[s][c][i])
                        acc += d * d
                    lut.append(acc)
                luts.append(lut)
            return luts

        lcols = ", ".join(f"l{s} array<double>" for s in range(m))
        if residual:
            # per-(query, probed-bucket) LUTs: the query residual —
            # and therefore the whole table — depends on the bucket
            # centroid (FAISS by_residual probe); Q x nprobe rows of
            # m x ksub doubles stay bounded driver state, and the
            # broadcast join becomes a plain bucket equi-join
            cids, C = self._load_centroids(ns, int(doc["version"]))
            cpos = {int(c): i for i, c in enumerate(cids)}
            rows = []
            for (qid, qv), bs in zip(queries, probe_buckets):
                for b in bs:
                    rows.append((int(qid), [float(x) for x in qv],
                                 int(b), *_lut(qv, C[cpos[b]])))
            qdf = one_slice_df(
                self.spark, rows,
                f"query_id long, qe array<float>, bucket long, {lcols}",
            )
        else:
            rows = []
            for (qid, qv), bs in zip(queries, probe_buckets):
                rows.append((int(qid), [float(x) for x in qv], bs,
                             *_lut(qv, None)))
            qdf = one_slice_df(
                self.spark, rows,
                f"query_id long, qe array<float>, probed array<long>, "
                f"{lcols}",
            )
        scan = self._pruned_scan(ns, all_buckets, where,
                                 expect_version=int(doc["version"]))
        codes = scan.select("vec_id", "bucket", "pq_code")
        approx = None
        for s in range(m):
            t = F.element_at(
                F.col(f"l{s}"),
                (F.element_at(F.col("pq_code"), s + 1) + 1).cast("int"))
            approx = t if approx is None else approx + t
        if residual:
            joined = codes.join(F.broadcast(qdf), "bucket")
        else:
            joined = codes.join(
                F.broadcast(qdf),
                F.expr("array_contains(probed, bucket)"))
        adc = (
            joined
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", approx.alias("approx_d2"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy("approx_d2", "vec_id")
        cut = (
            adc.withColumn("rank", F.row_number().over(w))
            # rerank=0 is a legitimate empty-candidate request — only
            # None means "no refine stage" (review finding: `or` would
            # silently reinterpret 0 as topk)
            .filter(F.col("rank") <= (topk if rerank is None
                                      else rerank))
        )
        if rerank is None:
            return cut.select(
                "query_id", F.col("vec_id").alias("neighbor_id"),
                "approx_d2", "rank")
        from rados_timestore_spark.queries_similarity import _cos_seq

        cand = cut.select("query_id", "vec_id")
        # residual qdf carries one row per (query, probed bucket) —
        # dedupe to one (query_id, qe) row before the refine join
        qvecs = qdf.select("query_id", "qe").dropDuplicates(["query_id"])
        refined = (
            scan.join(F.broadcast(cand), "vec_id")
            .join(F.broadcast(qvecs), "query_id")
            .select(
                "query_id", "vec_id",
                _cos_seq(F.col("embedding"), F.col("qe")).alias("cos"),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                                    "vec_id")
        return (
            refined.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= topk)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "cos", "rank")
        )

    # ------------------------------------------------------- delete

    def delete(self, ns: str, vec_ids) -> int:
        """Remove vectors by id, rewriting ONLY the buckets that hold
        them — the retraction path (takedowns, opt-outs, corrections)
        at bounded cost: untouched buckets' files are not read,
        written, or moved.  Returns the number of vectors removed.

        ``vec_ids`` is either a bounded Python iterable of ids (small
        explicit takedown lists — the id predicate pushes into parquet
        row-group stats) or a DataFrame with a ``vec_id`` column (a
        takedown RELATION of any size: victims stay distributed, the
        victim set is never collected to the driver, and the rewrite
        is an anti-join — the 100 TB shape, ADVICE r9).  Only the
        affected BUCKET ids (bounded by k) and per-bucket hit counts
        are ever collected.

        Mechanics: one pruned scan finds the affected buckets, then a
        single job rewrites those buckets minus the victims into a
        staging dir, and each affected bucket directory is swapped by
        rename (the per-bucket analog of compact's generation flip).
        Like the other maintenance verbs, schedule serially with
        appends/compactions.
        """
        self._restore_remnants(ns, sweep_stagings=True)  # BEFORE the
        # entry read: a crashed retrain rolls forward here and commits
        # meta — reading first would capture a pre-roll-forward txn
        entry_txn = int(self.meta(ns).get("txn", 0))  # also: raises
        # if never built; the txn read makes the whole verb one CAS
        # window (VERDICT r12 #4)
        if not self._has_buckets(ns):
            # every bucket already deleted: nothing to scan (the raw
            # read would throw), but this may be a crashed replay —
            # heal meta/remnants exactly like the no-victims path
            self._heal_after_noop_delete(ns)
            return 0
        live = self._assignments_dir(ns)
        scan = self.spark.read.parquet(live)
        if isinstance(vec_ids, DataFrame):
            victims = vec_ids.select(
                F.col("vec_id").cast("long").alias("vec_id")).distinct()
            # one job: affected buckets AND per-bucket victim counts
            hits = (scan.join(victims, "vec_id", "left_semi")
                    .groupBy("bucket").count().collect())
            affected = sorted(r.bucket for r in hits)
            if not affected:
                self._heal_after_noop_delete(ns)
                return 0
            removed = sum(int(r["count"]) for r in hits)
            survivors = (
                scan.filter(F.col("bucket").isin(affected))
                .join(victims, "vec_id", "left_anti")
            )
        else:
            ids = [int(v) for v in vec_ids]
            if not ids:
                return 0
            hits = (scan.filter(F.col("vec_id").isin(ids))
                    .groupBy("bucket").count().collect())
            affected = sorted(r.bucket for r in hits)
            if not affected:
                self._heal_after_noop_delete(ns)
                return 0
            removed = sum(int(r["count"]) for r in hits)
            survivors = (
                scan.filter(F.col("bucket").isin(affected))
                .filter(~F.col("vec_id").isin(ids))
            )
        staging = f"{live}.deleting"
        if self.fs.exists(staging):
            self.fs.delete(staging, recursive=True)
        (_bucket_shaped(survivors).write.mode("overwrite")
         .partitionBy("bucket").parquet(staging))
        # a bucket that held only victims has no staged dir: it
        # vanishes
        self._swap_parts(live, staging,
                         [f"bucket={b}" for b in affected],
                         f"delete({ns!r})")
        doc = self.meta(ns)
        # RECOUNT from the live table, never decrement (r11 crash-fuzz
        # finding): a kill
        # between the last bucket swap and this meta write makes the
        # replayed delete a no-op (no victims left to find), and a
        # kill mid-swap-loop makes `removed` count only the leftover
        # victims — either way an increment/decrement drifts forever.
        # count() over the assignments dir reads zero data columns
        # (parquet footers drive it), bounded by file count at any
        # corpus size.
        doc["txn"] = entry_txn  # CAS spans the whole verb (see build)
        doc["n_vectors"] = self._recount(ns)
        self._commit_meta(ns, doc)
        return removed

    # ------------------------------------------------------ compact

    def compact(self, ns: str) -> int:
        """Small-files maintenance: every ``append`` leaves one parquet
        file per (append x touched bucket), so a high-frequency ingest
        degrades probes into many-small-file scans (each file costs a
        footer read + task).  Rewrite the assignment table so each
        bucket holds ONE file, preserving rows exactly.

        Mechanics: rewrite into a staging directory, then swap via two
        renames (live -> .old, staging -> live) and drop the old
        generation — the directory-level analog of TimeStore.compact's
        generation flip.  Like the store's maintenance verbs
        (compact/gc/expire), this is scheduled serially by the
        operator; a probe planned in the instant between the renames
        would see a missing directory and should be retried.  Returns
        the number of data files after compaction.
        """
        self._restore_remnants(ns, sweep_stagings=True)  # BEFORE the
        # entry read (see delete)
        doc = self.meta(ns)  # raises if never built; txn read below
        # makes the rewrite one CAS window (VERDICT r12 #4) — compact
        # changes no meta FIELD, but committing the txn bump at the
        # end makes an interleaved maintainer loud on one side or the
        # other instead of silently racing the directory swap
        if not self._has_buckets(ns):
            return 0   # empty index (delete-everything): nothing to pack
        live = self._assignments_dir(ns)
        staging = f"{live}.compacting"
        if self.fs.exists(staging):
            self.fs.delete(staging, recursive=True)
        df = self.spark.read.parquet(live)
        # hash-distribute buckets, then partitionBy: each bucket lives
        # in exactly one task => exactly one file per bucket directory
        (_bucket_shaped(df).write.mode("overwrite")
         .partitionBy("bucket").parquet(staging))
        self._swap_dir(live, staging, f"compact({ns!r})")
        self._commit_meta(ns, doc)
        return sum(
            1 for d in self.fs.list_dirs(live) if d.startswith("bucket=")
            for st in self.fs.fs.listStatus(
                self.fs._path(f"{live}/{d}"))
            if st.getPath().getName().startswith("part-")
        )

    # ------------------------------------------------------ retrain

    def retrain(self, ns: str, k: int | None = None,
                trainer: str | None = None, iters: int = 2) -> dict:
        """Retrain the coarse quantizer at a new centroid count — the
        bucket-growth escape hatch (VERDICT r13 #2; the store's epoch
        rescale, reference StoreHelpers.hs:194-221).  ``build(k=256)`` fixes
        the bucket count forever, and probe cost is nprobe x bucket
        size: at 100x corpus every bucket is 100x fatter and probes
        degrade linearly with no escape.  ``retrain(ns, k=N)``
        restores per-bucket density without re-ingesting the corpus.

        Semantics: deterministic function of the index's own stored
        vectors — train centroids at the new ``k`` (same trainer
        rules as :meth:`build`; defaults to the built trainer),
        re-assign every stored row, and re-encode PQ codes (same
        ``m``/``ksub``/``residual``, codebook gen bumped) in the SAME
        fused pass :meth:`build(pq=...)` uses.  Because the stored
        vectors are already float32 (persisted precision), retrain is
        law-equal to a fresh ``build(k=N, pq=<same>)`` over the
        stored table (tests/test_vector_index.py) — probes on the
        retrained index are exactly fresh-build probes.  Unlike a
        fresh build, the ingest bookkeeping (``batch_fences`` /
        ``last_batch_id`` lineage fences) is PRESERVED, so an
        exactly-once streaming ingest keeps its replay fences across
        the retrain.

        Crash safety: all three staging dirs (centroids + pq
        codebooks + assignments, each ``.retraining``) are written
        first; then :meth:`_commit_relayout` fences the txn and writes
        the roll-forward marker (the commit point, carrying the full
        target meta).  The swaps + meta commit then run at
        :meth:`_restore_remnants` — here, or at the next verb/probe
        entry after a kill.  Centroids swap FIRST (their staged
        ``_CENT_MARKER`` binds the new routing to the target version),
        so probes can prove snapshot consistency — see
        :meth:`_pruned_scan`.

        One full read + one full write of the assignment table —
        the unavoidable minimum for a re-bucketing — plus a bounded
        trainer step; no driver-side corpus state (the kmeans trainer
        holds k rows, the sample trainer k rows).
        """
        self._restore_remnants(ns, sweep_stagings=True)  # BEFORE the
        # entry read: a crashed PREVIOUS retrain rolls forward here
        # and commits meta
        doc = self.meta(ns)
        entry_txn = int(doc.get("txn", 0))
        k = int(k if k is not None else doc["k"])
        if k < 1:
            raise ValueError(f"retrain({ns!r}): k must be >= 1")
        trainer = trainer or doc.get("trainer", "sample")
        dim = int(doc["dim"])
        meta_cols = tuple(doc.get("meta_cols", ()))
        if not self._has_buckets(ns):
            raise ValueError(
                f"retrain({ns!r}): the index holds no vectors — "
                f"centroids cannot be trained from nothing; run "
                f"build() when data arrives")
        stored = (self.spark.read.parquet(self._assignments_dir(ns))
                  .select("vec_id", "embedding", *meta_cols))

        if trainer == "kmeans":
            cids, C = train_kmeans_centroids(stored, k, dim,
                                             iters=iters)
        elif trainer == "sample":
            cent_rows = (stored.select(F.col("vec_id").alias("cid"),
                                       F.col("embedding").alias("ce"))
                         .orderBy("cid").limit(k).collect())
            cids = np.array([r.cid for r in cent_rows], dtype=np.int64)
            C = np.array([r.ce for r in cent_rows], dtype=np.float64)
        else:
            raise ValueError(f"unknown trainer {trainer!r}")
        # stored vectors are float32 already, so this cast is the
        # identity — kept for exact parity with build()'s kernel
        C = C.astype(np.float32).astype(np.float64)

        cent_stage = f"{self._centroids_dir(ns)}.retraining"
        assign_stage = f"{self._assignments_dir(ns)}.retraining"
        pq_stage = f"{self._pq_dir(ns)}.retraining"
        for leftover in (cent_stage, assign_stage, pq_stage):
            if self.fs.exists(leftover):
                self.fs.delete(leftover, recursive=True)

        cent_df = one_slice_df(
            self.spark,
            [(int(c), [float(x) for x in row])
             for c, row in zip(cids, C)],
            "cid long, ce array<float>",
        )
        cent_df.coalesce(1).write.mode("overwrite").parquet(cent_stage)
        # the staged marker rides the dir through the swap and binds
        # the new routing to the version this retrain will commit
        self.fs.write_text_atomic(
            f"{cent_stage}/{_CENT_MARKER}",
            json.dumps({"version": int(doc["version"]) + 1}))

        CBm, pq_doc = None, None
        if "pq" in doc:
            pq_m = int(doc["pq"]["m"])
            ksub = int(doc["pq"]["ksub"])
            dsub = dim // pq_m
            residual = bool(doc["pq"].get("residual", False))
            cb_rows = (stored.select(F.col("embedding").alias("ce"))
                       .orderBy(F.col("vec_id")).limit(ksub).collect())
            if len(cb_rows) < ksub:
                raise ValueError(
                    f"retrain({ns!r}): need {ksub} vectors to train "
                    f"PQ codebooks, index holds {len(cb_rows)}")
            CB = np.array([r.ce for r in cb_rows], dtype=np.float64)
            if residual:
                rows = np.argmax(seq_cos_matrix(CB, C, dim), axis=1)
            CB = CB.astype(np.float32).astype(np.float64)  # identity
            if residual:
                CB = CB - C[rows]
            CBm = CB.reshape(ksub, pq_m, dsub).transpose(1, 0, 2)
            cv_type = "array<double>" if residual else "array<float>"
            cb_df = one_slice_df(
                self.spark,
                [(s, c, [float(x) for x in CBm[s, c]])
                 for s in range(pq_m) for c in range(ksub)],
                f"s int, code int, cv {cv_type}",
            )
            cb_df.coalesce(1).write.mode("overwrite").parquet(pq_stage)
            pq_doc = {"m": pq_m, "ksub": ksub, "dsub": dsub,
                      "gen": int(doc["pq"]["gen"]) + 1}
            if residual:
                pq_doc["residual"] = True
            self.fs.write_text_atomic(
                f"{pq_stage}/{_PQ_MARKER}",
                json.dumps({**pq_doc,
                            "version": int(doc["version"]) + 1}))

        assigned = assign_to_centroids(
            stored, cids, C, dim, meta_cols=meta_cols,
            pq_cb=CBm,
            pq_residual=bool(doc.get("pq", {}).get("residual", False)))
        # one-task-per-bucket shape + piggybacked row count (the
        # build pattern): no stage re-read just to count, and the
        # file count is k at any input parallelism.  Retrain rejects
        # running on a never-built index, so the input is non-empty
        # and the empty-metrics toPyRow trap cannot fire.
        from pyspark.sql import Observation

        obs = Observation()
        assigned = _bucket_shaped(assigned).observe(
            obs, F.count(F.lit(1)).alias("n_rows"))
        (assigned.write.mode("overwrite")
         .partitionBy("bucket").parquet(assign_stage))
        n = int(obs.get["n_rows"] or 0)

        target = dict(doc)  # PRESERVES batch_fences/last_batch_id
        target["k"] = int(len(cids))
        # the REQUESTED k, persisted beside the committed one: the
        # kmeans trainer drops empty clusters, so on duplicate-heavy
        # data len(cids) < k — maintain() plans against
        # max(k, k_requested) so its growth feedback cannot stall on
        # the collapse (r14 review finding: without this, maintain
        # re-ran a provably-identical full retrain forever)
        target["k_requested"] = int(k)
        target["n_vectors"] = n
        target["version"] = int(doc["version"]) + 1
        target["trainer"] = trainer
        target["txn"] = entry_txn
        target["cent_marker"] = True
        if pq_doc is not None:
            target["pq"] = dict(pq_doc)
        return self._commit_relayout(ns, entry_txn, target)

    # -------------------------------------------------------- probe

    def _route_buckets(self, ns: str, queries, nprobe: int, doc: dict):
        """Shared nprobe routing for a bounded query set: per-query
        bucket lists (STABLE argsort of -cos == the oracle's
        ``ORDER BY cos DESC, cid`` tie rule, since cids are sorted
        ascending) plus their sorted union — the literal pruning
        predicate.  One definition serves :meth:`probe` and
        :meth:`probe_pq` so the two read paths cannot drift."""
        cids, C = self._load_centroids(ns, int(doc["version"]))
        Q = np.array([q[1] for q in queries], dtype=np.float64)
        cos = seq_cos_matrix(Q, C, doc["dim"])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
        probe_buckets = [[int(cids[j]) for j in row] for row in order]
        all_buckets = sorted({b for bs in probe_buckets for b in bs})
        return probe_buckets, all_buckets

    def _pruned_scan(self, ns: str, all_buckets, where=None,
                     expect_version: int | None = None):
        """Bucket-pruned assignment scan: the literal ``bucket IN``
        resolves to PartitionFilters (pinned by tests/test_plans.py);
        hive partition discovery may type bucket=N as int and the
        probed arrays are long, so the cast normalizes AFTER the
        pruning filter.  ``where`` (filtered search over persisted
        meta_cols) evaluates inside the pruned scan — pushed to
        parquet row-group stats, applied BEFORE ranking so it prunes
        candidates and never reorders survivors.

        ``expect_version`` (r14): retrain-swap consistency check.  A
        concurrent retrain roll-forward swaps centroids FIRST (their
        staged ``_CENT_MARKER`` binds the new routing to the new
        version) and assignments LAST, so re-reading the live centroid
        marker AFTER this scan's file listing and still finding the
        entry version proves the routing the caller loaded and the
        buckets just listed belong to the same snapshot.  A mismatch raises
        loudly (retry the probe) — same loud-and-retryable contract
        as every rebuild-crash window here, never silently-wrong
        routing.

        Caller contract: every probe entry (_probe_impl,
        _probe_pq_impl) runs ``_restore_remnants`` FIRST — this
        helper does not repeat it (r14 review: the double restore
        doubled the driver-side metadata RPCs on the hot path).

        The reader gets the PROBED bucket directories as explicit
        sub-paths (``basePath`` keeps ``bucket`` a partition column),
        so driver-side planning lists O(probed) directories instead
        of running hive discovery over all k — at k=4096 the
        full-dir listing is thousands of metadata RPCs per probe for
        directories the ``IN`` predicate then discards anyway.  The
        ``isin`` filter stays on top: it is what the PartitionFilters
        plan pin (tests/test_plans.py) asserts, and it keeps the
        rare fallback below identical in meaning.  Probed buckets
        with no directory (never assigned, or emptied by delete)
        contributed nothing under the full read and are simply not
        listed here — same rows either way.  Degenerate windows
        (every probed dir missing or holding no data file yet) fall
        back to the full-directory read, which reproduces the old
        behavior exactly."""
        live = self._assignments_dir(ns)
        want = {f"bucket={int(b)}" for b in all_buckets}
        have = want.intersection(self.fs.list_dirs(live))
        scan = None
        if have:
            try:
                scan = (
                    self.spark.read.option("basePath", live)
                    .parquet(*sorted(f"{live}/{name}" for name in have))
                )
            except Exception:
                # probed dirs exist but hold no data files (swept
                # crash window): UNABLE_TO_INFER_SCHEMA — take the
                # full read, whose caller-side _has_buckets guard
                # already proved SOME bucket has data
                scan = None
        if scan is None:
            scan = self.spark.read.parquet(live)
        scan = (
            scan.filter(F.col("bucket").isin(all_buckets))
            .withColumn("bucket", F.col("bucket").cast("long"))
        )
        if where is not None:
            scan = scan.filter(where)
        if expect_version is not None:
            self._check_live_version(ns, expect_version)
        return scan

    def _check_live_version(self, ns: str, expect_version: int) -> None:
        """Re-read the LIVE centroid marker and require the version
        the caller's routing was loaded from — the retrain-swap
        consistency proof shared by every probe shape (one
        definition, r14 review: the copy in _probe_df_impl had
        started to drift from _pruned_scan's)."""
        marker_path = f"{self._centroids_dir(ns)}/{_CENT_MARKER}"
        if self.fs.exists(marker_path):
            mv = int(json.loads(
                self.fs.read_text(marker_path))["version"])
            if mv != int(expect_version):
                raise RetrainRaceError(
                    f"vector index {ns!r}: a retrain swapped the "
                    f"index during this probe (live centroid "
                    f"marker version {mv} != probed version "
                    f"{expect_version}) — retry the probe")

    def _load_centroids(self, ns: str, version: int | None = None):
        if version is not None:
            hit = self._cent_cache.get((ns, version))
            if hit is not None:
                return hit
        if version is not None:
            # rebuild-crash guard (see _CENT_MARKER): the routing
            # table must belong to the version the meta committed
            marker_path = f"{self._centroids_dir(ns)}/{_CENT_MARKER}"
            doc = self.meta(ns)
            if self.fs.exists(marker_path):
                mv = int(json.loads(
                    self.fs.read_text(marker_path))["version"])
                if mv != int(doc.get("version", 0)):
                    raise IOError(
                        f"vector index {ns!r}: centroid marker version "
                        f"{mv} != committed meta version "
                        f"{doc.get('version')} — a rebuild crashed "
                        f"between its centroid write and its meta "
                        f"commit; re-run build() to converge")
            elif doc.get("cent_marker"):
                raise IOError(
                    f"vector index {ns!r}: centroid marker missing but "
                    f"the meta expects one — a rebuild crashed after "
                    f"overwriting the centroids and before re-marking "
                    f"them; re-run build() to converge")
        pdf = (self.spark.read.parquet(self._centroids_dir(ns))
               .toPandas().sort_values("cid"))
        cids = pdf["cid"].to_numpy().astype(np.int64)
        C = np.stack(pdf["ce"].to_numpy()).astype(np.float64)
        if version is not None:
            self._cent_cache[(ns, version)] = (cids, C)
        return cids, C

    def _probe_impl(self, ns: str, queries,
                    topk: int = 5, nprobe: int = 4,
                    where=None) -> DataFrame:
        """ANN top-k for a BOUNDED query set (id, vector) against the
        persisted index — no trainer, no assignment pass.

        The nprobe bucket choice per query is numpy over the k-row
        centroid matrix (driver-side, bounded); ties rank by
        (cos DESC, cid) exactly like the in-query probe window.  The
        corpus scan carries a LITERAL ``bucket IN (...)`` predicate,
        so Catalyst prunes to the probed directories
        (``PartitionFilters`` — pinned by tests/test_plans.py), then
        exact cosine ranks within: per-query cost is ~nprobe/k of the
        corpus regardless of total index size.

        Scoring is ONE ``mapInPandas`` kernel over the pruned scan:
        the query matrix and a bucket -> probing-queries map ride in
        its closure, so no query relation is built, broadcast or
        joined, and each candidate row crosses to Python once
        instead of once per probing query with that query's vector
        attached.  Per batch and bucket, :func:`seq_cos_matrix`
        scores the rows against the queries that probe the bucket
        (bit-identical to ``_cos_seq``, the :meth:`probe_df`
        reference); query vectors are rounded to float32 first, as
        the ``array<float>`` query column of that reference does.
        The kernel drops ``vec_id == query_id`` and emits only a
        partial top-``topk`` per query and bucket, ordered
        (cos DESC, vec_id ASC) the way the window below orders it.
        NaN rule: a zero-norm vector or query scores NaN, which the
        pandas -> Arrow boundary turns into NULL, and
        ``desc("cos")`` ranks NULL after every number; numpy's sort
        ranks NaN after every number too, so the same rows survive.
        The global top-k of a query is a subset of the union of its
        partial top-ks, so the ``row_number`` window over those few
        rows returns exactly what it returned over every candidate.
        """
        self._restore_remnants(ns)  # BEFORE the meta read (r14 fuzz
        # finding, fuel=57; see IndexKernel._restore_remnants)
        doc = self.meta(ns)
        if not self._has_buckets(ns):
            # every bucket deleted: empty index, empty result (the
            # raw read would throw UNABLE_TO_INFER_SCHEMA); the
            # entry restore above already recovered any remnants
            return self.spark.createDataFrame(
                [], "query_id long, neighbor_id long, "
                    "cos double, rank int")
        probe_buckets, all_buckets = self._route_buckets(
            ns, queries, nprobe, doc)
        scan = self._pruned_scan(ns, all_buckets, where,
                                 expect_version=int(doc["version"]))
        dim = doc["dim"]
        qids = np.array([int(qid) for qid, _qv in queries],
                        dtype=np.int64)
        Q = np.array([qv for _qid, qv in queries],
                     dtype=np.float32).astype(np.float64)
        by_bucket: dict[int, list[int]] = {}
        for qi, bs in enumerate(probe_buckets):
            for b in bs:
                by_bucket.setdefault(b, []).append(qi)

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vid = pdf["vec_id"].to_numpy()
                bkt = pdf["bucket"].to_numpy()
                E = np.stack(pdf["embedding"].to_numpy()).astype(
                    np.float64)
                out_q, out_v, out_c = [], [], []
                for b in np.unique(bkt):
                    rows = np.flatnonzero(bkt == b)
                    qs = by_bucket[int(b)]
                    S = seq_cos_matrix(E[rows], Q[qs], dim)
                    vb = vid[rows]
                    for j, qi in enumerate(qs):
                        keep = vb != qids[qi]
                        v, c = vb[keep], S[keep, j]
                        # NaN sorts last, as its NULL does below
                        top = np.lexsort((v, -c))[:topk]
                        out_q.append(np.full(len(top), qids[qi]))
                        out_v.append(v[top])
                        out_c.append(c[top])
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cos": np.concatenate(out_c),
                })

        hits = scan.select("vec_id", "bucket", "embedding").mapInPandas(
            score, "query_id long, vec_id long, cos double")
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "cos", "rank")
        )

    def _probe_df_impl(self, ns: str, queries, topk: int = 5,
                       nprobe: int = 4, id_col: str = "query_id",
                       vec_col: str = "qe") -> DataFrame:
        """Distributed ANN top-k for an UNBOUNDED query frame — the
        batch-serving shape (re-embedding a corpus, nightly k-NN
        joins): :meth:`probe` collects its query list to the driver,
        which caps it at thousands; this variant keeps queries in a
        DataFrame end to end.

        Plan: the k-row routing table ships in a mapInPandas closure
        that computes each query's nprobe buckets (the same
        stable-argsort tie rule as :meth:`probe`); the probe frame
        explodes to (query, bucket) rows and equi-joins the
        assignment scan on ``bucket``.  The probe side broadcasts, so
        Spark's dynamic partition pruning can skip unprobed bucket
        directories at runtime; with DPP unavailable the join itself
        still touches only matching buckets after the scan.  Exact
        in-bucket cosine ranking and the per-query top-k window are
        identical to :meth:`probe` (law-tested equal on the same
        query set).
        """
        self._restore_remnants(ns)  # BEFORE the meta read (r14 fuzz
        # finding, fuel=57; see IndexKernel._restore_remnants)
        doc = self.meta(ns)
        if not self._has_buckets(ns):
            # empty index (delete-everything): empty result (the raw
            # read would throw); the entry restore above already
            # recovered any remnants
            return self.spark.createDataFrame(
                [], "query_id long, neighbor_id long, "
                    "cos double, rank int")
        cids, C = self._load_centroids(ns, int(doc["version"]))
        dim = doc["dim"]

        def choose(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                cos = seq_cos_matrix(Q, C, dim)
                order = np.argsort(-cos, axis=1,
                                   kind="stable")[:, :nprobe]
                yield pd.DataFrame({
                    "query_id": pdf[id_col],
                    "qe": pdf[vec_col],
                    "probed": [[int(cids[j]) for j in row]
                               for row in order],
                })

        probes = (
            queries.select(F.col(id_col).alias(id_col),
                           F.col(vec_col).alias(vec_col))
            .mapInPandas(
                choose,
                "query_id long, qe array<float>, probed array<long>")
            .select("query_id", "qe",
                    F.explode("probed").alias("bucket"))
        )
        scan = (
            self.spark.read.parquet(self._assignments_dir(ns))
            .withColumn("bucket", F.col("bucket").cast("long"))
        )
        # retrain-swap consistency (see _check_live_version): the
        # live centroid marker must still carry the version whose
        # routing ships in the mapInPandas closure above
        self._check_live_version(ns, int(doc["version"]))
        from rados_timestore_spark.queries_similarity import _cos_seq

        hits = (
            scan.join(F.broadcast(probes), "bucket")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", "vec_id",
                _cos_seq(F.col("embedding"), F.col("qe")).alias("cos"),
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "cos", "rank")
        )

    # Public probe verbs: the impl bodies above run ONE snapshot
    # attempt each; these wrappers absorb RetrainRaceError (a
    # concurrent retrain flipped the dirs mid-snapshot) by re-running
    # the whole entry — meta re-read, routing reload, fresh listing —
    # which converges on the post-retrain index.  Bounded attempts:
    # an unbounded loop would spin forever against a misbehaving
    # maintainer that flips the index continuously.
    #
    # Scope of the guarantee (r14 review): the retry covers PLAN
    # CONSTRUCTION — meta read, routing load, file listing, and the
    # live-marker re-check all happen eagerly inside the wrapper.
    # The returned DataFrame is lazy; a retrain that completes AFTER
    # the wrapper returns and BEFORE the caller's action deletes the
    # listed files, and that surfaces at action time as Spark's
    # FileNotFoundException (never silently-wrong rows — the files
    # are gone, not stale).  Callers that hold a probe DataFrame
    # across maintenance verbs must re-call the probe on that error;
    # callers that act promptly (every query in this repo collects or
    # writes within the same call chain) are inside the guarantee.

    def _retry_retrain_race(self, thunk, what: str):
        last = None
        for _ in range(5):
            try:
                return thunk()
            except RetrainRaceError as exc:
                last = exc
        raise RetrainRaceError(
            f"{what}: still racing a retrain swap after 5 attempts "
            f"— is a maintainer looping?") from last

    def probe(self, ns: str, queries: list[tuple[int, list[float]]],
              topk: int = 5, nprobe: int = 4,
              where=None) -> DataFrame:
        """See :meth:`_probe_impl` for the plan; retries transparently
        across a concurrent :meth:`retrain`'s dir swaps."""
        return self._retry_retrain_race(
            lambda: self._probe_impl(ns, queries, topk=topk,
                                     nprobe=nprobe, where=where),
            f"probe({ns!r})")

    def probe_pq(self, ns: str, queries: list[tuple[int, list[float]]],
                 topk: int = 5, nprobe: int = 4,
                 rerank: int | None = None, where=None) -> DataFrame:
        """See :meth:`_probe_pq_impl` for the plan; retries
        transparently across a concurrent :meth:`retrain`'s swaps."""
        return self._retry_retrain_race(
            lambda: self._probe_pq_impl(ns, queries, topk=topk,
                                        nprobe=nprobe, rerank=rerank,
                                        where=where),
            f"probe_pq({ns!r})")

    def probe_df(self, ns: str, queries: DataFrame, topk: int = 5,
                 nprobe: int = 4, id_col: str = "query_id",
                 vec_col: str = "qe") -> DataFrame:
        """See :meth:`_probe_df_impl` for the plan; retries
        transparently across a concurrent :meth:`retrain`'s swaps."""
        return self._retry_retrain_race(
            lambda: self._probe_df_impl(ns, queries, topk=topk,
                                        nprobe=nprobe, id_col=id_col,
                                        vec_col=vec_col),
            f"probe_df({ns!r})")
