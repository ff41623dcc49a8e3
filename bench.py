"""Headline benchmark: runs every bench-tagged registry query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is materialized with a count-style collect (results are
small aggregates or pruned reads).  A warmup pass of the cheapest
query absorbs JVM/codegen startup so timings reflect the plans.

``--update-expectations`` additionally records per-query expectations
(plus a fixture fingerprint) into ``bench_expectations.json``;
``tests/test_perf_gate.py`` fails the suite when a benched query
regresses >2x against its recorded expectation on the same fixtures.

Expectation protocol (r14, VERDICT r13 #4 — the de-ratchet): each
``--update-expectations`` run records ONE SESSION = the per-query MAX
over two full suite runs (this box shows up to 2.3x run-to-run CPU
noise, so a single lucky-fast run would make the 2x gate flaky —
ADVICE r4).  The file keeps a WINDOW of the last 5 sessions on the
same fixture fingerprint, and the gated expectation per query is the
MEDIAN across that window.  The previous protocol merged a lifetime
max, which was raise-only: every slow box permanently weakened the 2x
trap (three rows were lifted on box-variance grounds in r13 alone).
Under the median, one slow session shifts the bound only until newer
clean sessions outvote it — the gate re-tightens automatically.
Legacy lifetime-max files migrate as a single synthetic session.
Record sessions in the FOREGROUND only (no concurrent suites —
BENCH_NOTES r13: backgrounded runs measure ~2x slow on long queries).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

EXPECTATIONS_PATH = os.path.join(REPO, "bench_expectations.json")

#: Sessions kept in the expectation window (see module docstring):
#: large enough that one slow box is outvoted, small enough that a
#: REAL regression recorded by mistake ages out within a few rounds.
EXPECTATION_WINDOW = 5


def updated_expectations(prev: dict | None, session: dict[str, float],
                         fingerprint: dict, sf_dir: str, now: float,
                         cpus: int = 32) -> dict:
    """Fold one bench session into the expectations document — the
    de-ratchet protocol (VERDICT r13 #4), pure so the window/median
    arithmetic is unit-testable without running the suite.

    ``session`` is this run's per-query max-of-2.  The returned doc
    keeps the last :data:`EXPECTATION_WINDOW` sessions on the same
    (fingerprint, sf_dir) and gates on the per-query MEDIAN across
    them; a fingerprint change starts a fresh window (workload drift
    is a new baseline, not a regression).  Legacy lifetime-max files
    (no ``history``) migrate as one synthetic session."""
    import statistics

    history: list[dict] = []
    if prev is not None and (prev.get("fingerprint") == fingerprint
                             and prev.get("sf_dir") == sf_dir):
        history = list(prev.get("history", []))
        if not history and prev.get("queries"):
            history = [{"recorded": None, "queries": prev["queries"]}]
    history.append({"recorded": now, "queries": dict(session)})
    history = history[-EXPECTATION_WINDOW:]
    all_q = sorted({q for h in history for q in h["queries"]})
    expect = {
        q: round(statistics.median(
            h["queries"][q] for h in history if q in h["queries"]), 3)
        for q in all_q
    }
    return {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "fingerprint": fingerprint,
        "protocol": f"median-of-last-{EXPECTATION_WINDOW}-sessions (r14)",
        "history": history,
        "queries": expect,
    }


def fixture_fingerprint(sf_dir: str) -> dict[str, int]:
    """Byte sizes of the fixture parquet files.  The driver regenerates
    testdata between rounds (r3's corpus regen shifted one query 2.3x
    with zero code change); the perf gate compares fingerprints and
    SKIPS — not fails — when the workload itself changed."""
    out = {}
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            out[fn] = os.path.getsize(os.path.join(sf_dir, fn))
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from rados_timestore_spark import registry
    from rados_timestore_spark.session import get_spark

    spark = get_spark(app_name="rados-timestore-bench")
    bench = registry.bench_queries()

    # Warmup: JVM + parquet footer + Arrow path + the Python worker
    # pool (pandas-UDF queries otherwise pay worker fork + numpy/pandas
    # import inside their first timed run), not measured.
    warm = spark.read.parquet(f"{sf_dir}/events.parquet")
    warm.limit(10).collect()
    import pandas as pd
    from pyspark.sql import functions as F

    def _warm(x):
        return x

    _warm.__annotations__ = {"x": pd.Series, "return": pd.Series}
    _warm_udf = F.pandas_udf(_warm, "long")

    spark.range(1000, numPartitions=32).select(_warm_udf("id")).count()

    def run_suite() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name, fn in bench.items():
            best, n = None, 0
            for _ in range(2):  # min-of-2: JIT/page-cache noise is ~2x
                # Queries persist() intermediates; drop them so (a) each
                # run measures its own materialization and (b) cached
                # blocks don't accumulate across 32 runs and evict/GC-churn
                # the tail of the suite.
                spark.catalog.clearCache()
                t0 = time.time()
                df = fn(spark, sf_dir)
                n = df.count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
            print(f"# {name}: {timings[name]}s rows={n}", file=sys.stderr)
        return timings

    def time_vecidx_cold_build() -> float:
        """Cold PQ-index build — the build path behind the
        sim_vecidxpq_* family, which the query suite only pays once
        per session (the fixture-keyed cache) and so cannot see
        regress (VERDICT r9 #4).  Since r12 this uses the FUSED
        ``build(pq=...)`` (codes encoded inline during the one
        assignment scan — law-tested byte-equal to build +
        enable_pq's second full rewrite), because that is the cold
        path a user should run.  Fresh tmpdir per run; min-of-2 like
        every other entry."""
        import shutil
        import tempfile

        from rados_timestore_spark.vector_index import VectorIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            root = tempfile.mkdtemp(prefix="vidx_bench_")
            t0 = time.time()
            vi = VectorIndex(spark, root)
            vi.build("e", emb, k=256,
                     pq=dict(m=4, ksub=16, residual=True))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            shutil.rmtree(root, ignore_errors=True)
        return round(best, 3)

    def time_hnswidx_cold_build() -> float:
        """Cold HNSWIndex.build (8 shards, m=8, ef=128 — the same
        geometry the sim_hnswidx_* queries use) — perf-gates the graph
        index's build path, which the query suite only pays once per
        session via the fixture-keyed cache (VERDICT r10 #2).  Fresh
        tmpdir per run; min-of-2 like every other entry."""
        import shutil
        import tempfile

        from rados_timestore_spark.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            root = tempfile.mkdtemp(prefix="hidx_bench_")
            t0 = time.time()
            vi = HNSWIndex(spark, root)
            vi.build("e", emb, shards=8, m=8, ef_construction=128)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            shutil.rmtree(root, ignore_errors=True)
        return round(best, 3)

    def time_kv_merge_only() -> float:
        """The MERGE plan alone (VERDICT r12 #6): ts_kv_merge_into is
        an end-to-end certificate whose wall time is ~dominated by the
        fixture ingest it stages (a fresh insert_bulk per run), so its
        gated number tracks the ingest, not the MERGE.  This metric
        stages the ingested store ONCE, then times merge_into (one
        generation-swap MERGE: one shuffle + one Arrow fold + the
        latest-view rewrite) against a filesystem COPY of the staged
        template per run — the copy is outside the timed window."""
        import shutil
        import tempfile

        from rados_timestore_spark.mutable import MutableKV
        from rados_timestore_spark.queries_core import events_points
        from rados_timestore_spark.store import TimeStore

        tmpl = tempfile.mkdtemp(prefix="kv_merge_tmpl_")
        store = TimeStore(spark, tmpl)
        kv = MutableKV(store, "mi")
        pts = events_points(spark, sf_dir).filter(F.col("address") % 2 == 1)
        kv.insert_bulk(pts.select(
            F.col("address").alias("key"),
            F.encode("payload_str", "UTF-8").alias("value"),
            "seq",
        ))
        updates = (
            pts.filter(F.col("address") % 4 == 1)
            .select(F.col("address").alias("key")).distinct()
            .withColumn("value", F.encode(F.lit("UPD"), "UTF-8"))
            .withColumn("seq", F.lit(0).cast("long"))
        ).localCheckpoint()  # materialized: the updates scan is not
        # what this metric isolates (the certificate query times it)
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            run_root = tempfile.mkdtemp(prefix="kv_merge_run_")
            shutil.rmtree(run_root, ignore_errors=True)
            shutil.copytree(tmpl, run_root)
            kv2 = MutableKV(TimeStore(spark, run_root), "mi")
            t0 = time.time()
            kv2.merge_into(updates, lambda new, old: old + b"|" + new)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            shutil.rmtree(run_root, ignore_errors=True)
        shutil.rmtree(tmpl, ignore_errors=True)
        return round(best, 3)

    def time_kv_merge_steady() -> float:
        """The STEADY-STATE merge (r14, VERDICT r13 #6): the template
        is merged ONCE before staging, so every chain is one folded
        row (meta.kv_folded) and the timed merge — a small batch, the
        per-micro-batch shape stream_kv_merges applies — takes the
        fast path: only the buckets holding batch keys are read,
        folded and rewritten (one file each), and only the batch's
        keys pay a per-key Python call.  The gap between
        this row and kv_merge_only is the fast path's win; the
        kv_merge_only row stays the FIRST-merge cost, which must fold
        every raw chain by the differential-law semantics."""
        import shutil
        import tempfile

        from rados_timestore_spark.mutable import MutableKV
        from rados_timestore_spark.queries_core import events_points
        from rados_timestore_spark.store import TimeStore

        tmpl = tempfile.mkdtemp(prefix="kv_steady_tmpl_")
        store = TimeStore(spark, tmpl)
        kv = MutableKV(store, "mi")
        pts = events_points(spark, sf_dir).filter(F.col("address") % 2 == 1)
        kv.insert_bulk(pts.select(
            F.col("address").alias("key"),
            F.encode("payload_str", "UTF-8").alias("value"),
            "seq",
        ))
        seed = (
            pts.filter(F.col("address") % 4 == 1)
            .select(F.col("address").alias("key")).distinct()
            .withColumn("value", F.encode(F.lit("UPD"), "UTF-8"))
            .withColumn("seq", F.lit(0).cast("long"))
        ).localCheckpoint()
        kv.merge_into(seed, lambda new, old: old + b"|" + new)
        updates = seed.limit(64).localCheckpoint()  # the small batch
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            run_root = tempfile.mkdtemp(prefix="kv_steady_run_")
            shutil.rmtree(run_root, ignore_errors=True)
            shutil.copytree(tmpl, run_root)
            kv2 = MutableKV(TimeStore(spark, run_root), "mi")
            t0 = time.time()
            kv2.merge_into(updates, lambda new, old: old + b"|" + new)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            shutil.rmtree(run_root, ignore_errors=True)
        shutil.rmtree(tmpl, ignore_errors=True)
        return round(best, 3)

    timings = run_suite()
    # Headline total = the QUERY suite only (comparable round-over-
    # round and against BASELINE.md's per-query sums); the cold-build
    # metrics are perf-gated via their expectations rows but are
    # one-time index-construction costs, not queries.
    total = round(sum(timings.values()), 3)
    timings["vecidx_cold_build"] = time_vecidx_cold_build()
    print(f"# vecidx_cold_build: {timings['vecidx_cold_build']}s "
          f"(excluded from total)", file=sys.stderr)
    timings["hnswidx_cold_build"] = time_hnswidx_cold_build()
    print(f"# hnswidx_cold_build: {timings['hnswidx_cold_build']}s "
          f"(excluded from total)", file=sys.stderr)
    timings["kv_merge_only"] = time_kv_merge_only()
    print(f"# kv_merge_only: {timings['kv_merge_only']}s "
          f"(excluded from total)", file=sys.stderr)
    timings["kv_merge_steady"] = time_kv_merge_steady()
    print(f"# kv_merge_steady: {timings['kv_merge_steady']}s "
          f"(excluded from total)", file=sys.stderr)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    if "--update-expectations" in sys.argv:
        # One SESSION = per-query MAX across two suite runs (slow-side
        # estimate against box noise, up to 2.3x here).  The gated
        # expectation = per-query MEDIAN over the last 5 sessions on
        # the same fingerprint — windowed, not a lifetime max, so the
        # 2x gate stops loosening monotonically (VERDICT r13 #4; see
        # the module docstring).  The headline JSON line still reports
        # the first (min-of-2) suite, same as a plain run.
        import statistics

        print("# --update-expectations: second suite run for per-query "
              "maxima", file=sys.stderr)
        second = run_suite()
        second["vecidx_cold_build"] = time_vecidx_cold_build()
        second["hnswidx_cold_build"] = time_hnswidx_cold_build()
        second["kv_merge_only"] = time_kv_merge_only()
        second["kv_merge_steady"] = time_kv_merge_steady()
        session = {q: max(timings[q], second[q]) for q in timings}
        prev = None
        if os.path.exists(EXPECTATIONS_PATH):
            with open(EXPECTATIONS_PATH) as f:
                prev = json.load(f)
        doc = updated_expectations(
            prev, session, fixture_fingerprint(sf_dir), sf_dir,
            now=time.time(),
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        with open(EXPECTATIONS_PATH, "w") as f:
            json.dump(doc, f, indent=2, sort_keys=True)
        print(f"# wrote {EXPECTATIONS_PATH} "
              f"({len(doc['history'])} session(s) in window)",
              file=sys.stderr)
    print(json.dumps({
        "metric": "bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
