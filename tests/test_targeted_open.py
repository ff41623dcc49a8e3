"""The targeted points open (``TimeStore._open_points``): a point read
opens only the (epoch, bucket) dirs its addresses hash to, with the
pinned points schema, so it launches no discovery or footer job.

Each edge case compares the pruned scan with a full-tree
``spark.read.parquet(pdir)`` under the same filters.

Reads that do list more than 32 dirs (a whole KV generation, an IVF
probe over most buckets) run Spark's listing job with at most
``defaultParallelism`` tasks (``session.configure_session``)."""

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rados_timestore_spark.mutable import MutableKV
from rados_timestore_spark.session import (
    configure_session, shuffle_partition_count,
)
from rados_timestore_spark.store import TimeStore
from rados_timestore_spark.vector_index import VectorIndex
from tests.conftest import SF_DIR

LISTING_CAP = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

COLS = ("address", "time", "value", "payload", "seq")


def _write(store, ns, rows):
    df = store.spark.createDataFrame(
        rows, "address long, time long, value long")
    store.write_points(ns, df)


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _full_tree(store, ns, start, end, addrs, kind=0):
    """The reference answer: the whole generation, hive discovery."""
    df = store.spark.read.parquet(store._points_dir(ns))
    return _rows(df.filter(
        (F.col("kind") == kind)
        & F.col("address").isin(addrs)
        & F.col("time").between(start, end)))


def _scan(store, ns, start, end, addrs, kind=0):
    return _rows(store._scan(ns, start, end, addrs, kind=kind)
                 .filter(F.col("kind") == kind))


def _jobs_and_tasks(spark, group, action):
    """(jobs, tasks) that ``action`` launches in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages
                if tracker.getStageInfo(s) is not None)
    return len(jobs), tasks


def _listing_tasks(spark, group):
    """Task count of each file-listing job in ``group`` (run it with
    :func:`_jobs_and_tasks` first)."""
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    out = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        data = status.job(job)
        desc = data.description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            out.append(data.numTasks())
    return out


def test_point_reads_launch_two_jobs(spark, tmp_path):
    # 400 keys cover nearly every bucket of the 128-bucket KV, so a
    # hive discovery over the generation would list > 32 dirs in a
    # parallel job; the targeted open lists one epoch dir instead.
    store = TimeStore(spark, str(tmp_path / "wh"))
    kv = MutableKV(store, "kv")
    kv.insert_bulk(spark.range(0, 400).select(
        (F.col("id") * 2).alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value")))
    assert kv.lookup(84) == b"42"  # warm

    # a lookup orders the pruned raw scan directly: one job, no
    # first-wins aggregate; read_extended keeps its aggregate (2 jobs)
    jobs, tasks = _jobs_and_tasks(spark, "pin-lookup",
                                  lambda: kv.lookup(84))
    assert jobs == 1 and tasks <= 8, (jobs, tasks)
    got = {}
    jobs, tasks = _jobs_and_tasks(
        spark, "pin-read-extended",
        lambda: got.setdefault("t", store.read_extended(
            kv.ns, 0, 1 << 62, [84, 170]).toArrow()))
    assert jobs == 2 and tasks <= 8, (jobs, tasks)
    assert got["t"].num_rows == 2


def test_unwritten_bucket_reads_empty(store):
    store.register_namespace("A", buckets=8)
    _write(store, "A", [(2, 1, 1), (4, 2, 2)])
    # address 14 hashes to bucket 6, which was never written
    assert not os.path.isdir(f"{store._points_dir('A')}/epoch=0/bucket=6")
    assert _scan(store, "A", 0, 10, [14]) == [] \
        == _full_tree(store, "A", 0, 10, [14])
    assert store.read_simple("A", 0, 10, [14]).count() == 0


def test_empty_bucket_dir_reads_empty(store):
    store.register_namespace("A", buckets=8)
    _write(store, "A", [(2, 1, 1), (4, 2, 2)])
    bdir = f"{store._points_dir('A')}/epoch=0/bucket=2"
    for name in os.listdir(bdir):  # a crash-swept dir: no data file
        os.remove(os.path.join(bdir, name))
    assert _scan(store, "A", 0, 10, [2]) == [] \
        == _full_tree(store, "A", 0, 10, [2])
    assert store.read_simple("A", 0, 10, [2]).count() == 0
    assert [r.value for r in store.read_simple("A", 0, 10, [4])
            .collect()] == [2]


def test_dual_index_read_opens_only_its_kind_tree(store):
    store.register_namespace("D", buckets=4, extended_buckets=4)
    pts = store.spark.createDataFrame(
        [(2, 1, 10, None), (3, 1, None, bytearray(b"x")),
         (6, 2, 20, None), (7, 2, None, bytearray(b"y"))],
        "address long, time long, value long, payload binary")
    store.write_points("D", pts)
    for kind, addrs in ((0, [2, 6]), (1, [3, 7])):
        df = store._scan("D", 0, 10, addrs, kind=kind)
        files = df.inputFiles()
        assert files and all(f"/kind={kind}/" in f for f in files), files
        assert _scan(store, "D", 0, 10, addrs, kind) \
            == _full_tree(store, "D", 0, 10, addrs, kind)
        assert len(_scan(store, "D", 0, 10, addrs, kind)) == 2


def test_read_spanning_rescaled_epoch(store):
    store.register_namespace("R", buckets=4)
    addrs = [2, 6, 10, 14, 22]
    _write(store, "R", [(a, 100 + a, a) for a in addrs])
    store.rescale("R", 8)
    (e0, n0), (e1, n1) = store.index("R").entries
    assert (n0, n1) == (4, 8)
    _write(store, "R", [(a, e1 + a, -a) for a in addrs])
    want = _full_tree(store, "R", 0, 1 << 62, addrs)
    assert len(want) == 2 * len(addrs)
    assert _scan(store, "R", 0, 1 << 62, addrs) == want
    assert store.read_simple("R", 0, 1 << 62, addrs).count() == len(want)


def test_partition_columns_type_long_below_and_above_2_pow_31(store):
    store.register_namespace("L", buckets=4)
    _write(store, "L", [(2, 5, 1)])
    store.rescale("L", 8)
    high = store.index("L").latest()[0] + (1 << 32)
    _write(store, "L", [(2, high, 2)])
    store.rescale("L", 4)  # a third epoch, above 2^31
    e2 = store.index("L").latest()[0]
    assert e2 > 1 << 31
    _write(store, "L", [(2, e2 + 1, 3)])
    for start, end in ((0, 10), (e2, e2 + 10), (0, 1 << 62)):
        df = store._scan("L", start, end, [2])
        assert df.schema["epoch"].dataType == T.LongType()
        assert df.schema["bucket"].dataType == T.LongType()
        assert _scan(store, "L", start, end, [2]) \
            == _full_tree(store, "L", start, end, [2])


def test_pruned_rewrite_matches_full_rewrite(spark, tmp_path):
    # merge_into's folded steady state takes the pruned rewrite, which
    # opens only the touched buckets; the end state must equal an
    # unpruned twin's.
    pruned_opens = []

    def run(root, prune):
        store = TimeStore(spark, root)
        opener = store._open_points

        def spy(meta, pdir, kind=None, partitions=None, **options):
            if partitions is not None and kind is None:  # not a _scan
                pruned_opens.append(dict(partitions))
            return opener(meta, pdir, kind, partitions, **options)

        store._open_points = spy
        kv = MutableKV(store, "m")
        ups = spark.range(0, 40).select(
            (F.col("id") * 2).alias("key"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("value"))
        app = (lambda new, old: old + b"|" + new)
        kv.merge_into(ups, app)  # empty KV: a plain append
        kv.merge_into(ups, app)  # full rewrite, leaves the view folded
        if not prune:
            kv.insert(1000, b"raw")  # clears the folded flag
        kv.merge_into(ups.filter(F.col("key") < 10), app)
        return sorted((r.key, bytes(r.value))
                      for r in kv.enumerate().collect())

    pruned = run(str(tmp_path / "p"), True)
    full = run(str(tmp_path / "f"), False)
    assert pruned == [p for p in full if p[0] != 1001]
    # only the pruned run's last merge opened the generation bucket by
    # bucket, and only the five buckets that keys 0..8 hash to
    assert pruned_opens == [{0: {0, 2, 4, 6, 8}}], pruned_opens


def test_non_numeric_shuffle_partitions_falls_back(
        spark, tmp_path, monkeypatch):
    # Databricks accepts shuffle.partitions=auto; open-source Spark
    # refuses to set it, so the Python-side read of the conf is faked.
    from pyspark.sql.conf import RuntimeConfig

    assert shuffle_partition_count(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kw):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kw)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    assert shuffle_partition_count(spark) \
        == spark.sparkContext.defaultParallelism
    store = TimeStore(spark, str(tmp_path / "wh"))
    store.register_namespace("S", buckets=4)
    _write(store, "S", [(2, 1, 1), (4, 2, 2)])
    assert store.read_simple("S", 0, 10, [2, 4]).count() == 2
    kv = MutableKV(store, "kv")
    kv.insert(2, b"a")
    kv.merge_into(spark.createDataFrame(
        [(2, bytearray(b"b"))], "key long, value binary"),
        lambda new, old: old + new)
    assert kv.lookup(2) == b"ab"


def test_listing_cap_is_set_on_own_and_foreign_sessions(spark, tmp_path):
    cores = str(spark.sparkContext.defaultParallelism)
    assert spark.conf.get(LISTING_CAP) == cores  # built by get_spark
    spark.conf.unset(LISTING_CAP)
    foreign = SparkSession.builder.getOrCreate()
    assert foreign.conf.get(LISTING_CAP) != cores
    configure_session(foreign)
    assert foreign.conf.get(LISTING_CAP) == cores

    # 400 keys fill most of the KV's 128 bucket dirs: without the cap
    # the enumerate's listing job runs one task per dir
    store = TimeStore(spark, str(tmp_path / "wh"))
    kv = MutableKV(store, "kv")
    kv.insert_bulk(spark.range(0, 400).select(
        (F.col("id") * 2).alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value")))
    group = "pin-enumerate"
    _jobs_and_tasks(spark, group, lambda: kv.enumerate().count())
    listings = _listing_tasks(spark, group)
    assert listings and max(listings) <= int(cores), listings


def test_probe_runs_one_kernel_and_a_capped_listing(spark, tmp_path):
    # 16 queries x nprobe 8 on a 64-bucket index probe more than 32
    # bucket dirs, so the pruned scan's listing runs as a Spark job.
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vi = VectorIndex(spark, str(tmp_path / "idx"))
    vi.build("e", emb, k=64)
    qs = [(r.vec_id, list(r.embedding))
          for r in emb.filter(F.col("vec_id") < 16).collect()]
    _, probed = vi._route_buckets("e", qs, 8, vi.meta("e"))
    assert len(probed) > 32, len(probed)
    vi.probe("e", qs, topk=10, nprobe=8).collect()  # warm

    got = {}

    def probe():
        got["df"] = vi.probe("e", qs, topk=10, nprobe=8)
        got["rows"] = got["df"].collect()

    jobs, _tasks = _jobs_and_tasks(spark, "pin-probe", probe)
    listings = _listing_tasks(spark, "pin-probe")
    cores = spark.sparkContext.defaultParallelism
    assert listings and max(listings) <= cores, listings
    assert jobs <= 4, jobs
    plan = got["df"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert len(got["rows"]) == 16 * 10
