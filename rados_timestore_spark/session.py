"""SparkSession bootstrap tuned for the timestore workload.

Scale notes (100 TB target): AQE handles runtime coalescing and skew
joins; shuffle partitions default to the core count locally but should
be ~2-3x total cluster cores in production; parquet filter pushdown and
partition pruning carry the read path (SURVEY.md §4).
Spark's parallel file-listing job is capped at the core count
(``defaultParallelism``) instead of one task per listed directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that the engine depends on.  Applied both
# when we build the session ourselves and when we are handed a foreign
# session (the correctness driver builds its own).
_RUNTIME_CONFS = {
    # The driver test data stores event time as parquet TIMESTAMP(NANOS)
    # which Spark cannot represent as TimestampType (µs).  Reading it as
    # a nanosecond long matches the reference's time model exactly:
    # Time is a Word64 of nanoseconds (lib/TimeStore/Core.hs:240-243).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic epoch arithmetic on TIMESTAMP_NTZ columns
    # (lineitem/orders store µs): NTZ -> timestamp casts interpret in
    # the session zone; pin it so epoch µs match DuckDB's epoch_us.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.mergeSchema": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parallelismFirst=true (the default) makes AQE keep ~one partition
    # per core regardless of size, so every post-shuffle stage of a
    # small-to-medium query pays full per-task scheduling overhead.
    # Size-based coalescing (the setting Spark's own AQE docs recommend
    # for real clusters) merges those into as few tasks as the advisory
    # size allows — measured 1.5-2.5x on multi-stage LSH pipelines.
    # AQE only ever MERGES initial shuffle.partitions, so on a large
    # cluster (shuffle.partitions sized at 2-3x cores) a small advisory
    # just means "coalesce less"; raise it to 64-128m there via
    # SPARK_GRAFT_ADVISORY_PARTITION.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_PARTITION", "4m"
    ),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate turns explode(f(x)) into
    # Filter(size(f(x)) > 0) + explode, and predicate pushdown then
    # drags that filter below the parallelizing repartition exchange —
    # for a pandas-UDF f this re-evaluates the ENTIRE UDF serially on
    # the unsplit scan partition (measured: 2.0 s of a 4.6 s
    # dedup_ngram_jaccard run at sf0.1 was the inferred-filter UDF
    # pass on one core).  Our generate inputs are never empty-heavy,
    # so the rule is pure downside for this engine's explode-over-UDF
    # pipelines; excluding it is semantics-preserving.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Small dimension tables (TPC-H nation/region/supplier, LSH band
    # maps) should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — keep going; only nanosAsLong
            # is load-bearing and it is runtime-settable on Spark 4.
            pass
    # A read of more than 32 directories (a probe hitting most IVF
    # buckets, a whole-generation KV or store read) lists them in a
    # Spark job of one task per directory; only `cores` of those run
    # at once, so the cap keeps the listing's full width without the
    # per-task cost of the rest.
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism",
        str(spark.sparkContext.defaultParallelism))
    _ship_package(spark)
    return spark


def shuffle_partition_count(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as a task count for the
    engine's pinned-count repartitions (``store.shape_rewrite``, the KV
    layout-keyed fold, the IVF bucket writes).  A value that is not an
    integer (Databricks' ``auto``) falls back to
    ``defaultParallelism``; numeric values are used as they are."""
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures (codec decode, KV merge fold) reference module
    functions, which pickle by module+name — executors must be able to
    import ``rados_timestore_spark``.  ``addPyFile`` ships a zip of the
    package to every worker; on a real cluster this is also how the
    engine reaches 1000 executors without a deploy step.

    Once per SparkContext: ``configure_session`` runs on every table
    load, and a second zip and ``addPyFile`` of the same path would
    only repeat the work (Spark ignores the re-add), so a context
    whose added files already hold the zip is left as it is.
    """
    import tempfile
    import zipfile

    name = "rados_timestore_spark_pkg.zip"
    sc = spark.sparkContext
    if any(f.rsplit("/", 1)[-1] == name for f in sc.listFiles):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        zpath = os.path.join(tempfile.gettempdir(), name)
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for base, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(base, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zpath)
        sc.addPyFile(zpath)
    except Exception:
        # A read-only tmp — workers that share the driver's
        # PYTHONPATH (our tests) still work.
        pass


def get_spark(
    app_name: str = "rados-timestore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 — the
    driver's bench environment).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure_session(builder.getOrCreate())
