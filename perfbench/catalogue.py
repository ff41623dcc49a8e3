"""Every metric the benchmark reports: name, unit, better direction,
bound, and — for the per-layer metrics — which end-to-end metric on
which workload each one should move.  ``BENCHMARK.json`` at the
repository root carries the same end-to-end and per-layer lists
(``perfbench/tests/test_catalogue.py`` keeps the two in step).
"""

from __future__ import annotations

from perfbench.eventlog import PYTHON_COUNTERS, SPARK_COUNTERS
from perfbench.spans import FS_METHODS

TS, KV, LLM = "ts_ingest_scan", "kv_upsert_lookup", "llm_dedup_ann"

WORKLOADS = {
    TS: "the store's own ingest and range-read surface, where writes and "
        "reads share one store: more files or epochs show as slower reads",
    KV: "merge_into generation swaps and Spark-job-per-lookup cost of the "
        "last-value KV, with Zipf-skewed keys",
    LLM: "dedup and ANN operators that live in queries_dedup, vector_index "
         "and Python workers: the control for store-side changes",
}

#: End-to-end metrics: every workload reports every one of them.
#: ``(name, unit, better, bound, meaning)``.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start, input generation and staging, and one warm-up round"),
    ("batch_p50_s", "s", "lower", 0.25,
     f"median batch op per round: {TS} write_points + write_encoded, "
     f"{KV} merge_into, {LLM} dedup_minhash_lsh"),
    ("point_p50_s", "s", "lower", 0.25,
     f"median point op: {TS} read_simple/read_extended, {KV} lookup, "
     f"{LLM} probe of 16 queries"),
    ("peak_rss_mb", "MB", "lower", 0.2,
     "largest VmHWM sum over the driver's process tree (Python driver, "
     "JVM, Python workers)"),
    ("bytes_stored_per_user_byte", "ratio", "lower", 0.1,
     f"after the warm-up round: {TS} namespace bytes / wire bytes sent "
     f"(before its one compaction); {KV} namespace bytes / live key+value "
     f"bytes; {LLM} index bytes / raw vector bytes"),
    ("result_quality", "ratio", "higher", 0.1,
     f"{LLM}: ANN recall@10 against numpy brute force; {TS} and {KV}: "
     f"share of checked outputs that matched the model, which is 1 in "
     f"every run that exits 0 (a pass marker only)"),
]

#: Units of the per-workload names the ``#`` lines print beside the
#: end-to-end metrics.
NAMED = {
    "ops_failed_ratio": "ratio",
    "ingest_points_per_s": "1/s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "scan_rows_per_s": "1/s",
    "merge_p50_s": "s",
    "lookup_p50_s": "s",
    "dedup_docs_per_s": "1/s",
    "index_build_s": "s",
    "ann_query_p50_s": "s",
    "ann_recall_at_10": "ratio",
}

STORE_OPS = ("write_points", "write_encoded", "read_simple", "read_extended",
             "iter_chunks_arrow", "compact")
MUTABLE_OPS = ("merge_into", "lookup", "enumerate", "insert_bulk")
SPARK_OPS = ("write_points", "read_simple", "merge_into", "lookup",
             "dedup_minhash_lsh", "probe")
PYTHON_OPS = ("merge_into", "dedup_minhash_lsh", "probe")
SELF_LAYERS = ("store", "mutable", "queries_dedup", "vector_index",
               "fsutil", "spark")
#: Counters that read 0 by construction (ops that write no files and
#: never spill at these sizes), left out to stay within 128 names.
_ALWAYS_ZERO = {f"spark.{op}.files_written" for op in
                ("read_simple", "lookup", "dedup_minhash_lsh", "probe")} | {
    "spark.lookup.spill_bytes", "spark.probe.spill_bytes"}


def _layer_moves() -> list[tuple[str, str, str, list[tuple[str, str]]]]:
    """``(name, unit, better, [(metric, workload), ...])`` per layer
    metric, in report order."""
    out = [
        ("session.start_s", "s", "lower",
         [("setup_s", TS), ("setup_s", KV), ("setup_s", LLM)]),
        ("session.warmup_s", "s", "lower",
         [("setup_s", TS), ("setup_s", KV), ("setup_s", LLM)]),
    ]
    store_moves = [("batch_p50_s", TS), ("point_p50_s", TS),
                   ("bytes_stored_per_user_byte", TS)]
    # ``<layer>.<op>.calls`` counts the traced calls that
    # ``<layer>.<op>.busy_s`` (a mean per call) is taken over
    for op in STORE_OPS:
        out.append((f"store.{op}.calls", "count", "higher", store_moves))
        out.append((f"store.{op}.busy_s", "s/call", "lower", store_moves))
    out += [
        ("store.concurrent_writer_errors", "count", "lower", store_moves),
        ("store.files_live", "count", "lower", store_moves),
        ("store.bytes_live", "B", "lower",
         [("bytes_stored_per_user_byte", TS),
          ("bytes_stored_per_user_byte", KV)]),
        ("index.epochs", "count", "lower", [("point_p50_s", TS)]),
        ("index.partitions_read_per_read", "count", "lower",
         [("point_p50_s", TS)]),
        ("index.rows_examined_per_row_returned", "ratio", "lower",
         [("point_p50_s", TS)]),
        ("codec.write_encoded_extra_s_per_mpoint", "s", "lower",
         [("batch_p50_s", TS)]),
    ]
    # span totals per traced round
    fs_moves = [("batch_p50_s", KV), ("batch_p50_s", TS)]
    for m in FS_METHODS:
        out.append((f"fsutil.{m}.calls", "count/round", "lower", fs_moves))
        out.append((f"fsutil.{m}.busy_s", "s/round", "lower", fs_moves))
    out += [("fsutil.flip_lock.wait_s", "s/round", "lower", fs_moves),
            ("fsutil.clone_dir_tree.files", "count/round", "lower",
             fs_moves)]
    for op in MUTABLE_OPS:
        moves = [("batch_p50_s", KV), ("point_p50_s", KV)]
        out.append((f"mutable.{op}.calls", "count", "higher", moves))
        out.append((f"mutable.{op}.busy_s", "s/call", "lower", moves))
    out.append(("queries_dedup.dedup_minhash_lsh.busy_s", "s/call", "lower",
                [("batch_p50_s", LLM)]))
    for op, moves in (("build", [("setup_s", LLM)]),
                      ("probe", [("point_p50_s", LLM)])):
        out.append((f"vector_index.{op}.calls", "count", "higher", moves))
        out.append((f"vector_index.{op}.busy_s", "s/call", "lower", moves))
    spark_moves = {
        "write_points": [("batch_p50_s", TS)],
        "read_simple": [("point_p50_s", TS)],
        "merge_into": [("batch_p50_s", KV)],
        "lookup": [("point_p50_s", KV)],
        "dedup_minhash_lsh": [("batch_p50_s", LLM)],
        "probe": [("point_p50_s", LLM)],
    }
    for op in SPARK_OPS:
        for key, unit in SPARK_COUNTERS.items():
            name = f"spark.{op}.{key}"
            if name not in _ALWAYS_ZERO:
                out.append((name, unit, "lower", spark_moves[op]))
    for op in PYTHON_OPS:
        for key, unit in PYTHON_COUNTERS.items():
            out.append((f"python_workers.{op}.{key}", unit, "lower",
                        spark_moves[op]))
    for layer in SELF_LAYERS:
        out.append((f"self_s.{layer}", "s/round", "lower",
                    [(m, w) for w in (TS, KV, LLM)
                     for m in ("batch_p50_s", "point_p50_s")]))
    out.append(("trace.overhead_ratio", "ratio", "lower", []))
    return out


PER_LAYER = _layer_moves()


def benchmark_json(run_seconds: int) -> dict:
    """The ``BENCHMARK.json`` document these lists define."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _ in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _ in PER_LAYER],
    }
