"""The three closed-loop workloads (one client, one process).

Each workload stages its generated inputs, runs one warm-up round, then
runs rounds until the measuring time is spent.  A round is one batch
op followed by point ops; every output is checked against the model
the benchmark keeps, and a wrong output counts as a failed op.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

#: Rollover threshold for the ts store: small enough that the latest
#: epoch is cut every few batches.
ROLLOVER_BYTES = 64 * 1024
TS_BUCKETS = 16
ANN_K = 64
ANN_NPROBE = 8
ANN_TOPK = 10
#: Floors on the share of planted near-duplicate pairs that
#: dedup_minhash_lsh clusters together, and on ANN recall@10 per probe
#: batch; below either the op counts as failed.
DEDUP_RECALL_FLOOR = 0.8
ANN_RECALL_FLOOR = 0.5


def traced_round(r: int) -> bool:
    """Whether a traced run traces measured round ``r``: every other
    one from the first, so the untraced rounds between them give the
    same run's baseline for the tracing overhead.  The every-other-round
    ops (scan, enumerate) run in these rounds, so they always get root
    spans."""
    return r % 2 == 1


class Run:
    """Times ops, records traced job groups and spans, counts failures."""

    def __init__(self, spark, tracer, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.trace = trace
        self.measuring = False
        self.traced = False
        self.times = defaultdict(list)      # op -> measured call seconds
        self.rows = defaultdict(int)        # op -> rows handled (measured)
        self.attempted = 0
        self.failed = 0
        self.errors = defaultdict(int)      # exception class -> count
        self.calls = defaultdict(int)
        self.groups: list[str] = []         # traced job groups, in order
        self.measured: list[str] = []       # those of measured rounds
        self.walls: dict[str, tuple[float, float]] = {}
        self.roots: dict[str, int] = {}     # group -> root span id
        self.returned: dict[str, int] = {}  # group -> rows returned

    def call(self, op: str, layer: str, fn, rows: int = 0):
        """Run one op; returns ``(ok, result, seconds)``.  The result
        must be materialized inside ``fn``."""
        self.attempted += 1
        group = None
        if self.trace:
            if self.traced:
                self.calls[op] += 1
                group = f"{op}#{self.calls[op]}"
            self.sc.setJobGroup(group or "untraced", op)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            if group:
                self.tracer.recording = True
                with self.tracer.op(op, layer) as sid:
                    out = fn()
                self.roots[group] = sid
            else:
                out = fn()
        except Exception as exc:  # one failed op must not end the run
            self.failed += 1
            self.errors[type(exc).__name__] += 1
            print(f"perfbench: {op} raised {exc!r}"[:4000], file=sys.stderr)
            return False, None, 0.0
        finally:
            self.tracer.recording = False
        dt = time.perf_counter() - t0
        if group:
            self.groups.append(group)
            self.walls[group] = (wall0, time.time())
            if self.measuring:
                self.measured.append(group)
        if self.measuring:
            self.times[op].append(dt)
            self.rows[op] += rows
        return True, out, dt

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong output: {what}", file=sys.stderr)

    @contextmanager
    def tracing(self):
        """Trace the ops inside (in a traced run) even in an untraced
        round."""
        before, self.traced = self.traced, self.trace
        try:
            yield
        finally:
            self.traced = before

    def last_group(self, op: str) -> str | None:
        return f"{op}#{self.calls[op]}" if self.trace and self.traced else None


def _rows(tbl: pa.Table, payload_col: str):
    return zip(tbl.column("address").to_pylist(),
               tbl.column("time").to_pylist(),
               tbl.column(payload_col).to_pylist())


def du(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, hidden entries skipped."""
    files = size = 0
    for base, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


def _layout(store, root: str, ns: str) -> dict[str, float]:
    """Files, bytes and epochs of namespace ``ns``.  Taken after the
    first measured round, so they do not depend on how many rounds a
    run gets through."""
    files, size = du(f"{root}/{ns}")
    return {"store.files_live": float(files),
            "store.bytes_live": float(size),
            "index.epochs": float(len(store.index(ns).entries))}


class TsIngestScan:
    """Two ingest batches (write_points, then write_encoded) followed
    by a read_simple, a read_extended and an iter_chunks_arrow scan."""

    name = "ts_ingest_scan"
    ns = "bench"
    traced_ops = ("write_points", "write_encoded", "read_simple",
                  "read_extended", "iter_chunks_arrow", "compact")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.root = f"{work}/store"

    def setup(self, run: Run) -> None:
        from rados_timestore_spark import TimeStore

        self.store = TimeStore(run.spark, self.root,
                               rollover_bytes=ROLLOVER_BYTES)
        self.store.register_namespace(self.ns, buckets=TS_BUCKETS)
        self.model = gen.PointModel()

    def _frame(self, run: Run, b: int, encoded: bool):
        from rados_timestore_spark.codec import encode_points

        addr, tm, value, payload = gen.ts_batch(self.seed, b)
        ext = (addr & 1).astype(bool)
        if encoded:
            pts = list(zip(addr.tolist(), tm.tolist(), value.tolist(),
                           payload))
            blobs = [encode_points(pts[i:i + gen.BLOB_POINTS])
                     for i in range(0, len(pts), gen.BLOB_POINTS)]
            tbl = pa.table({"blob": pa.array(blobs, pa.binary())})
        else:
            tbl = pa.table({
                "address": pa.array(addr, pa.int64()),
                "time": pa.array(tm, pa.int64()),
                "value": pa.array(value, pa.int64(), mask=ext),
                "payload": pa.array(payload, pa.binary()),
            })
        return run.spark.createDataFrame(tbl), (addr, tm, value, payload)

    def round(self, run: Run, r: int) -> tuple[list[float], list[float]]:
        ingest_s, point_s = [], []
        reads = gen.ts_reads(self.seed, r)
        for i, op in enumerate(("write_points", "write_encoded")):
            df, pts = self._frame(run, 2 * r + i, op == "write_encoded")
            fn = (self.store.write_encoded if op == "write_encoded"
                  else self.store.write_points)
            ok, _, dt = run.call(op, "store", lambda: fn(self.ns, df),
                                 rows=len(pts[0]))
            if ok:
                self.model.apply(*pts)
                ingest_s.append(dt)
            point_s += self._point_reads(run, r, reads[i])
        if r == 0:
            # Storage cost after the first two batches, where it does
            # not depend on how many rounds a run gets through; then the
            # one compaction, traced in a traced run like a measured op.
            self.stored = du(f"{self.root}/{self.ns}")[1] \
                / self.model.wire_bytes
            with run.tracing():
                run.call("compact", "store",
                         lambda: self.store.compact(self.ns))
        if traced_round(r):
            self._scan(run, r, *reads[2])
        if r == 1:
            self.layout = _layout(self.store, self.root, self.ns)
        # one batch sample per round: both writes, so the two kinds
        # always weigh the same
        return ([sum(ingest_s)] if len(ingest_s) == 2 else []), point_s

    def _scan(self, run: Run, r: int, start: int, end: int, addrs) -> None:
        ok, chunks, _ = run.call(
            "iter_chunks_arrow", "store",
            lambda: [t for _, t in self.store.iter_chunks_arrow(
                self.ns, start, end, addrs)])
        if ok:
            if run.measuring:
                run.rows["iter_chunks_arrow"] += sum(t.num_rows
                                                     for t in chunks)
            got = [row for t in chunks for row in _rows(t, "value")]
            run.check(gen.checksum(got)
                      == gen.checksum(self.model.expect(addrs, start, end)),
                      f"iter_chunks_arrow round {r}")

    def _point_reads(self, run: Run, r: int, spec) -> list[float]:
        """A read_simple and a read_extended, each checked."""
        out = []
        for op, (start, end, addrs), col in (
                ("read_simple", spec[0], "value"),
                ("read_extended", spec[1], "payload")):
            read = getattr(self.store, op)
            ok, tbl, dt = run.call(
                op, "store",
                lambda: read(self.ns, start, end, addrs).toArrow())
            if not ok:
                continue
            out.append(dt)
            if run.last_group(op):
                run.returned[run.last_group(op)] = tbl.num_rows
            run.check(gen.checksum(_rows(tbl, col))
                      == gen.checksum(self.model.expect(addrs, start, end)),
                      f"{op} round {r}")
        return out

    def finish(self, run: Run) -> dict:
        wp, we = run.times["write_points"], run.times["write_encoded"]
        writes = wp + we
        reads = run.times["read_simple"] + run.times["read_extended"]
        scan_s = sum(run.times["iter_chunks_arrow"])
        # both kinds ingest equal-sized batches
        per_batch = run.rows["write_points"] / len(wp) if wp else 1
        extra = ((statistics.median(we) - statistics.median(wp))
                 / per_batch * 1e6 if wp and we else 0.0)
        return {
            "bytes_stored_per_user_byte": self.stored,
            "quality": 1.0,
            "named": {
                "ingest_points_per_s": (
                    (run.rows["write_points"] + run.rows["write_encoded"])
                    / sum(writes) if writes else 0.0, None),
                "write_p50_s": timing(writes),
                "read_p50_s": timing(reads),
                "scan_rows_per_s": (
                    run.rows["iter_chunks_arrow"] / scan_s if scan_s else 0.0,
                    None),
            },
            "layer": {**self.layout,
                      "codec.write_encoded_extra_s_per_mpoint": extra},
        }


class KvUpsertLookup:
    """A Zipf-skewed append-merge batch per round, then point lookups
    (80% on keys just merged) and, every few rounds, an enumerate."""

    name = "kv_upsert_lookup"
    traced_ops = ("insert_bulk", "merge_into", "lookup", "enumerate")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.root = f"{work}/store"

    def setup(self, run: Run) -> None:
        from rados_timestore_spark import MutableKV, TimeStore

        self.store = TimeStore(run.spark, self.root)
        self.kv = MutableKV(self.store, "kv")
        keys, values = gen.kv_initial(self.seed)
        df = run.spark.createDataFrame(pa.table({
            "key": pa.array(keys, pa.int64()),
            "value": pa.array(values, pa.binary())}))
        ok, _, _ = run.call("insert_bulk", "mutable",
                            lambda: self.kv.insert_bulk(df))
        if not ok:
            raise RuntimeError("insert_bulk failed; nothing to measure")
        self.model = dict(zip(keys.tolist(), values))

    def round(self, run: Run, r: int) -> tuple[list[float], list[float]]:
        keys, values = gen.kv_merge(self.seed, r)
        df = run.spark.createDataFrame(pa.table({
            "key": pa.array(keys, pa.int64()),
            "value": pa.array(values, pa.binary()),
            "seq": pa.array(np.arange(len(keys)), pa.int64())}))
        ok, _, dt = run.call(
            "merge_into", "mutable",
            # a lambda pickles by value: executors need not import
            # perfbench (same fold as gen.append_merge)
            lambda: self.kv.merge_into(df, lambda new, old: old + b"|" + new),
            rows=len(keys))
        batch_s = [dt] if ok else []
        if ok:
            gen.fold_merge(self.model, keys, values)
        point_s = []
        for k in gen.kv_lookups(self.seed, r, keys):
            ok, got, dt = run.call("lookup", "mutable",
                                   lambda: self.kv.lookup(k))
            if ok:
                point_s.append(dt)
                run.check(got == self.model.get(k), f"lookup({k}) round {r}")
        if traced_round(r):
            ok, count, _ = run.call("enumerate", "mutable",
                                    lambda: self.kv.enumerate().count())
            if ok:
                run.check(count == len(self.model), f"enumerate round {r}")
        if r == 0:   # storage cost after the bulk load and one merge
            self.stored = du(f"{self.root}/{self.kv.ns}")[1] / sum(
                8 + len(v) for v in self.model.values())
        if r == 1:
            self.layout = _layout(self.store, self.root, self.kv.ns)
        return batch_s, point_s

    def finish(self, run: Run) -> dict:
        return {
            "bytes_stored_per_user_byte": self.stored,
            "quality": 1.0,
            "named": {
                "merge_p50_s": timing(run.times["merge_into"]),
                "lookup_p50_s": timing(run.times["lookup"]),
            },
            "layer": self.layout,
        }


class LlmDedupAnn:
    """dedup_minhash_lsh over a generated corpus, then ANN probe
    batches against a prebuilt IVF index."""

    name = "llm_dedup_ann"
    ns = "emb"
    traced_ops = ("build", "dedup_minhash_lsh", "probe")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.docs_dir = f"{work}/docs"
        self.root = f"{work}/vectors"
        self.recalls: list[float] = []

    def setup(self, run: Run) -> None:
        from rados_timestore_spark.vector_index import VectorIndex

        cols, self.planted = gen.documents(self.seed)
        os.makedirs(self.docs_dir, exist_ok=True)
        pq.write_table(pa.table(cols), f"{self.docs_dir}/documents.parquet")
        self.ids, self.vecs = gen.embeddings(self.seed)
        emb = run.spark.createDataFrame(pa.table({
            "vec_id": pa.array(self.ids, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(self.vecs.ravel()), gen.DIM).cast(
                    pa.list_(pa.float32())),
        }))
        self.index = VectorIndex(run.spark, self.root)
        ok, _, self.build_s = run.call(
            "build", "vector_index",
            lambda: self.index.build(self.ns, emb, k=ANN_K, dim=gen.DIM))
        if not ok:
            raise RuntimeError("VectorIndex.build failed; nothing to measure")

    def _dedup(self, spark):
        from rados_timestore_spark.queries_common import release_pins
        from rados_timestore_spark.queries_dedup import dedup_minhash_lsh

        try:
            return dedup_minhash_lsh(spark, self.docs_dir).toArrow()
        finally:
            release_pins()

    def round(self, run: Run, r: int) -> tuple[list[float], list[float]]:
        batch_s, point_s = [], []
        # the warm-up round runs dedup twice and probe three times: the
        # probe keeps getting faster for a call longer than the dedup
        for rep in range(3 if r == 0 else 1):
            if rep < 2:
                ok, tbl, dt = run.call(
                    "dedup_minhash_lsh", "queries_dedup",
                    lambda: self._dedup(run.spark), rows=gen.N_DOCS)
                if ok:
                    batch_s = [dt]
                    self._check_dedup(run, r, tbl)
            for i in range(gen.PROBES_PER_ROUND):
                point_s += self._probe(run, r, rep * gen.PROBES_PER_ROUND + i)
        return batch_s, point_s

    def _check_dedup(self, run: Run, r: int, tbl: pa.Table) -> None:
        rep = dict(zip(tbl.column("doc_id").to_pylist(),
                       tbl.column("cluster_rep").to_pylist()))
        found = sum(a in rep and rep[a] == rep.get(b)
                    for a, b, _ in self.planted)
        run.check(tbl.num_rows == gen.N_DOCS
                  and found >= DEDUP_RECALL_FLOOR * len(self.planted),
                  f"dedup round {r}: {tbl.num_rows} rows, "
                  f"{found}/{len(self.planted)} planted pairs")

    def _probe(self, run: Run, r: int, i: int) -> list[float]:
        """Probe batch ``i`` of round ``r``, recall checked."""
        qids, q = gen.ann_queries(self.seed, r, i)
        queries = list(zip(qids, q.tolist()))
        ok, tbl, dt = run.call(
            "probe", "vector_index",
            lambda: self.index.probe(self.ns, queries, topk=ANN_TOPK,
                                     nprobe=ANN_NPROBE).toArrow())
        if not ok:
            return []
        got = defaultdict(set)
        for qid, nid in zip(tbl.column("query_id").to_pylist(),
                            tbl.column("neighbor_id").to_pylist()):
            got[qid].add(nid)
        exact = gen.exact_topk(self.ids, self.vecs, q, ANN_TOPK)
        rec = [len(got[qid] & want) / ANN_TOPK
               for qid, want in zip(qids, exact)]
        if run.measuring:
            self.recalls.extend(rec)
        run.check(statistics.mean(rec) >= ANN_RECALL_FLOOR,
                  f"probe round {r} batch {i}: recall "
                  f"{statistics.mean(rec):.3f}")
        return [dt]

    def finish(self, run: Run) -> dict:
        files, size = du(self.root)
        raw = gen.N_VECS * (8 + 4 * gen.DIM)
        recall = statistics.mean(self.recalls) if self.recalls else 0.0
        dedup_s = sum(run.times["dedup_minhash_lsh"])
        return {
            "bytes_stored_per_user_byte": size / raw,
            "quality": recall,
            "named": {
                "dedup_docs_per_s": (
                    run.rows["dedup_minhash_lsh"] / dedup_s if dedup_s
                    else 0.0, None),
                "index_build_s": (self.build_s, None),
                "ann_query_p50_s": timing(run.times["probe"]),
                "ann_recall_at_10": (recall, None),
            },
            "layer": {},
        }


WORKLOADS = {w.name: w for w in (TsIngestScan, KvUpsertLookup, LlmDedupAnn)}


def tail_pct(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return int(100 * (1 - 10 / n))


def timing(samples: list[float]):
    """``(median, {"n", "tail_pct", "tail"})`` for a timing."""
    if not samples:
        return 0.0, {"n": 0}
    pct = tail_pct(len(samples))
    extra = {"n": len(samples), "tail_pct": pct}
    if pct is not None:
        extra["tail"] = float(np.percentile(samples, pct))
    return statistics.median(samples), extra
