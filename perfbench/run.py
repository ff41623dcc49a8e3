"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ts_ingest_scan --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root.  The package is imported from that root
and Spark runs in this process on ``local[nproc]``.  Everything the run
writes goes under ``.perfbench/`` and is removed at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and the benchmark's spans and prints the per-layer
metrics.  Lines starting with ``#`` are the human-readable report (box
record, per-workload named metrics with sample counts); the last line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------- box

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Steal share of all CPU time between two /proc/stat samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def tree_pids(root: int) -> set[int]:
    """``root`` and all of its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakRss:
    """Largest VmHWM sum over this process tree, sampled between rounds."""

    def __init__(self):
        self.peak = 0.0

    def sample(self) -> None:
        self.peak = max(self.peak, sum(vm_hwm_mb(p)
                                       for p in tree_pids(os.getpid())))


# -------------------------------------------------------------- spark

def spark_env(work: str, trace: bool) -> None:
    """Point every scratch directory Spark, the JVM and Python use at
    ``work`` and, for a traced run, turn on the uncompressed event log."""
    for d in ("tmp", "local", "jtmp", "evlog", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.hadoop.hadoop.tmp.dir": f"{work}/tmp",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/evlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={work}/jtmp",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (the JVM, the Python worker daemon and its workers) has
    exited."""
    from pyspark import SparkContext

    started = tree_pids(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_ended(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_ended(pids: set[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit, reaping our own children; SIGKILL
    whatever outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


# ------------------------------------------------------------ measure

def measure(args, spark, t0: float, work: str, rss: PeakRss):
    """Set up, warm up and run the workload on a started session;
    returns ``(run, workload, rounds, setup dict)``."""
    from rados_timestore_spark import fsutil, vector_index
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Run, traced_round

    start_s = time.perf_counter() - t0
    tracer = Tracer()
    if args.trace:
        tracer.install(fsutil, vector_index)
    run = Run(spark, tracer, bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, work)
    run.traced = bool(args.trace)      # staging ops are traced once
    wl.setup(run)
    run.traced = False
    t_warm = time.perf_counter()
    wl.round(run, 0)
    warmup_s = time.perf_counter() - t_warm
    setup = {"setup_s": time.perf_counter() - t0, "start_s": start_s,
             "warmup_s": warmup_s}
    rss.sample()

    # Measured rounds.  A traced run alternates traced and untraced
    # rounds, so tracing overhead is measured inside the same run
    # (against untraced rounds that still write the event log).
    run.measuring = True
    rounds = []
    end = time.perf_counter() + args.seconds
    r = 1
    # a traced run gets at least one untraced round to compare with
    while time.perf_counter() < end or (args.trace and r <= 2):
        run.traced = bool(args.trace) and traced_round(r)
        batch_s, point_s = wl.round(run, r)
        rounds.append({"traced": run.traced, "batch_s": batch_s,
                       "point_s": point_s})
        rss.sample()
        r += 1
    run.traced = False
    run.measuring = False
    return run, wl, rounds, setup


def end_to_end(run, rounds, setup, finish, rss) -> dict:
    batches = [t for rd in rounds for t in rd["batch_s"]]
    points = [t for rd in rounds for t in rd["point_s"]]
    checked = max(run.attempted, 1)
    quality = finish["quality"]
    if quality == 1.0:
        quality = 1.0 - run.failed / checked
    return {
        "setup_s": setup["setup_s"],
        "batch_p50_s": statistics.median(batches) if batches else 0.0,
        "point_p50_s": statistics.median(points) if points else 0.0,
        "peak_rss_mb": rss.peak,
        "bytes_stored_per_user_byte": finish["bytes_stored_per_user_byte"],
        "result_quality": quality,
    }


def per_layer(run, rounds, setup, finish, evlog_dir) -> tuple[dict, dict]:
    """Per-layer metrics from the spans, the event log and the
    workload's own counters; also the exact-repeat flags.

    Op timings are means per traced call and span totals are per traced
    round, so a program that fits more rounds into the run reads the
    same, not worse."""
    from perfbench import catalogue, eventlog
    from perfbench.spans import self_times, under

    files = os.listdir(evlog_dir)
    events = eventlog.read_events(os.path.join(evlog_dir, files[0]))
    fold = eventlog.fold_events(events, run.walls)
    # concurrent jobs of one op count once towards Spark's self time
    jobs = defaultdict(list)
    for grp, _job, s, e in fold.job_spans:
        jobs[grp].append((s, e))
    for grp, spans in jobs.items():
        if grp in run.roots:
            for s, e in eventlog.merged(spans):
                run.tracer.add(run.roots[grp], "spark.jobs", "spark", s, e)

    out = {"session.start_s": setup["start_s"],
           "session.warmup_s": setup["warmup_s"]}
    roots = [s for s in run.tracer.spans if s.parent is None]
    for layer, ops in (("store", catalogue.STORE_OPS),
                       ("mutable", catalogue.MUTABLE_OPS),
                       ("vector_index", ("build", "probe"))):
        for op in ops:
            mine = [s.end - s.start for s in roots if s.name == op]
            out[f"{layer}.{op}.calls"] = float(len(mine))
            out[f"{layer}.{op}.busy_s"] = (statistics.mean(mine) if mine
                                           else 0.0)
    dedup = [s.end - s.start for s in roots if s.name == "dedup_minhash_lsh"]
    out["queries_dedup.dedup_minhash_lsh.busy_s"] = (
        statistics.mean(dedup) if dedup else 0.0)
    out["store.concurrent_writer_errors"] = float(
        run.errors.get("ConcurrentWriterError", 0))
    # span totals of the measured traced rounds, per round; set-up and
    # warm-up ops (insert_bulk, build, compact) are left out
    scope = under(run.tracer.spans, [run.roots[g] for g in run.measured])
    per_round = run.tracer.fs_counters(scope)
    selfs = self_times(scope)
    for layer in catalogue.SELF_LAYERS:
        per_round[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    n = max(sum(rd["traced"] for rd in rounds), 1)
    out.update((k, v / n) for k, v in per_round.items())

    reads = [g for g in run.groups
             if eventlog.op_of(g) in ("read_simple", "read_extended")]
    scanned = sum(fold.sql[g].get("scan.number of output rows", 0)
                  for g in reads)
    returned = sum(run.returned.get(g, 0) for g in reads)
    out["index.partitions_read_per_read"] = (
        sum(fold.sql[g].get("scan.number of partitions read", 0)
            for g in reads) / len(reads) if reads else 0.0)
    out["index.rows_examined_per_row_returned"] = (
        scanned / returned if returned else 0.0)
    out.update(eventlog.per_op(fold, catalogue.SPARK_OPS, run.groups))
    traced = [t for rd in rounds if rd["traced"] for t in rd["point_s"]]
    plain = [t for rd in rounds if not rd["traced"] for t in rd["point_s"]]
    out["trace.overhead_ratio"] = (
        statistics.median(traced) / statistics.median(plain)
        if traced and plain else 0.0)
    out.update(finish["layer"])

    metrics = {}
    for name, unit, _better, _moves in catalogue.PER_LAYER:
        metrics[name] = {"value": float(out.get(name, 0.0)), "unit": unit}
    return metrics, eventlog.repeats_exactly(fold, run.groups)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "rados_timestore_spark",
                                       "__init__.py")):
        print("perfbench: rados_timestore_spark not found next to "
              "perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench import catalogue

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    spark_env(work, bool(args.trace))
    box0, load0 = cpu_times(), loadavg()
    rss = PeakRss()
    spark = None
    try:
        from rados_timestore_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]",
                          shuffle_partitions=nproc())
        run, wl, rounds, setup = measure(args, spark, t0, work, rss)
        finish = wl.finish(run)
        rss.sample()
        e2e = end_to_end(run, rounds, setup, finish, rss)
        if args.trace:
            missing = [op for op in wl.traced_ops if not run.calls[op]]
            if missing:
                raise RuntimeError("no traced call of " + ", ".join(missing))
            stop_spark(spark)
            spark = None
            metrics, repeats = per_layer(run, rounds, setup, finish,
                                         f"{work}/evlog")
        else:
            units = {n: u for n, u, *_ in catalogue.END_TO_END}
            metrics = {n: {"value": v, "unit": units[n]}
                       for n, v in e2e.items()}
            repeats = {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    box = {"nproc": nproc(), "loadavg_before": load0,
           "loadavg_after": loadavg(),
           "steal_pct": round(steal_pct(box0, cpu_times()), 3)}
    named = {"setup_s": (setup["setup_s"],
                         {"start_s": round(setup["start_s"], 3),
                          "warmup_s": round(setup["warmup_s"], 3)}),
             "ops_failed_ratio": (run.failed / max(run.attempted, 1), None)}
    named.update(finish["named"])
    units = {n: u for n, u, *_ in catalogue.END_TO_END}
    units.update(catalogue.NAMED)
    print(f"# perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"rounds={len(rounds)}")
    print("# box " + json.dumps(box))
    for name, (value, extra) in named.items():
        print(f"# {name} = {value:.6g} {units[name]}"
              + (f"  {json.dumps(extra)}" if extra else ""))
    for name, value in e2e.items():
        print(f"# e2e {name} = {value:.6g}")
    for op, samples in sorted(run.times.items()):
        print(f"# op {op}: p50 {statistics.median(samples):.4f} s "
              f"n {len(samples)} samples "
              + " ".join(f"{t:.3f}" for t in samples))
    if repeats:
        print("# repeats_exactly " + json.dumps(repeats))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
