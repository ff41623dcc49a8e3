"""Fold a Spark event log into per-op ``spark.*`` and ``python_workers.*``
counters.

Every traced op runs under its own job group ``<op>#<n>``, so each job,
task and SQL execution in the log belongs to exactly one call.  Counters
are reported per call (the mean over an op's calls), so a faster program
that completes more calls in the same time still reads the same.
"""

from __future__ import annotations

import json
from collections import defaultdict

#: Per-op Spark counters (name -> unit).
SPARK_COUNTERS = {
    "jobs": "count/call", "stages": "count/call", "tasks": "count/call",
    "executor_run_s": "s/call", "executor_cpu_s": "s/call",
    "shuffle_read_bytes": "B/call", "shuffle_write_bytes": "B/call",
    "spill_bytes": "B/call", "files_written": "count/call",
    "driver_s": "s/call",
}
#: Per-op Python-worker counters (name -> unit), from the SQL metrics
#: of the Arrow/pandas UDF nodes.
PYTHON_COUNTERS = {
    "rows": "count/call", "bytes_sent": "B/call",
    "bytes_received": "B/call", "exec_s": "s/call",
}
_PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "time to run Python workers": "exec_s",
}
_SQL_EVENT = "org.apache.spark.sql.execution.ui."


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def _walk_plan(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (name, m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def merged(intervals) -> list[tuple[float, float]]:
    """Disjoint, sorted union of ``(start, end)`` intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_s(intervals) -> float:
    """Seconds covered by the union of ``(start, end)`` intervals."""
    return sum(e - s for s, e in merged(intervals))


def op_of(group: str | None) -> str | None:
    """``"merge_into#3"`` -> ``"merge_into"``; None for untraced work."""
    if not group or "#" not in group:
        return None
    return group.rsplit("#", 1)[0]


def _traced(group: str | None) -> str | None:
    return group if op_of(group) else None


class Fold:
    """Per-group (one traced call) totals gathered from the events."""

    def __init__(self):
        self.group = defaultdict(lambda: defaultdict(float))
        self.task_spans = defaultdict(list)       # group -> [(s, e)]
        self.job_spans = []                       # (group, job, s, e)
        self.sql = defaultdict(lambda: defaultdict(float))  # group -> name
        self._job_group: dict[int, str] = {}
        self._job_start: dict[int, float] = {}
        self._stage_job: dict[int, int] = {}
        self._exec_group: dict[int, str] = {}
        self._accum: dict[int, tuple[str, str]] = {}
        self._task_accum = defaultdict(lambda: defaultdict(float))
        self._driver_accum = defaultdict(lambda: defaultdict(float))

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = ev["Job ID"]
            grp = _traced(props.get("spark.jobGroup.id"))
            self._job_group[job] = grp
            self._job_start[job] = ev.get("Submission Time", 0) / 1e3
            for st in ev.get("Stage IDs", ()):
                self._stage_job[st] = job
            if "spark.sql.execution.id" in props and grp:
                self._exec_group.setdefault(
                    int(props["spark.sql.execution.id"]), grp)
            if grp:
                self.group[grp]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            grp = self._job_group.get(job)
            if grp:
                self.job_spans.append((grp, job, self._job_start[job],
                                       ev.get("Completion Time", 0) / 1e3))
        elif kind == "SparkListenerStageCompleted":
            st = ev["Stage Info"]["Stage ID"]
            grp = self._job_group.get(self._stage_job.get(st))
            if grp:
                self.group[grp]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind == _SQL_EVENT + "SparkListenerSQLExecutionStart":
            if _traced(ev.get("jobGroupId")):
                self._exec_group[ev["executionId"]] = ev["jobGroupId"]
            _walk_plan(ev.get("sparkPlanInfo", {}), self._accum)
        elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate":
            _walk_plan(ev.get("sparkPlanInfo", {}), self._accum)
        elif kind == _SQL_EVENT + "SparkListenerDriverAccumUpdates":
            acc = self._driver_accum[ev["executionId"]]
            for aid, val in ev.get("accumUpdates", ()):
                acc[aid] += float(val)

    def _task_end(self, ev: dict) -> None:
        grp = self._job_group.get(self._stage_job.get(ev["Stage ID"]))
        if not grp:
            return
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        g = self.group[grp]
        g["tasks"] += 1
        g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        rd = tm.get("Shuffle Read Metrics") or {}
        g["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0))
        wr = tm.get("Shuffle Write Metrics") or {}
        g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        if info.get("Launch Time") and info.get("Finish Time"):
            self.task_spans[grp].append((info["Launch Time"] / 1e3,
                                         info["Finish Time"] / 1e3))
        acc = self._task_accum[grp]
        for a in info.get("Accumulables", ()):
            if a.get("Metadata") == "sql" and "Update" in a:
                try:
                    acc[a["ID"]] += float(a["Update"])
                except (TypeError, ValueError):
                    pass

    def finish(self) -> None:
        """Resolve SQL accumulators to (node, metric) once every plan
        update has been seen."""
        for grp, acc in self._task_accum.items():
            for aid, val in acc.items():
                self._sql_metric(grp, aid, val)
        for ex, acc in self._driver_accum.items():
            grp = self._exec_group.get(ex)
            if grp:
                for aid, val in acc.items():
                    self._sql_metric(grp, aid, val)
        for grp, sql in self.sql.items():
            g = self.group[grp]
            g["files_written"] += sql.get("write.number of written files", 0)
            for name, key in _PY_METRICS.items():
                g["py." + key] += sql.get("python." + name, 0)
            g["py.exec_s"] /= 1e3  # timing metric, ms
            g["py.rows"] += sql.get("python.number of output rows", 0)

    def _sql_metric(self, grp: str, aid: int, val: float) -> None:
        node, metric = self._accum.get(aid, ("", ""))
        if node.startswith("Scan "):
            self.sql[grp]["scan." + metric] += val
        elif node.startswith("Execute "):
            self.sql[grp]["write." + metric] += val
        elif _is_python_node(node):
            self.sql[grp]["python." + metric] += val


def fold_events(events, op_walls: dict[str, tuple[float, float]]) -> Fold:
    """Fold ``events``; ``op_walls`` maps each traced group to its op's
    wall interval, which driver time is measured against."""
    f = Fold()
    for ev in events:
        f.feed(ev)
    f.finish()
    for grp, (s, e) in op_walls.items():
        inside = [(max(a, s), min(b, e)) for a, b in f.task_spans.get(grp, ())
                  if min(b, e) > max(a, s)]
        f.group[grp]["driver_s"] = (e - s) - union_s(inside)
    return f


def per_op(fold: Fold, ops, groups) -> dict[str, float]:
    """Mean per call of every counter for each op in ``ops``;
    ``groups`` lists the traced groups (an op with no traced call
    reads 0)."""
    out: dict[str, float] = {}
    by_op = defaultdict(list)
    for grp in groups:
        by_op[op_of(grp)].append(fold.group.get(grp, {}))
    for op in ops:
        calls = by_op.get(op, [])
        for key in SPARK_COUNTERS:
            out[f"spark.{op}.{key}"] = (
                sum(c.get(key, 0.0) for c in calls) / len(calls)
                if calls else 0.0)
        for key in PYTHON_COUNTERS:
            out[f"python_workers.{op}.{key}"] = (
                sum(c.get("py." + key, 0.0) for c in calls) / len(calls)
                if calls else 0.0)
    return out


def repeats_exactly(fold: Fold, groups, keys=("jobs", "stages", "tasks",
                                              "files_written")) -> dict:
    """For each op and count key: did every traced call read the same?"""
    seen = defaultdict(set)
    for grp in groups:
        for key in keys:
            seen[(op_of(grp), key)].add(fold.group.get(grp, {}).get(key, 0))
    return {f"spark.{op}.{key}": len(vals) == 1
            for (op, key), vals in sorted(seen.items())}
