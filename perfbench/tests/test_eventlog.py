import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture()
def fold():
    events = eventlog.read_events(LOG)
    return eventlog.fold_events(events, {"merge_into#1": (1000.0, 1002.0)})


def test_spark_counters_per_call(fold):
    got = eventlog.per_op(fold, ("merge_into", "lookup"), ["merge_into#1"])
    want = {"jobs": 1, "stages": 2, "tasks": 3, "executor_run_s": 1.48,
            "executor_cpu_s": 1.2, "shuffle_read_bytes": 3000,
            "shuffle_write_bytes": 3000, "spill_bytes": 64,
            "files_written": 4,
            # 2.0 s wall minus the task union [.2, .9] + [1.0, 1.5]
            "driver_s": 0.8}
    for key, value in want.items():
        assert got[f"spark.merge_into.{key}"] == pytest.approx(value), key
    assert all(got[f"spark.lookup.{k}"] == 0 for k in want)


def test_python_worker_counters(fold):
    got = eventlog.per_op(fold, ("merge_into",), ["merge_into#1"])
    assert got["python_workers.merge_into.rows"] == 60
    assert got["python_workers.merge_into.bytes_sent"] == 1200
    assert got["python_workers.merge_into.bytes_received"] == 400
    assert got["python_workers.merge_into.exec_s"] == pytest.approx(0.2)


def test_scan_metrics_and_job_spans(fold):
    sql = fold.sql["merge_into#1"]
    assert sql["scan.number of output rows"] == 100
    assert sql["scan.number of partitions read"] == 5
    assert fold.job_spans == [("merge_into#1", 0, 1000.1, 1001.6)]


def test_untraced_work_is_not_attributed(fold):
    assert set(fold.group) == {"merge_into#1"}
    assert eventlog.op_of("untraced") is None
    assert eventlog.op_of("dedup_minhash_lsh#12") == "dedup_minhash_lsh"


def test_calls_are_averaged_and_repeats_flagged(fold):
    fold.group["merge_into#2"]["jobs"] = 3
    got = eventlog.per_op(fold, ("merge_into",),
                          ["merge_into#1", "merge_into#2"])
    assert got["spark.merge_into.jobs"] == 2
    rep = eventlog.repeats_exactly(fold, ["merge_into#1", "merge_into#2"])
    assert rep["spark.merge_into.jobs"] is False
    assert rep["spark.merge_into.files_written"] is False


def test_union():
    assert eventlog.union_s([]) == 0
    assert eventlog.merged([(3, 4), (0.5, 2), (0, 1)]) == [(0, 2), (3, 4)]
    assert eventlog.union_s([(0, 1), (0.5, 2), (3, 4)]) == 3
