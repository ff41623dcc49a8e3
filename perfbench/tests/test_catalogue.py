import json
import os
import re
import subprocess
import sys

from perfbench import catalogue

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert doc == catalogue.benchmark_json(doc["run_seconds"])


def test_metric_names_and_limits():
    doc = catalogue.benchmark_json(10)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in doc[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for key in ("end_to_end", "per_layer")
               for m in doc[key])
    assert 1 <= len(doc["per_layer"]) <= 128
    assert 1 <= len(doc["end_to_end"]) <= 16
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    assert any(m == {"name": "setup_s", "unit": "s", "better": "lower",
                     "bound": max(x["bound"] for x in doc["end_to_end"])}
               for m in doc["end_to_end"])


def test_every_layer_metric_names_what_it_moves():
    e2e = {n for n, *_ in catalogue.END_TO_END}
    for name, _unit, _better, moves in catalogue.PER_LAYER:
        for metric, workload in moves:
            assert metric in e2e, name
            assert workload in catalogue.WORKLOADS, name


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run exits
    non-zero without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ts_ingest_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
