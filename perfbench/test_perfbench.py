"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import host  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    names = list(run.END_TO_END) + list(run.REPORT_ONLY) + list(layers.metric_units())
    assert names
    for name in names:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64, name
    assert len(names) == len(set(names))


def test_benchmark_json_lists_what_the_benchmark_reports():
    doc = _benchmark_json()
    assert [m["name"] for m in doc["per_layer"]] == list(layers.metric_units())
    assert [m["name"] for m in doc["end_to_end"]] == list(run.END_TO_END)
    for m in doc["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in doc["per_layer"]:
        assert m["unit"] == layers.metric_units()[m["name"]]


IDS = [f"img{i:03d}" for i in range(6)]
GOOD = [("img000", "c0"), ("img001", "c0"), ("img002", "c1"),
        ("img003", "c1"), ("img004", "solo/img004")]
FILTERED = ["img005"]


def test_clean_output_passes():
    assert checks.coverage_problems(IDS, GOOD, FILTERED) == []
    assert checks.size_problems(GOOD, size_max=2) == []
    assert checks.representative_problems(GOOD, ["c0", "c1", "solo/img004"]) == []


def test_dropped_id_is_rejected():
    problems = checks.coverage_problems(IDS, GOOD[1:], FILTERED)
    assert problems and "img000" in problems[0]


def test_duplicated_id_is_rejected():
    problems = checks.coverage_problems(IDS, GOOD + [("img002", "c0")], FILTERED)
    assert any("more than once" in p for p in problems)


def test_id_in_clusters_and_filtered_is_rejected():
    assert checks.coverage_problems(IDS, GOOD, FILTERED + ["img004"])


def test_oversized_cluster_is_rejected():
    big = [(i, "c0") for i in IDS[:3]] + [(i, "c1") for i in IDS[3:]]
    assert checks.size_problems(big, size_max=2)


def test_oversized_unbroken_cluster_is_allowed():
    big = [(i, "g0/unbroken") for i in IDS]
    assert checks.size_problems(big, size_max=2) == []


def test_missing_and_duplicate_representatives_are_rejected():
    assert checks.representative_problems(GOOD, ["c0", "c1"])
    assert checks.representative_problems(GOOD, ["c0", "c1", "c1", "solo/img004"])


def test_content_hash_is_order_free_and_sees_cluster_changes():
    h = checks.content_hash(GOOD)
    assert checks.content_hash(list(reversed(GOOD))) == h
    moved = [("img000", "c1")] + GOOD[1:]
    assert checks.content_hash(moved) != h


def test_pair_quality_against_planted_truth():
    truth = {"a": "t0", "b": "t0", "c": "t1", "d": "t1"}
    assert checks.pair_quality(truth, [("a", "x"), ("b", "x"), ("c", "y"),
                                       ("d", "y")]) == (1.0, 1.0)
    recall, precision = checks.pair_quality(
        truth, [("a", "x"), ("b", "x"), ("c", "x"), ("d", "y")])
    assert recall == 0.5 and precision == pytest.approx(1 / 3)


def test_failure_reason_names_the_python_cause():
    msg = ("An error occurred while calling o1.parquet.\n"
           "org.apache.spark.api.python.PythonException: Traceback:\n"
           "  File \"x.py\", line 1\n"
           "numpy._core._exceptions._ArrayMemoryError: Unable to allocate "
           "1.47 TiB for an array\n\tat org.apache.spark.Foo")
    reason = checks.failure_reason(RuntimeError(msg))
    assert "_ArrayMemoryError: Unable to allocate 1.47 TiB" in reason
    assert "\n" not in reason
    jvm = ("An error occurred while calling o86.localCheckpoint.\n"
           ": java.util.NoSuchElementException: key not found: src#12\n"
           "\tat scala.collection.MapOps.default(Map.scala:274)")
    assert "NoSuchElementException: key not found: src#12" in (
        checks.failure_reason(RuntimeError(jvm)))


@pytest.mark.skipif(len(os.sched_getaffinity(0)) < 2, reason="needs 2 CPUs")
def test_host_derivation_under_two_cpu_mask():
    cpus = sorted(os.sched_getaffinity(0))[:2]
    code = (f"import os, sys; sys.path.insert(0, {HERE!r}); "
            f"os.sched_setaffinity(0, {set(cpus)!r}); "
            "from host import derive_host; h = derive_host(); "
            "print(h.master, h.shuffle_partitions, h.heap_mb)")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    master, parts, heap = proc.stdout.split()
    assert master == "local[2]" and parts == "2"
    assert host.HEAP_MIN_MB <= int(heap) <= host.HEAP_MAX_MB


def test_percentile_summary_needs_ten_samples_beyond():
    assert "no percentile" in run.percentile_summary([1.0] * 10)
    assert "p90" in run.percentile_summary([float(i) for i in range(100)])
    assert "p99" in run.percentile_summary([float(i) for i in range(1000)])


def test_stop_all_reaps_orphaned_grandchildren():
    # the shell exits at once, orphaning its `sleep`, as the JVM orphans
    # the Python workers it forked
    code = (f"import subprocess, sys, time; sys.path.insert(0, {HERE!r}); "
            "import procs; procs.become_subreaper(); "
            "subprocess.Popen(['sh', '-c', 'sleep 300 & exit 0']).wait(); "
            "time.sleep(0.2); left = procs.descendants(); "
            "procs.stop_all(); print(len(left), len(procs.descendants()))")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["1", "0"]
