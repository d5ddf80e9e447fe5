"""Toy-size smoke run of every perfbench workload, through the same command
the benchmark is run with (only the input sizes differ):

    python3 -m pytest perfbench/test_smoke.py -q

It takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

# the end-to-end metrics each workload prints by name, beside the generic
# ones in BENCHMARK.json
NAMED = {
    "offline_pipeline": ("pipeline_s", "imbalance", "recall_at_10_p1"),
    "query_serving": ("query_qps", "query_batch_p50_s", "query_batch_tail_s", "recall_at_10"),
    "stream_ingest": ("ingest_rows_per_s", "ingest_batch_p50_s", "ingest_batch_tail_s"),
}
COMMON = ("setup_s", "error_rate", "driver_rss_peak_mb")


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _parse(proc: subprocess.CompletedProcess) -> tuple[list[str], dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(next(ln for ln in lines if ln.startswith("detail "))[len("detail "):])
    return lines, detail, json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_untraced_run(workload):
    lines, detail, res = _parse(_run(workload, 0))
    # every operation's output passed its checks
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, detail["errors"]
    # every end-to-end metric is reported, with its unit, and none reads 0
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {n: v["unit"] for n, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())
    printed = {ln.split()[1] for ln in lines if ln.startswith(workload + " ")}
    assert set(NAMED[workload]) | set(COMMON) <= printed
    # the untraced run submitted no Spark job outside the layer calls
    assert detail["op_jobs"] > 0
    assert detail["unattributed_jobs"] == 0


def test_traced_run_reports_every_layer_metric():
    _, detail, res = _parse(_run("query_serving", 1))
    assert res["correct"] is True, detail["errors"]
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {n: v["unit"] for n, v in res["metrics"].items()} == units
    m = {n: v["value"] for n, v in res["metrics"].items()}
    assert m["search.probe_shards.jobs"] > 0 and m["search.probe_shards.python_s"] > 0
    assert m["partition.kmeans_partition.wall_s"] >= m["partition.kmeans_partition.driver_gap_s"] > 0
    assert 0 < m["search.probe_keep_ratio"] <= 1
    assert m["graph.pagerank.jobs"] == 0  # a layer this workload never calls
    assert detail["evicted_jobs"] == 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_serving", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
