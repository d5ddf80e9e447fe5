"""perfbench: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload offline_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the benchmark imports ``gp_ann_spark`` from
the directory above ``perfbench/`` and exits with code 2 when it is absent.
Workloads are listed in ``perfbench/workloads.py``; what each metric means
and which layer metric should move which end-to-end metric is in
``perfbench/README.md``.

Progress goes to standard error. Standard output carries the environment
record, the workload's named metrics with their units, a detail line and,
last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every file the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

PROCESS_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# generic end-to-end metrics, reported by every workload: (unit, meaning)
END_TO_END = {
    "setup_s": ("s", "median over the setup repetitions of input generation + index/sink build"),
    "op_p50_s": ("s", "median operation latency: pipeline pass / query batch / drain"),
    "op_tail_s": ("s", "operation latency at the highest percentile with >=10 samples beyond it"),
    "throughput": ("1/s", "repo rows per pipeline second / queries per second / landed rows per drain second"),
    "recall_at_10": ("ratio", "recall@10 against exact neighbours: curve mean / served results / edge table"),
    "driver_rss_peak_mb": ("MB", "peak RSS of the driver Python process"),
}


def _pin_environment(work: str) -> None:
    """One BLAS thread, a driver heap that fits a small box, every temp file
    inside the work dir, and the checkout on the Python workers' path."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM too
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _environment(seed: int, nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10, check=True
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown (not a git checkout)"
    return {
        "seed": seed,
        "commit": commit,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "blas_threads": 1,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def per_layer_names(workload_classes) -> dict[str, tuple[str, str]]:
    """Every per-layer metric name → (unit, better), over all workloads."""
    from perfbench.harness import BASE_SUFFIXES, EXTRA_SUFFIXES

    workload_classes = list(workload_classes)
    names: dict[str, tuple[str, str]] = {}
    for cls in workload_classes:
        for layer, extras in cls.LAYERS.items():
            for suffix, unit, better in BASE_SUFFIXES:
                names[f"{layer}.{suffix}"] = (unit, better)
            for suffix in extras:
                names[f"{layer}.{suffix}"] = EXTRA_SUFFIXES[suffix]
        for note in cls.NOTES:
            names[note] = ("ratio", "higher")
    for cls in workload_classes:
        names[f"{cls.name}.failed_tasks"] = ("count", "lower")
    return names


def run(workload: str, seed: int, seconds: float, trace: bool, toy: bool, work: str) -> dict:
    from perfbench import harness
    from perfbench.workloads import TOY_SIZES, WORKLOADS

    def log(msg: str) -> None:
        print(f"[perfbench {workload}] {msg}", file=sys.stderr, flush=True)

    nproc = len(os.sched_getaffinity(0))
    env = _environment(seed, nproc)
    spark = harness.start_spark(work, nproc)
    session_s = time.perf_counter() - PROCESS_START
    log(f"session up after {session_s:.3f} s")
    try:
        cls, size = WORKLOADS[workload]
        wl = cls(spark, seed, TOY_SIZES[workload] if toy else size, work)
        calls = harness.Tracer(spark) if trace else harness.Calls(spark)
        res = harness.run_workload(wl, calls, seconds, log)
        summary = wl.summary(res)
        lat = res["latencies"]
        p, tail_v, beyond = harness.tail(lat)
        e2e = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "throughput": summary.throughput,
            "recall_at_10": summary.recall,
            "driver_rss_peak_mb": harness.peak_rss_mb(),
        }
        named = {
            **summary.named,
            "setup_s": (res["setup_s"], "s"),
            "error_rate": (res["failed"] / res["attempted"], "ratio"),
            "driver_rss_peak_mb": (e2e["driver_rss_peak_mb"], "MB"),
        }
        if trace:
            layers = harness.layer_metrics(
                calls, {k: v for c, _ in WORKLOADS.values() for k, v in c.LAYERS.items()},
                tuple(n for c, _ in WORKLOADS.values() for n in c.NOTES),
            )
            for c, _ in WORKLOADS.values():
                layers[f"{c.name}.failed_tasks"] = calls.failed_tasks if c is cls else 0
            units = per_layer_names(c for c, _ in WORKLOADS.values())
            metrics = {n: {"value": layers[n], "unit": units[n][0]} for n in units}
        else:
            metrics = {n: {"value": e2e[n], "unit": END_TO_END[n][0]} for n in END_TO_END}
        detail = {
            "workload": workload,
            "traced": trace,
            "session_start_s": session_s,
            "latencies_s": lat,
            "tail": {"percentile": p, "samples": len(lat), "beyond": beyond},
            "op_jobs": res["op_jobs"],
            "call_jobs": res["call_jobs"],
            "unattributed_jobs": res["op_jobs"] - res["call_jobs"],
            "errors": res["errors"][:20],
        }
        if trace:
            detail["evicted_jobs"] = calls.evicted_jobs
        return {"env": env, "named": named, "detail": detail, "result": {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }}
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("offline_pipeline", "query_serving", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes (the smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gp_ann_spark")):
        print(f"perfbench: no gp_ann_spark/ package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _pin_environment(work)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.toy, work)

    print("env " + json.dumps(out["env"]))
    for name, (value, unit, *note) in out["named"].items():
        print(f"{args.workload}  {name} = {value:.6g} {unit}" + (f"  ({note[0]})" if note else ""))
    print("detail " + json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
