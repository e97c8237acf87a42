#!/usr/bin/env python3
"""Closed-loop benchmark of the CDC write path, the lake read surface and
the query registry.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Run it from the repository root. Workloads (see perfbench/README.md):

- ``cdc_stream``  — a seeded 8-collection Debezium changelog drained by
  ``CDCStreamPipeline`` at 2000 events per trigger (grouped txn append);
- ``cdc_upsert``  — ``CDCIngestor(materialize_current=True)`` batches, each
  followed by lake reads on the tables it changed;
- ``query_suite`` — registry queries over a fixed generated corpus, one
  client, forced through the noop sink.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics plus the tracing overhead). The line before it holds the
run's provenance and workload parameters. All scratch data lives in a
per-run directory under ``.perfbench_runs/`` in the working directory and is
removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()
T_PROCESS_WALL = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
#: Spark cores; the host must have at least this many
CORES = 4
RUNS_DIR = ".perfbench_runs"


class Context:
    """What a workload needs: the session, its inputs' seed, the timed
    length, the scratch directory and the set-up clock."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.setup_s: float | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def setup_done(self) -> None:
        """Call right before the first timed operation."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - T_PROCESS

    def setup_until(self, wall_ts: float) -> None:
        """Set-up ended at ``wall_ts`` (epoch seconds), for a first timed
        operation whose start another component timestamps."""
        self.setup_s = wall_ts - T_PROCESS_WALL


def cpu_calibration() -> float:
    """Seconds for a fixed numpy GEMM loop: a host-speed diagnostic recorded
    with every result, never used to normalize."""
    import numpy as np

    a = np.arange(640_000, dtype=np.float64).reshape(800, 800) / 1e6
    t0 = time.perf_counter()
    for _ in range(3):
        a = (a @ a.T) % 1.0 + 0.5
    return time.perf_counter() - t0


def cpu_steal_jiffies() -> int | None:
    """Cumulative CPU time stolen by the hypervisor (Linux), to show whether
    a slow run coincided with host contention."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return None


def git_sha(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def isolate(run_dir: str, root: str) -> None:
    """Point every scratch location at the run directory before Spark or
    the package is imported (the package sizes shuffles from
    SPARK_GRAFT_CPUS at import)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher included: no hsperfdata
            # files, temp files in the run directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)


def start_spark(run_dir: str):
    from mongodb_cdc_delta_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the traced run reads job/stage counters after the run ends
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mongodb_cdc_delta_spark")):
        print(
            "perfbench: run from the repository root (no "
            "mongodb_cdc_delta_spark package here)", file=sys.stderr,
        )
        return 2
    if (os.cpu_count() or 1) < CORES:
        print(f"perfbench: needs {CORES} cores", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; choose from "
            f"{sorted(workloads.WORKLOADS)}", file=sys.stderr,
        )
        return 2

    os.makedirs(os.path.join(root, RUNS_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, RUNS_DIR))
    spark = None
    steal0 = cpu_steal_jiffies()
    try:
        isolate(run_dir, root)
        import pyspark

        spark = start_spark(run_dir)
        workloads.log("session up")
        ctx = Context(spark, args.seed, args.seconds, bool(args.trace), run_dir)
        res = workloads.WORKLOADS[args.workload](ctx)
        calib = cpu_calibration()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_cores": CORES,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": git_sha(root),
        "cpu_calibration_s": calib,
        "cpu_steal_jiffies": (
            None if steal0 is None else cpu_steal_jiffies() - steal0
        ),
        "setup_s": ctx.setup_s,
        "workload_params": res.details,
    }
    print(json.dumps({"provenance": provenance}, default=str))
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
