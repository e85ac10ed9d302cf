#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload medallion_replay --seed 1 --seconds 20 --trace 0

Run from the repository root. The run is pinned: ``local[nproc]``,
one client thread, the engine's own default driver heap, and every
scratch file under ``.perfbench/`` in the root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps each layer's public functions in spans
and prints the per-layer metrics, and leaves the spans in
``.perfbench/results/`` for ``perfbench/report.py``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it stamps the host, versions, seed and source, and
carries the workload's own numbers.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "reciping_data_pipeline_spark"
END_TO_END = {"setup_s": "s", "op_mean_s": "s", "pass_s": "s"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def pin_environment(work: str) -> int:
    """Run shape and scratch locations, set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts: temp files in the run's directory,
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        f"pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    return cores


def source_id() -> str:
    """Commit when the root is a git checkout, else a digest of the
    engine's source files."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=True,
            timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha256()
        for r, _d, fs in sorted(os.walk(os.path.join(ROOT, ENGINE))):
            for f in sorted(fs):
                if f.endswith(".py"):
                    with open(os.path.join(r, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
        return "src-" + h.hexdigest()[:16]


def stamp(spark, cores: int, args) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores,
        "ram_gb": round(mem_kb / 1024**2, 1),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": args.seed,
        "seconds": args.seconds,
        "source": source_id(),
    }


def memory_mb(spark) -> dict:
    """Peak resident memory of the driver JVM and of this process, and
    the heap still live after a full collection at the end of the run.
    Reported on the stamp line only: both swing 15-30% between runs."""
    jvm = spark._jvm
    with open(f"/proc/{jvm.ProcessHandle.current().pid()}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    out = {
        "jvm_hwm_mb": hwm_kb / 1024.0,
        "client_maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    gc.collect()
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    out["retained_heap_mb"] = heap.getUsed() / 2**20
    return out


class Session:
    """The workload's SparkSession. The first start launches the JVM;
    later starts build a new session in the same JVM."""

    def __init__(self, factory):
        self.factory = factory
        self.spark = None

    def start(self):
        self.spark = self.factory()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and wait for the JVM (and with it Spark's
        Python workers) to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def run(args, shape_name: str = "full") -> dict:
    from perfbench import trace
    from perfbench.report import PER_LAYER, layer_metrics
    from perfbench.workloads import SETUP_REPS, SHAPES, WORKLOADS

    base = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(base, "work", run_id)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    cores = pin_environment(work)

    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, SHAPES[shape_name])
    session = Session(wl.session)
    try:
        wl.prepare()
        setup_s = []
        for rep in range(SETUP_REPS):
            # stopping the previous session is teardown, not set-up
            session.stop()
            t0 = time.perf_counter()
            spark = session.start()
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)

        tracer = trace.Tracer(spark, run_id) if args.trace else trace.NullTracer()
        if args.trace:
            tracer.install()
        try:
            outcome = wl.measure(spark, tracer)
        finally:
            if args.trace:
                tracer.uninstall()
        header = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "stamp": stamp(spark, cores, args),
            "setup_s": setup_s,
            "detail": outcome.detail,
            "error_rate": outcome.failed / max(outcome.attempted, 1),
            "memory": memory_mb(spark),
        }
        if args.trace:
            metrics = layer_metrics([vars(s) for s in tracer.spans], cores, tracer.overhead_s)
            units = dict(PER_LAYER)
            header["trace_overhead_s"] = tracer.overhead_s
            tracer.write(os.path.join(results, f"{run_id}.spans.jsonl"))
        else:
            metrics = {
                "setup_s": statistics.median(setup_s),
                # the mean, not the median: a run's ops are few and unlike
                # (18 different queries), so the median jumps between them
                "op_mean_s": statistics.mean(outcome.op_s) if outcome.op_s else 0.0,
                "pass_s": outcome.detail["pass_s"],
            }
            units = END_TO_END
        with open(os.path.join(results, f"{run_id}.result.json"), "w") as f:
            json.dump({**header, "metrics": metrics}, f, indent=1)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(header))
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_utils.py")
    ):
        print(f"perfbench: no {ENGINE} package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, os.environ.get("PERFBENCH_SHAPE", "full"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # the root, not this directory, so module names here never shadow
    # the standard library (``trace``)
    sys.path[0] = ROOT
    sys.exit(main(sys.argv[1:]))
