"""CDC engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one detail JSON line (host facts,
the workload's own metric names, every check) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.
All files go under ``.bench_work/`` (removed at exit) and the traced run's
spans and self times under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text()) if (
    ROOT / "BENCHMARK.json").exists() else {}


def host_facts() -> dict:
    """Facts recorded with every run. A run is flagged invalid while
    another Spark JVM is alive: concurrent JVMs swing timings by +-50%."""
    import pyspark

    others = []
    for proc in Path("/proc").iterdir():
        if not proc.name.isdigit():
            continue
        try:
            cmd = (proc / "cmdline").read_bytes().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and "org.apache.spark" in cmd:
            others.append(int(proc.name))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "loadavg_1m": os.getloadavg()[0],
        "other_spark_jvms": others,
        "valid": not others,
    }


def _isolate(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    import tempfile

    tempfile.tempdir = str(tmp)


def _stop_spark() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "cdc_application_febuary_spark" / "__init__.py").exists():
        print("perfbench: engine package cdc_application_febuary_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import trace, workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    host = host_facts()
    base = ROOT / ".bench_work"
    work = base / f"{a.workload}-{a.seed}-{os.getpid()}"
    _isolate(work)
    tracer = trace.Tracer() if a.trace else trace.NullTracer()
    listener = trace.ProgressListener() if a.trace else None
    run = workloads.Run(a.workload, a.seed, a.seconds, work, tracer, listener)
    t_start = time.perf_counter()
    try:
        e2e, ops, failed_ops, result_checks = workloads.WORKLOADS[a.workload](run)
    finally:
        tracer.restore()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        if base.exists() and not any(base.iterdir()):
            base.rmdir()

    failed_checks = sum(not ok for ok in result_checks.values())
    if a.trace:
        span_cost = tracer.span_cost_s()
        run.layers["trace.spans"] = len(tracer.spans)
        run.layers["trace.overhead_ms"] = 1000 * span_cost * len(tracer.spans)
        tracer.write(ROOT / ".bench_out" / f"trace-{a.workload}-{a.seed}.json",
                     {"workload": a.workload, "seed": a.seed, "layers": run.layers})
        metrics = run.layers
        declared = BENCHMARK.get("per_layer", [])
    else:
        metrics = e2e
        declared = BENCHMARK.get("end_to_end", [])
    attempted = ops + len(result_checks)
    failed = failed_ops + failed_checks
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": host, "wall_s": time.perf_counter() - t_start,
        "error_rate": failed / attempted, "detail": run.detail, "checks": result_checks,
        "layers": run.layers,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a declared metric the run did not produce is a KeyError, not a gap
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
