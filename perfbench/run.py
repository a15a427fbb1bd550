"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload update_serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The benchmark sets
its own launch settings (cores, driver memory, Spark local and temp
directories, the Python workers' import path), works only inside
``.perfbench_work/`` of the checkout, and removes that run's directory
when it ends.

Standard output ends with two JSON lines: the full record (workload,
seed, effective settings, per-pass samples, spans of traced passes) and
then the result, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` every pass is traced and the metrics are the per-layer
ones. Compare the two kinds of run for the end-to-end cost of tracing;
``trace.overhead_s`` is the part the tracer itself measured.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "lovdata_pipeline_spark"

END_TO_END = {"setup_s": "s", "pass_s_p50": "s"}
_BASELINE = (
    "chunking.single_thread_docs_per_s", "chunking.token_amplification",
    "chunking.doc_ms_p99", "chunking.doc_ms_max",
)


def _unit(name: str) -> str:
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("chunks_per_s"):
        return "chunks/s"
    if "_ms_" in name or name.endswith(".ms_p50"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share", "amplification", "speedup")):
        return "ratio"
    return "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. Figures of update_serve's
    cold ingest carry the ``cold.`` prefix; unprefixed pass figures are
    medians over the traced passes."""
    from layers import PASS_METRICS
    from workloads import SUITE

    names = ["session.get_spark_s", "jvm.gc_s", "jvm.peak_rss_mb", "op_failure_ratio"]
    names += list(PASS_METRICS) + list(_BASELINE)
    names += ["cold." + n for n in PASS_METRICS + _BASELINE if not n.startswith("search.")]
    names += [f"queries.{q}.{k}" for q in SUITE
              for k in ("build_s", "exec_s", "build_jobs", "exec_jobs")]
    names += ["queries.build_jobs", "queries.build_share"]
    return {n: _unit(n) for n in names}


def launch_settings(work: Path) -> dict[str, str]:
    """Environment for a self-contained Spark launch on this host."""
    cpus = len(os.sched_getaffinity(0))
    avail_mb = 4096
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
    driver_mb = max(1024, min(2048, avail_mb // 4))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": str(work / "tmp"),
        # no hsperfdata files in the system temp directory
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }


def tree_sha() -> str:
    """Content hash of the package sources (the checkout is not a git tree)."""
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no lovdata_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = launch_settings(work)
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }

    from layers import PassTrace, summarise
    from spans import jvm_stats
    from lovdata_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gc_start = jvm_stats(spark)["gc_s"]
    sinks: dict[str, dict] = {"cold": {}, "warm": {}}

    def tracer_factory(label: str, store: Path) -> PassTrace:
        sink = sinks["cold" if label == "cold" else "warm"]
        return PassTrace(spark, f"{args.workload}-{args.seed}-{label}", store, sink)

    run = Run(spark, work, args.seed, args.seconds, bool(args.trace), tracer_factory,
              setup_s=get_spark_s)
    try:
        try:
            WORKLOADS[args.workload](run)
        except Exception as exc:  # noqa: BLE001 - reported as a failed operation
            run.op([f"{type(exc).__name__}: {exc}"])
            traceback.print_exc()
        jvm = jvm_stats(spark)
        settings = {
            "cpus": env["SPARK_GRAFT_CPUS"],
            "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "tree_sha": tree_sha(),
        }
    finally:
        stopping = time.perf_counter()
        stop_spark(spark)
        run.details["stop_s"] = time.perf_counter() - stopping
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it

    correct = run.failed == 0 and bool(run.passes)
    end_to_end = {
        "setup_s": run.setup_s,
        "pass_s_p50": statistics.median(run.passes) if run.passes else 0.0,
    }
    metrics = {k: {"value": float(end_to_end[k]), "unit": u} for k, u in END_TO_END.items()}
    result_metrics = record_metrics = metrics
    if args.trace:
        values = summarise(sinks["warm"], run.details.get("baseline_s", []))
        values.update(summarise(sinks["cold"], run.details.get("cold.baseline_s", []), "cold."))
        for key, samples in run.details.items():
            if key.endswith(_BASELINE):
                values[key] = statistics.median(samples)
        values.update(run.layer)
        values["session.get_spark_s"] = get_spark_s
        values["jvm.gc_s"] = jvm["gc_s"] - gc_start
        values["jvm.peak_rss_mb"] = jvm["peak_rss_mb"]
        values["op_failure_ratio"] = run.failed / max(1, run.attempted)
        result_metrics = {
            k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in per_layer_units().items()
        }
        # the record keeps the end-to-end figures of a traced run too, so
        # that compare.py can set traced runs against untraced ones
        record_metrics = {**metrics, **result_metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings, "setup_s": run.setup_s,
        "passes": run.passes, "peak_rss_mb": jvm["peak_rss_mb"], "details": run.details,
        "errors": run.errors[:20], "wall_s": time.perf_counter() - started,
        "metrics": record_metrics,
        "spans": sinks["cold"].get("_spans", []) + sinks["warm"].get("_spans", [])
        + run.details.pop("spans", []),
    }
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
