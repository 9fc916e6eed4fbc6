#!/usr/bin/env python3
"""CDC freshness benchmark.

    python3 perfbench/run.py --workload clinic_live --seed 1 --seconds 20 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` under ``.perfbench/run-<pid>/`` (removed afterwards), drives
the package as one closed-loop client for ``--seconds``, checks the
replicas (and the MV) against the generator's expected state, and
prints one JSON object as its last line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` instruments the same calls and
reports the per-layer metrics (spans and the layer table are also
written to ``.perfbench/traces/``). The exit code is non-zero when an
output check fails or the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# untimed warm-up batches per workload (JVM JIT, codegen, first-use
# caches); clinic_live's is the scripted morning's ten batches in one file
WARMUP = {"clinic_live": 1, "orders_churn": 1}


def mem_kb(field: str, path: str = "/proc/meminfo") -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def fit_box(run_dir: str) -> dict:
    """Cap local parallelism at the cores this process may use, size the
    driver heap from MemAvailable, and keep every Spark and Python temp
    file inside the run directory."""
    nproc = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS", str(nproc))
    cpus = min(nproc, int(want)) if want.isdigit() else nproc
    avail_mb = mem_kb("MemAvailable") // 1024
    driver_mb = max(512, min(1024, avail_mb // 8))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # every JVM, the launcher's too: temp files here, no /tmp perf data
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return {
        "nproc": nproc,
        "cpus": cpus,
        "mem_total_mb": mem_kb("MemTotal") // 1024,
        "mem_available_mb": avail_mb,
        "driver_memory_mb": driver_mb,
        "python": platform.python_version(),
    }


def tail(samples: list[float]) -> tuple[float, int]:
    """Value at the highest whole percentile with at least ten samples
    beyond it (nearest rank), never below the median; returns the value
    and the percentile used."""
    xs = sorted(samples)
    n = len(xs)
    pct = max(50, (100 * (n - 10)) // n) if n > 10 else 50
    if pct == 50:
        return statistics.median(xs), 50
    rank = -(-pct * n // 100)  # ceil
    return xs[rank - 1], pct


def rss_mb(pid: int | str) -> float:
    return mem_kb("VmHWM", f"/proc/{pid}/status") / 1024


def end_to_end(w, session_s: float, jvm_pid: int) -> tuple[dict, dict]:
    sync_tail, sync_pct = tail(w.sync_s)
    fresh_tail, fresh_pct = tail(w.fresh_s)
    values = {
        "setup_s": (session_s + w.build_s + w.warmup_s, "s"),
        "sync_p50_s": (statistics.median(w.sync_s), "s"),
        "sync_tail_s": (sync_tail, "s"),
        "fresh_p50_s": (statistics.median(w.fresh_s), "s"),
        "fresh_tail_s": (fresh_tail, "s"),
        "events_per_s": (w.events / sum(w.sync_s), "1/s"),
        "query_p50_s": (statistics.median(w.query_s), "s"),
        "write_amp": (w.new_bytes / w.payload_bytes, "ratio"),
        "peak_rss_mb": (rss_mb(jvm_pid) + rss_mb("self"), "MB"),
    }
    detail = {
        "batches": len(w.sync_s),
        "reads": sum(len(v) for v in w.query_by_name.values()),
        "sync_tail_pct": sync_pct,
        "fresh_tail_pct": fresh_pct,
        "events": w.events,
        "payload_bytes": w.payload_bytes,
        "new_store_bytes": w.new_bytes,
        "session_start_s": session_s,
        "jvm_rss_mb": rss_mb(jvm_pid),
        "python_rss_mb": rss_mb("self"),
        "build_s": w.build_s,
        "warmup_s": w.warmup_s,
        "query_p50_by_name_s": {
            k: statistics.median(v) for k, v in w.query_by_name.items()
        },
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import sfguide_getting_started_openflow_postgresql_cdc_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        env = fit_box(run_dir)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }
        if args.trace:
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from sfguide_getting_started_openflow_postgresql_cdc_spark.session import (
            get_spark,
        )

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._jvm
        env.update(
            pyspark=spark.version,
            java=jvm.System.getProperty("java.version"),
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
        )
        jvm_pid = spark.sparkContext._gateway.proc.pid

        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(spark.sparkContext)
        w = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed, tracer)
        w.run(args.seconds, WARMUP[args.workload])
        metrics, detail = end_to_end(w, session_s, jvm_pid)
        if args.trace:
            import layers

            journal_files = sum(
                f.endswith(".parquet")
                for _d, _s, fs in os.walk(os.path.join(w.store.root, "journal"))
                for f in fs
            )
            spark.stop()
            spark = None
            # compare with untraced runs for the whole cost of tracing
            # (event log included); the report's overhead is spans only
            detail["end_to_end_traced"] = {k: m["value"] for k, m in metrics.items()}
            metrics, report = layers.per_layer(
                w, tracer.spans, log_dir, env["cpus"], detail, journal_files
            )
            detail["trace_report"] = report
            out_dir = os.path.join(base, "traces")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            with open(trace_path, "w") as f:
                json.dump({"env": env, "report": report, "spans": [
                    {k: v for k, v in s.items() if k != "job_iv"}
                    for s in tracer.spans
                ]}, f, indent=1, default=str)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        print(json.dumps({"env": env, "detail": detail}, default=str))
        print(json.dumps({
            "correct": w.failed == 0,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": metrics,
        }))
        return 0 if w.failed == 0 else 1
    finally:
        if spark is not None:
            spark.stop()
        stop_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_gateway() -> None:
    """Shut the py4j gateway and wait for the JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
