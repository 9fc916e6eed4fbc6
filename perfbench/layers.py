"""Per-layer table from a traced run: spans joined with the Spark event
log. Batch-level figures average over the traced measured batches; the
layer-to-metric map is in ``layers.json``."""

from __future__ import annotations

import glob
import os
import statistics

import spans as sp


def per_layer(w, spans: list[dict], log_dir: str, cores: int, detail: dict,
              journal_files: int) -> tuple[dict, dict]:
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    jobs = sp.parse_eventlog(log)
    sp.attach_jobs(spans, jobs)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    timed = [s for s in spans if s["batch"] is not None and s["batch"] >= 0]
    batches = [s for s in timed if s["name"] == "batch"]
    n = len(batches)
    events = sum(s["events"] for s in batches)

    def named(name):
        return [s for s in timed if s["name"] == name]

    def per_batch(name, field):
        return sum(s[field] for s in named(name)) / n

    def per_call(name, field="wall_s"):
        xs = [s[field] for s in named(name)]
        return statistics.fmean(xs) if xs else None

    def setup_time(name):
        return sum(s["wall_s"] for s in spans
                   if s["name"] == name and s["batch"] is None)

    wall = sum(s["wall_s"] for s in batches)
    values = {
        "session.start_s": (detail["session_start_s"], "s"),
        "sources.load_s": (w.load_s, "s"),
        "cdc.bootstrap_s": (setup_time("cdc.bootstrap"), "s"),
        "cdc.apply_s": (per_batch("cdc.apply_envelope_batch", "self_s"), "s"),
        "cdc.merge_s": (per_batch("cdc.merge_batch", "wall_s"), "s"),
        "cdc.journal_s": (per_batch("cdc.append_journal", "wall_s"), "s"),
        "cdc.jobs_per_sync": (per_batch("sync", "jobs"), "count"),
        "cdc.tasks_per_sync": (per_batch("sync", "tasks"), "count"),
        "store.write_merged_s": (per_batch("store.write_merged", "wall_s"), "s"),
        "store.buckets_rewritten": (
            per_batch("store.write_merged", "buckets_rewritten"), "count"),
        "store.buckets_linked": (
            per_batch("store.write_merged", "buckets_linked"), "count"),
        "store.rows_rewritten_per_event": (
            sum(s["output_records"] for s in named("store.write_merged")) / events,
            "ratio"),
        "store.bytes_written": (
            per_batch("store.write_merged", "output_bytes"), "bytes"),
        "journal.bytes_written": (
            per_batch("cdc.append_journal", "output_bytes"), "bytes"),
        "journal.files": (journal_files, "count"),
        "spark.jobs": (per_batch("batch", "jobs"), "count"),
        "spark.stages": (per_batch("batch", "stages"), "count"),
        "spark.tasks": (per_batch("batch", "tasks"), "count"),
        "spark.task_run_s": (per_batch("batch", "task_run_s"), "s"),
        "spark.task_cpu_s": (per_batch("batch", "task_cpu_s"), "s"),
        "spark.gc_s": (per_batch("batch", "gc_s"), "s"),
        "spark.sched_delay_s": (per_batch("batch", "sched_delay_s"), "s"),
        "spark.driver_gap_s": (per_batch("batch", "driver_gap_s"), "s"),
        "spark.busy_frac": (
            sum(s["task_run_s"] for s in batches) / (wall * cores), "ratio"),
        "spark.shuffle_write_bytes": (
            per_batch("batch", "shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (
            per_batch("batch", "shuffle_read_bytes"), "bytes"),
        "spark.output_bytes": (per_batch("batch", "output_bytes"), "bytes"),
        "proc.jvm_rss_mb": (detail["jvm_rss_mb"], "MB"),
        "proc.python_rss_mb": (detail["python_rss_mb"], "MB"),
    }

    # figures of layers only one workload exercises
    only: dict[str, float | None] = {
        "spark.failed_tasks": per_batch("batch", "failed_tasks"),
    }
    if w.name == "orders_churn":
        mvb = named("mv.merge_batch")
        inner = [k for s in mvb for k in kids.get(s["id"], [])
                 if k["name"] == "cdc.merge_batch"]
        only.update({
            "mv.merge_self_s": (sum(s["wall_s"] for s in mvb)
                                - sum(k["wall_s"] for k in inner)) / n,
            "mv.jobs_per_batch": (sum(s["jobs"] for s in mvb)
                                  - sum(k["jobs"] for k in inner)) / n,
            "mv.bytes_written": (sum(s["output_bytes"] for s in mvb)
                                 - sum(k["output_bytes"] for k in inner)) / n,
            "mv.read_s": per_call("read:mv"),
            "mv.initialize_s": setup_time("mv.initialize"),
        })
    else:
        # Engine.analytics/ask return lazy frames: a dashboard read is the
        # call plus its collect, so those figures come from the read spans
        dash = [s for s in timed if s["name"].startswith("read:")
                and s["name"] != "read:ask"]
        only.update({
            "engine.replicas_s": per_call("engine.replicas"),
            "analytics.plan_s": per_call("analytics.query"),
            "analytics.query_s": statistics.fmean(s["wall_s"] for s in dash),
            "analytics.jobs_per_query": statistics.fmean(s["jobs"] for s in dash),
            "semantic.route_s": per_call("semantic.route"),
            "semantic.ask_s": per_call("read:ask"),
        })

    # tracing overhead: traced (odd) minus untraced (even) batches
    def p50(rows, col):
        return statistics.median(r[col] for r in rows) if rows else None

    tb, ub = w.traced_batches, w.untraced_batches
    overhead = {
        "traced_batches": len(tb),
        "untraced_batches": len(ub),
        "sync_p50_s": _diff(p50(tb, 1), p50(ub, 1)),
        "fresh_p50_s": _diff(p50(tb, 2), p50(ub, 2)),
    }

    by_name: dict[str, dict] = {}
    for s in timed:
        row = by_name.setdefault(s["name"], {
            "calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0,
            "driver_gap_s": 0.0})
        row["calls"] += 1
        for k in ("wall_s", "self_s", "jobs", "tasks", "driver_gap_s"):
            row[k] += s[k]
    unlabelled = [j for j in jobs if not (j["group"] or "").startswith("span-")]
    report = {
        "traced_batches": n,
        "events": events,
        "workload_only": only,
        "tracing_overhead_s": overhead,
        "spans_by_name": by_name,
        "unlabelled_jobs": len(unlabelled),
        "total_jobs": len(jobs),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return metrics, report


def _diff(a, b):
    return None if a is None or b is None else a - b
