"""Tracing from outside the package: instance-method spans labelled as
Spark job groups, and an event-log parser that charges each Spark job
to the span that ran it.

A span wrapper is installed as an *instance* attribute on an object the
benchmark built (``eng.cdc.merge_batch``, ``store.write_merged``, ...).
Calls the package makes through ``self.`` resolve that attribute first,
so nested calls become child spans with no edit to the package. Each
span sets ``spark.jobGroup.id`` to its own id while it runs; the event
log then names the innermost span of every job.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Keeps spans in memory; ``enabled`` switches recording per batch
    so traced and untraced batches can interleave in one run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.enabled = True
        self.batch: int | None = None

    def _label(self) -> None:
        gid = f"span-{self.stack[-1]}" if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "batch": self.batch,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._label()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._label()

    def wrap(self, obj, method: str, name: str, attrs=None) -> None:
        """Shadow ``obj.method`` with a span-recording wrapper; ``attrs``
        maps the call's arguments to extra span fields."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            if not self.enabled:
                return inner(*args, **kwargs)
            with self.span(name) as rec:
                if attrs is not None:
                    rec.update(attrs(*args, **kwargs))
                return inner(*args, **kwargs)

        setattr(obj, method, traced)


def parse_eventlog(path: str) -> list[dict]:
    """One record per Spark job: its job group, interval and summed task
    metrics (seconds and bytes)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "stages": 0, "tasks": 0, "failed_tasks": 0,
                    "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
                    "sched_delay_s": 0.0, "shuffle_write_bytes": 0,
                    "shuffle_read_bytes": 0, "output_bytes": 0,
                    "output_records": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                j = jobs[jid]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0) / 1000
                j["tasks"] += 1
                j["failed_tasks"] += int(bool(info.get("Failed")))
                j["task_run_s"] += run
                j["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000
                # the UI's scheduler delay: task duration not spent running,
                # deserializing, serializing or shipping the result
                dur = (info["Finish Time"] - info["Launch Time"]) / 1000
                other = (
                    m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0)
                ) / 1000
                j["sched_delay_s"] += max(0.0, dur - run - other)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out = m.get("Output Metrics") or {}
                j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                j["output_bytes"] += out.get("Bytes Written", 0)
                j["output_records"] += out.get("Records Written", 0)
    return list(jobs.values())


SUMMED = ("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
          "sched_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
          "output_bytes", "output_records")


def attach_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Give every span its subtree's job count, summed task metrics, job
    intervals, self time and driver gap (wall minus the union of the job
    intervals inside it: planning, Python and commit I/O)."""
    children: dict[int, list[int]] = {}
    for s in spans:
        s["jobs"] = 0
        s["job_iv"] = []
        s.update({k: 0 for k in SUMMED})
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    for j in jobs:
        g = j["group"] or ""
        if not g.startswith("span-"):
            continue
        s = spans[int(g[5:])]
        s["jobs"] += 1
        s["job_iv"].append((j["start"], j["end"] or j["start"]))
        for k in SUMMED:
            s[k] += j[k]
    # children always have larger ids than their parent: fold bottom-up
    for s in reversed(spans):
        kids = [spans[c] for c in children.get(s["id"], [])]
        s["wall_s"] = s["end"] - s["start"]
        s["self_s"] = s["wall_s"] - sum(k["wall_s"] for k in kids)
        for k in kids:
            s["jobs"] += k["jobs"]
            s["job_iv"] += k["job_iv"]
            for m in SUMMED:
                s[m] += k[m]
        s["driver_gap_s"] = s["wall_s"] - _union(s["job_iv"], s["start"], s["end"])


def _union(ivs, lo, hi) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
