"""Spans around the program's layer boundaries, and their Spark counters.

A span is (id, name, parent, start, end). Entering a span sets the Spark
job description to ``perfbench|<span id>``, so every job the span starts is
tagged in the event log; after the session stops, :func:`attribute` reads
the uncompressed JSON event log and sums each span's job, stage and task
counters and the SQL metrics its tasks reported.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

DESC_PREFIX = "perfbench|"
SQL_METRICS = {
    "scan time": "scan_time_ms",
    "number of input batches": "scan_batches",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
}


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(DESC_PREFIX + sid)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def wrap(self, owner, attr: str, name_of):
        """Replace ``owner.attr`` with a wrapper that runs it inside a span
        named ``name_of(*args)``."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name_of(*args)):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapped)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _events(log_dir: str):
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(("appstatus", "."))]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def attribute(log_dir: str, spans: list[dict]) -> dict:
    """Counters per span id, each span also counting its descendants' jobs
    (a job carries the description of the innermost span open when it
    started)."""
    job_span, job_time, stage_job, job_exec = {}, {}, {}, {}
    acc_name, exec_files = {}, defaultdict(float)  # files read, per SQL execution
    stage_ran: set[int] = set()
    tasks = defaultdict(list)  # stage id -> [(duration, run, cpu, gc, shw, shr, spill)]
    sql = defaultdict(lambda: defaultdict(float))  # stage id -> metric -> sum
    for e in _events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(DESC_PREFIX):
                job_span[e["Job ID"]] = desc[len(DESC_PREFIX):]
            job_time[e["Job ID"]] = [e["Submission Time"], None]
            job_exec[e["Job ID"]] = (e.get("Properties") or {}).get("spark.sql.execution.id")
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metrics(e["sparkPlanInfo"], acc_name)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                if acc_name.get(acc_id) == "size of files read":
                    exec_files[str(e["executionId"])] += value
        elif ev == "SparkListenerJobEnd":
            job_time[e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerStageSubmitted":
            stage_ran.add(e["Stage Info"]["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            shr = m.get("Shuffle Read Metrics", {})
            tasks[e["Stage ID"]].append(
                (
                    info["Finish Time"] - info["Launch Time"],
                    m.get("Executor Run Time", 0),
                    m.get("Executor CPU Time", 0) / 1e6,
                    m.get("JVM GC Time", 0),
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0),
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                )
            )
            for acc in info.get("Accumulables", []):
                key = SQL_METRICS.get(acc.get("Name"))
                if key is not None:
                    sql[e["Stage ID"]][key] += float(acc.get("Update") or 0)
    parent = {s["id"]: s["parent"] for s in spans}

    def owners(sid):
        while sid is not None:
            yield sid
            sid = parent.get(sid)

    out = {s["id"]: _empty() for s in spans}
    durations = {s["id"]: [] for s in spans}
    job_stages = defaultdict(list)
    for sid, job in stage_job.items():
        if sid in stage_ran:
            job_stages[job].append(sid)
    seen_exec = defaultdict(set)
    for job, span in job_span.items():
        if span not in out:
            continue
        start, end = job_time[job]
        for owner in owners(span):
            c = out[owner]
            ex = job_exec.get(job)
            if ex is not None and ex not in seen_exec[owner]:
                seen_exec[owner].add(ex)
                c["files_read_bytes"] += exec_files.get(ex, 0.0)
            c["jobs"] += 1
            c["job_ms"] += (end or start) - start
            for st in job_stages[job]:
                c["spark_stages"] += 1
                for d, run, cpu, gc, shw, shr, spill in tasks[st]:
                    c["tasks"] += 1
                    c["task_ms"] += run
                    c["cpu_ms"] += cpu
                    c["gc_ms"] += gc
                    c["shuffle_write_bytes"] += shw
                    c["shuffle_read_bytes"] += shr
                    c["spill_bytes"] += spill
                    durations[owner].append(d)
                for k, v in sql[st].items():
                    c[k] += v
    for sid, ds in durations.items():
        # max / median task time; a median under 1 ms counts as 1 ms
        out[sid]["task_skew"] = max(ds) / max(statistics.median(ds), 1) if ds else 0.0
    return out


def _plan_metrics(node: dict, acc_name: dict) -> None:
    for m in node.get("metrics", []):
        acc_name[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, acc_name)


def _empty() -> dict:
    c = dict.fromkeys(
        ["jobs", "job_ms", "spark_stages", "tasks", "task_ms", "cpu_ms", "gc_ms",
         "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "files_read_bytes", "task_skew"],
        0,
    )
    c.update(dict.fromkeys(SQL_METRICS.values(), 0.0))
    return c
