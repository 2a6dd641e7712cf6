"""Spans for the staged traced run, and their Spark task metrics.

A span times one layer call on the driver and tags every Spark job the
call submits with the span's name as its job group. After the session
stops, the event log is read back and each job's task metrics are added
to the span that submitted it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# The pipeline stages the staged traced run times, in run_pipeline's order.
KG_STAGES = ("extract", "link", "cc", "canonicalize", "validate", "emit",
             "finalize")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time the body as span `name`; the body may add counts to the
        yielded dict. Span names are unique within a tracer."""
        rec = {"name": name}
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def job_group_metrics(event_log_dir: str) -> dict[str, dict]:
    """Task metrics per job group from the (stopped) session's event log:
    jobs, tasks, task run time, GC time, disk spill, shuffle write and
    output bytes."""
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}: {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = out[group]
                g["tasks"] += 1
                g["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                g["shuffle_mb"] += (
                    tm.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0) / 1e6)
                g["write_mb"] += (
                    tm.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6)
    return {k: dict(v) for k, v in out.items()}
