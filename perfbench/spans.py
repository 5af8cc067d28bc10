"""Spans around the harness's calls into each layer, and a parser for
Spark's event log that turns them into per-layer numbers.

A span sets ``spark.job.description`` to its name for every job its
body starts, and records its own wall-clock window. After the session
stops, ``layer_metrics`` reads the (uncompressed, non-rolling) event
log with plain ``json`` and assigns each job to a span: by its
description, or, for a job started on a thread that did not inherit
the description, by the span whose window holds the job's submission
time. Stages and tasks follow their job.

Per span (``<span>.<metric>``):

- ``wall_s``: the span's wall time;
- ``stage_s``: the part of that window covered by at least one running
  stage of the span's jobs;
- ``driver_gap_s``: ``wall_s - stage_s`` -- time no stage of the span
  ran (planning, driver-side collects, Python on the driver);
- ``exec_run_s`` / ``exec_cpu_s``: sum of task executor run / CPU time;
- ``jobs`` / ``stages``: jobs started and stages completed;
- ``shuffle_bytes``: shuffle bytes written; ``spill_bytes``: memory
  plus disk bytes spilled;
- ``peak_exec_mem_mb``: the largest peak execution memory of one task;
- ``python_s``: time the span's tasks spent running Python UDF
  workers, from the SQL metric the pandas-UDF operators record;
- ``rows_in`` / ``rows_out``: counts the harness recorded at the span's
  boundaries.

A span that runs more than once (one fold per micro-batch) reports
per-call means, and the largest ``peak_exec_mem_mb``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESCRIPTION = "spark.job.description"
# SQL timing metric (ms) of ArrowEvalPython, MapInPandas and friends;
# Spark times worker start and initialisation separately, and those
# overlap it
PYTHON_RUN = "time to run Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; ``enabled=False`` makes ``span`` a
    plain timer that touches no Spark property."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setLocalProperty(DESCRIPTION, name)
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            if sc is not None:
                sc.setLocalProperty(DESCRIPTION, None)
            self.spans.append(s)


def event_log_conf(log_dir: str) -> dict:
    """Session settings for a single plain-JSON event log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(events: list[dict], spans: list[Span]) -> dict[str, float]:
    """Aggregate the event log into ``<span>.<metric>`` numbers."""
    windows = [(s.start * 1000.0, s.end * 1000.0, s.name) for s in spans]
    names = {s.name for s in spans}

    def span_of(desc: str | None, t_ms: float) -> str | None:
        if desc in names:
            return desc
        for s, e, n in windows:
            if s <= t_ms <= e:
                return n
        return None

    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    stage_iv: dict[str, list] = {n: [] for n in names}
    acc = {n: dict(jobs=0, stages=0, exec_run_s=0.0, exec_cpu_s=0.0, shuffle_bytes=0,
                   spill_bytes=0, peak_exec_mem_mb=0.0, python_s=0.0) for n in names}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            name = span_of(props.get(DESCRIPTION), ev["Submission Time"])
            if name is None:
                continue
            job_span[ev["Job ID"]] = name
            acc[name]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = name
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            name = stage_span.get(info["Stage ID"])
            if name is None or "Completion Time" not in info or "Submission Time" not in info:
                continue
            acc[name]["stages"] += 1
            stage_iv[name].append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if name is None or not m:
                continue
            a = acc[name]
            a["exec_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["peak_exec_mem_mb"] = max(a["peak_exec_mem_mb"],
                                        m.get("Peak Execution Memory", 0) / 2**20)
            # a task's own share of a SQL metric is its "Update"; the
            # stage-level "Value" is the accumulator's running total
            a["python_s"] += sum(
                float(u["Update"]) for u in (ev.get("Task Info") or {}).get("Accumulables", [])
                if u.get("Name") == PYTHON_RUN) / 1000.0

    out: dict[str, float] = {}
    calls: dict[str, list[Span]] = {}
    for s in spans:
        calls.setdefault(s.name, []).append(s)
    for name, group in calls.items():
        n = len(group)
        wall = sum(s.end - s.start for s in group)
        # clip each stage to the windows of its span's calls
        clipped = []
        for st, en in stage_iv[name]:
            for s in group:
                lo, hi = max(st, s.start * 1000.0), min(en, s.end * 1000.0)
                if hi > lo:
                    clipped.append((lo, hi))
        stage_s = _union_seconds(clipped) / 1000.0
        a = acc[name]
        vals = {
            "wall_s": wall / n,
            "stage_s": stage_s / n,
            "driver_gap_s": (wall - stage_s) / n,
            "exec_run_s": a["exec_run_s"] / n,
            "exec_cpu_s": a["exec_cpu_s"] / n,
            "jobs": a["jobs"] / n,
            "stages": a["stages"] / n,
            "shuffle_bytes": a["shuffle_bytes"] / n,
            "spill_bytes": a["spill_bytes"] / n,
            "peak_exec_mem_mb": a["peak_exec_mem_mb"],
            "python_s": a["python_s"] / n,
        }
        for key in ("rows_in", "rows_out"):
            got = [s.counts[key] for s in group if key in s.counts]
            if got:
                vals[key] = sum(got) / len(got)
        out.update({f"{name}.{k}": v for k, v in vals.items()})
    return out
