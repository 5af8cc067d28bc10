"""The event-log parser against a small recorded log.

``data/eventlog_small.json`` holds the spans and a trimmed event log of
a short local[2] session: span ``scan`` (one count), span ``udf`` (a
pandas UDF over 200k rows), span ``thread`` (a job started on a thread
that did not inherit the job description) and one job after every span.
Re-record it with ``python3 perfbench/tests/test_spans.py``.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from spans import Span, _union_seconds, layer_metrics  # noqa: E402

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


@pytest.fixture(scope="module")
def recorded():
    with open(DATA) as f:
        rec = json.load(f)
    spans = [Span(s["name"], s["start"], s["end"], s.get("counts", {})) for s in rec["spans"]]
    return spans, rec["events"]


def test_union_of_overlapping_intervals():
    assert _union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == 4
    assert _union_seconds([]) == 0


def test_stage_time_and_driver_gap_reconcile_with_wall_time(recorded):
    spans, events = recorded
    m = layer_metrics(events, spans)
    for s in spans:
        wall = s.end - s.start
        assert m[f"{s.name}.wall_s"] == pytest.approx(wall)
        assert 0 <= m[f"{s.name}.stage_s"] <= wall
        assert m[f"{s.name}.stage_s"] + m[f"{s.name}.driver_gap_s"] == pytest.approx(wall)
        assert m[f"{s.name}.jobs"] >= 1 and m[f"{s.name}.stages"] >= 1


def test_stage_sums_match_the_log(recorded):
    spans, events = recorded
    m = layer_metrics(events, spans)
    jobs = {e["Job ID"]: e for e in events if e["Event"] == "SparkListenerJobStart"}
    desc = {j: (e.get("Properties") or {}).get("spark.job.description") for j, e in jobs.items()}
    stage_job = {sid: j for j, e in jobs.items() for sid in e["Stage IDs"]}
    run_ms = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            j = stage_job[e["Stage ID"]]
            run_ms[j] = run_ms.get(j, 0) + e["Task Metrics"]["Executor Run Time"]
    udf_jobs = [j for j, d in desc.items() if d == "udf"]
    assert m["udf.exec_run_s"] == pytest.approx(sum(run_ms.get(j, 0) for j in udf_jobs) / 1000)
    python_ms = sum(float(a["Update"]) for e in events if e["Event"] == "SparkListenerTaskEnd"
                    and stage_job[e["Stage ID"]] in udf_jobs
                    for a in e["Task Info"]["Accumulables"]
                    if a["Name"] == "time to run Python workers")
    assert m["udf.python_s"] == pytest.approx(python_ms / 1000) and python_ms > 0
    assert m["scan.python_s"] == 0
    assert m["scan.rows_out"] == 1000


def test_jobs_without_description_fall_back_to_the_span_window(recorded):
    spans, events = recorded
    m = layer_metrics(events, spans)
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    undescribed = [e for e in starts
                   if not (e.get("Properties") or {}).get("spark.job.description")]
    assert undescribed  # the thread's job and the job after the spans
    assert m["thread.jobs"] >= 1
    assert sum(m[f"{s.name}.jobs"] for s in spans) < len(starts)  # the last job is outside


def record() -> None:
    """Run the small session and write the trimmed log and spans."""
    import shutil
    import tempfile
    import threading

    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from spans import Tracer, event_log_conf, find_event_log, read_events

    log_dir = tempfile.mkdtemp(dir=os.path.dirname(DATA))
    builder = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
    for k, v in event_log_conf(log_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tracer = Tracer(spark, enabled=True)

    @F.pandas_udf("long")
    def double(s: pd.Series) -> pd.Series:
        return s * 2

    with tracer.span("scan") as s:
        s.counts["rows_out"] = spark.range(1000).count()
    with tracer.span("udf"):
        spark.range(200_000).select(double("id").alias("x")).agg(F.sum("x")).collect()
    with tracer.span("thread"):
        t = threading.Thread(target=lambda: spark.range(5000).groupBy(F.col("id") % 7).count()
                             .collect())
        t.start()
        t.join()
    spark.range(10).count()
    spark.stop()

    keep = {"SparkListenerJobStart", "SparkListenerStageCompleted",
            "SparkListenerTaskEnd", "SparkListenerJobEnd"}
    events = []
    for e in read_events(find_event_log(log_dir)):
        if e["Event"] not in keep:
            continue
        if e["Event"] == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            e = {k: e[k] for k in ("Event", "Job ID", "Submission Time", "Stage IDs")}
            e["Properties"] = {"spark.job.description": desc} if desc else {}
        elif e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            e = {"Event": e["Event"], "Stage Info": {
                k: info[k] for k in ("Stage ID", "Submission Time", "Completion Time")}}
        elif e["Event"] == "SparkListenerTaskEnd":
            m = e["Task Metrics"]
            python = [a for a in e["Task Info"]["Accumulables"] if "Python" in a.get("Name", "")]
            e = {"Event": e["Event"], "Stage ID": e["Stage ID"],
                 "Task Info": {"Accumulables": python}, "Task Metrics": {
                     k: m[k] for k in ("Executor Run Time", "Executor CPU Time",
                                       "Peak Execution Memory", "Memory Bytes Spilled",
                                       "Disk Bytes Spilled", "Shuffle Write Metrics")}}
        events.append(e)
    shutil.rmtree(log_dir)
    with open(DATA, "w") as f:
        json.dump({"spans": [vars(s) for s in tracer.spans], "events": events}, f)


if __name__ == "__main__":
    record()
