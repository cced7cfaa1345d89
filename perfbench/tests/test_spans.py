"""Span self-time arithmetic and attribution of event-log tasks to spans."""

from __future__ import annotations

import json

import pytest

from perfbench import layers, spans
from perfbench.spans import DESC_PREFIX, Span


def span(i, name, parent, start, end, phase="loop"):
    return Span(i, name, parent, phase, start, end)


def test_self_time_subtracts_children():
    ss = [span(0, "engine.curate", None, 0.0, 10.0), span(1, "functions.apply_ingest_policy", 0, 2.0, 5.0)]
    assert spans.self_times(ss) == {0: pytest.approx(7.0), 1: pytest.approx(3.0)}


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    ss = [
        span(0, "engine.a", None, 0.0, 10.0),
        span(1, "engine.b", 0, 1.0, 4.0),
        span(2, "engine.c", 0, 3.0, 6.0),  # overlaps b: 1..6 covered once
        span(3, "engine.d", 0, 9.0, 12.0),  # runs past the parent: only 9..10 counts
    ]
    assert spans.self_times(ss)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_counts_only_direct_children():
    ss = [span(0, "engine.a", None, 0.0, 10.0), span(1, "engine.b", 0, 0.0, 6.0), span(2, "engine.c", 1, 1.0, 5.0)]
    got = spans.self_times(ss)
    assert got[0] == pytest.approx(4.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(4.0)


class FakeContext:
    def __init__(self):
        self.log = []

    def setLocalProperty(self, key, value):
        self.log.append((key, value))


def test_tracer_tags_jobs_with_the_innermost_open_span():
    sc = FakeContext()
    tr = spans.Tracer(enabled=True, spark_context=sc)
    with tr.span("engine.curate"):
        with tr.span("functions.apply_ingest_policy"):
            pass
    desc = [v for _k, v in sc.log]
    assert desc == [f"{DESC_PREFIX}0", f"{DESC_PREFIX}1", f"{DESC_PREFIX}0", None]
    assert [(s.name, s.parent) for s in tr.spans] == [("engine.curate", None), ("functions.apply_ingest_policy", 0)]


def test_disabled_tracer_records_nothing_and_leaves_spark_alone():
    sc = FakeContext()
    tr = spans.Tracer(enabled=False, spark_context=sc)
    with tr.span("engine.sql") as sp:
        sp.mark_planned()
    assert tr.spans == [] and sc.log == []


def job_start(job, stages, span_id=None):
    props = {"spark.job.description": f"{DESC_PREFIX}{span_id}"} if span_id is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}


def stage_submitted(stage, t_ms):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage, "Submission Time": t_ms}}


def task_end(stage, launch_ms, cpu_ns=0, gc_ms=0, shuffle=0, mem_spill=0, disk_spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
        },
    }


def test_event_log_tasks_go_to_the_span_that_launched_their_job():
    events = [
        job_start(0, [0, 1], span_id=4),
        stage_submitted(0, 1_000),
        task_end(0, 1_250, cpu_ns=2_000_000_000, gc_ms=30, shuffle=100),
        task_end(0, 1_000, cpu_ns=1_000_000_000),
        stage_submitted(1, 2_000),
        task_end(1, 2_500, mem_spill=7, disk_spill=3),
        # a later job that reuses stage 1 (skipped stage) does not steal its tasks
        job_start(1, [1, 2], span_id=9),
        stage_submitted(2, 3_000),
        task_end(2, 3_000, shuffle=5),
        # a job launched outside any span is not charged to anyone
        job_start(2, [3]),
        stage_submitted(3, 4_000),
        task_end(3, 4_000, cpu_ns=9_000_000_000),
    ]
    got = spans.read_event_log(json.dumps(e) for e in events)
    assert set(got) == {4, 9}
    assert got[4] == {
        "jobs": 1,
        "tasks": 3,
        "exec_cpu_s": pytest.approx(3.0),
        "gc_s": pytest.approx(0.03),
        "shuffle_bytes": 100,
        "spill_bytes": 10,
        "sched_wait_s": pytest.approx(0.25 + 0.5),
    }
    assert got[9]["jobs"] == 1 and got[9]["tasks"] == 1 and got[9]["shuffle_bytes"] == 5


def test_event_log_parts_are_read_in_part_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_10_app-1").write_text(json.dumps(job_start(1, [1], span_id=2)) + "\n")
    (d / "events_2_app-1").write_text(json.dumps(job_start(0, [0], span_id=1)) + "\n")
    (d / "appstatus_app-1").write_text("")
    lines = list(spans.event_log_lines(str(tmp_path)))
    assert [json.loads(x)["Job ID"] for x in lines] == [0, 1]


def task_metrics(**values):
    return {**dict.fromkeys(("jobs",) + spans.TASK_FIELDS, 0.0), **values}


def test_inclusive_metrics_roll_children_into_parents():
    ss = [span(0, "engine.curate", None, 0, 3), span(1, "functions.apply_ingest_policy", 0, 1, 2)]
    own = {0: task_metrics(tasks=1.0), 1: task_metrics(tasks=2.0)}
    total = spans.inclusive(ss, own)
    assert total[0]["tasks"] == 3.0 and total[1]["tasks"] == 2.0


def test_span_metrics_average_per_call_and_per_operation():
    ss = [
        span(0, "engine.curate", None, 0.0, 4.0),
        span(1, "functions.apply_ingest_policy", 0, 1.0, 2.0),
        span(2, "engine.curate", None, 10.0, 12.0),
        span(3, "engine.curate", None, 20.0, 30.0, phase="setup"),  # not in the loop
    ]
    own = {0: task_metrics(jobs=3, tasks=6), 1: task_metrics(jobs=1, tasks=4), 2: task_metrics(jobs=1, tasks=2)}
    got = layers.span_metrics(ss, own, n_ops=2, phases=("loop",))
    assert got["engine.curate.s"] == pytest.approx(3.0)
    assert got["engine.curate.jobs"] == pytest.approx((3 + 1 + 1) / 2)  # includes the child's job
    assert got["functions.apply_ingest_policy.tasks"] == pytest.approx(4.0)
    assert got["engine.self_s"] == pytest.approx((3.0 + 2.0) / 2)
    assert got["engine.tasks"] == pytest.approx((6 + 2) / 2)
    assert got["engine.sql.plan_s"] == 0.0  # no such call in this run
    both = layers.span_metrics(ss, own, n_ops=3, phases=("loop", "setup"))
    assert both["engine.curate.s"] == pytest.approx((4.0 + 2.0 + 10.0) / 3)
