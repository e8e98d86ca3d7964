"""The trace fold: self time over nested spans, task metrics folded from
a synthetic event log, and span tags reaching the jobs that
Orchestrator.process runs on its worker threads."""

from __future__ import annotations

import json

import pytest

from perfbench.trace import (
    SPAN_PROPERTY,
    Span,
    Tracer,
    children_of,
    descendants,
    fold_event_dir,
    fold_events,
    self_time,
)


def _span(sid, start, end, parent=None, name="s"):
    return Span(sid, name, parent, start, end, "run", 0)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 5.0, 1),  # overlaps the first child
        _span(4, 8.0, 9.0, 1),
        _span(5, 9.5, 12.0, 1),  # runs past the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert self_time(parent, []) == pytest.approx(10.0)


def _task(stage, run_ms, cpu_ns, out_bytes=0, shuffle_w=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 11},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": 100, "Records Read": 1},
            "Output Metrics": {"Bytes Written": out_bytes, "Records Written": 1},
        },
    }


def test_fold_sums_task_metrics_per_span():
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4"},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1_000,
            "Stage IDs": [0, 1],
            "Properties": {SPAN_PROPERTY: "7"},
        },
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000,
         "Stage IDs": [1, 2], "Properties": {}},
        _task(0, 100, 50_000_000, shuffle_w=30),
        _task(0, 300, 150_000_000, shuffle_w=30),
        _task(1, 60, 10_000_000, out_bytes=1_000),
        _task(2, 10, 1_000_000),
    ]
    fold = fold_events(json.dumps(e) for e in events)
    assert fold.span_jobs() == {7: [0]}
    # stage 1 is listed by both jobs; it belongs to the first
    assert fold.stage_job == {0: 0, 1: 0, 2: 1}
    t = fold.totals([0])
    assert t["jobs"] == 1 and t["stages"] == 2 and t["tasks"] == 3
    assert t["executor_cpu_s"] == pytest.approx(0.21)
    assert t["executor_run_s"] == pytest.approx(0.46)
    assert t["gc_s"] == pytest.approx(0.015)
    assert t["shuffle_write_bytes"] == 60 and t["shuffle_read_bytes"] == 33
    assert t["input_bytes"] == 300 and t["output_bytes"] == 1_000 and t["spill_bytes"] == 21
    # worst stage: tasks of 100 and 300 ms -> 300 / median(200)
    assert t["task_skew"] == pytest.approx(1.5)
    assert fold.jobs_in(0.0, 2.0) == [0]
    assert fold.totals(fold.jobs_in(0.0, 10.0))["tasks"] == 4


def test_span_tags_reach_both_orchestrator_worker_threads(tmp_path):
    pytest.importorskip("pyspark")
    from d365fo_db_sync_spark.orchestrator import Orchestrator
    from d365fo_db_sync_spark.session import get_spark
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.sync import SyncConfig, SyncEngine

    from perfbench import layers

    events = tmp_path / "events"
    events.mkdir()
    spark = get_spark(
        "perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    tracer = Tracer("test")
    try:
        sources = {
            name: spark.range(1, 200).selectExpr("id AS RecId", f"id * {k} AS SysRowVersion")
            for k, name in enumerate(("T1", "T2"), start=1)
        }
        engine = SyncEngine(spark, StateStore(str(tmp_path / "state.json")), SyncConfig())
        orch = Orchestrator(spark, engine, workers=2)
        layers.install(tracer, {})
        result = orch.process(orch.prepare(sources), sources, str(tmp_path / "targets"))
    finally:
        tracer.unwrap()
        spark.stop()
    assert [p.status for p in result.plans] == ["Completed", "Completed"]
    fold = fold_event_dir(str(events))
    (cycle,) = [s for s in tracer.spans if s.name == "orchestrator.process"]
    syncs = [s for s in tracer.spans if s.name == "sync.sync_table"]
    assert len(syncs) == 2 and len({s.thread for s in syncs}) == 2
    assert all(s.parent == cycle.sid for s in syncs)
    assert cycle.thread not in {s.thread for s in syncs}
    span_jobs = fold.span_jobs()
    kids = children_of(tracer.spans)
    for s in syncs:
        assert any(span_jobs.get(sid) for sid in descendants(s.sid, kids)), s.attrs
