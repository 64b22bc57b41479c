"""Self-test of the benchmark: the metric names are pinned to
BENCHMARK.json, and a tiny traced Spark run folds into per-layer counters.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import spans  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_pinned():
    from workloads import WORKLOADS

    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(
        run.END_TO_END.items()
    )
    assert [
        (m["name"], m["unit"], m["better"]) for m in b["per_layer"]
    ] == spans.per_layer_metrics()
    folded = {f"{layer}.{c}" for layer in spans.LAYERS for c in spans.COUNTERS}
    assert folded <= {m["name"] for m in b["per_layer"]}


def _task(stage: int, run_ms: int, shuffle_write: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000 // 2,
            "JVM GC Time": 1,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


def _job_stage(job: int, stage: int, group: str | None, t0: float, t1: float):
    props = {"spark.jobGroup.id": group} if group else {}
    info = {"Stage ID": stage, "Stage Attempt ID": 0}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t0,
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {**info, "Submission Time": t0}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {**info, "Submission Time": t0, "Completion Time": t1}},
    ]


def test_fold_attributes_jobs_by_group_then_by_time():
    tracer = spans.Tracer(None, enabled=False)
    tracer.setup_window = (0.0, 1000.0)
    setup = spans.Span("pipeline.curate", "perfbench|setup|pipeline.curate|0", False)
    setup.start, setup.end = 100.0, 400.0
    timed = spans.Span("operators.text", "perfbench|timed|operators.text|1", True)
    timed.start, timed.end = 2000.0, 3000.0
    stream = spans.Span("streaming.trigger", "perfbench|timed|streaming.trigger|2", True)
    stream.start, stream.end = 4000.0, 5000.0
    tracer.spans = [setup, timed, stream]
    events = (
        _job_stage(0, 0, setup.group, 150, 350) + [_task(0, 100)]
        + _job_stage(1, 1, timed.group, 2100, 2500) + [_task(1, 200, 64), _task(1, 300)]
        # A streaming micro-batch carries the query's own group: by time.
        + _job_stage(2, 2, "some-run-id", 4200, 4600) + [_task(2, 50)]
        # Outside every span and after set-up: dropped.
        + _job_stage(3, 3, None, 9000, 9100) + [_task(3, 10)]
    )
    out = spans.fold(events, tracer, timed_passes=1)
    assert out["session.setup.jobs"] == 1
    assert out["session.setup.wall_s"] == 1.0
    assert out["session.setup.driver_s"] == 0.8
    assert out["operators.text.jobs"] == 1
    assert out["operators.text.tasks"] == 2
    assert out["operators.text.task_s"] == 0.5
    assert out["operators.text.task_cpu_s"] == 0.25
    assert out["operators.text.shuffle_write_bytes"] == 64
    assert out["operators.text.shuffle_read_bytes"] == 10
    assert out["operators.text.wall_s"] == 1.0
    assert out["operators.text.driver_s"] == 0.6
    assert out["streaming.trigger.jobs"] == 1
    assert out["streaming.trigger.input_bytes"] == 100
    assert out["pipeline.curate.jobs"] == 0  # its only span was in set-up


def test_tiny_traced_run_folds(tmp_path):
    """A real session with the event log on: two layers' jobs land in them."""
    from pyspark.sql import functions as F

    from weather_data_pipeline_spark import session

    env = dict(os.environ)
    try:
        run.configure(str(tmp_path), trace=True)
        t0 = time.time() * 1000
        spark = session.get_spark("perfbench-selftest")
        tracer = spans.Tracer(spark, enabled=True)
        with tracer.span("pipeline.curate"):
            spark.range(1000).count()
        tracer.setup_window = (t0, time.time() * 1000)
        tracer.timed = True
        with tracer.span("operators.relational"):
            spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        spark.stop()
        out = spans.fold(
            spans.read_event_log(str(tmp_path / "eventlog")), tracer, timed_passes=1
        )
        run.shutdown(spark)
    finally:
        os.environ.clear()
        os.environ.update(env)
    rel = {c: out[f"operators.relational.{c}"] for c in spans.COUNTERS}
    assert rel["jobs"] >= 1 and rel["stages"] >= 2 and rel["tasks"] >= 2
    assert rel["shuffle_write_bytes"] > 0 and rel["task_s"] > 0
    assert 0 <= rel["driver_s"] <= rel["wall_s"]
    assert out["session.setup.jobs"] >= 1
    assert out["pipeline.curate.jobs"] == 0
    names = {n for n, _, _ in spans.per_layer_metrics()}
    assert set(out) <= names
