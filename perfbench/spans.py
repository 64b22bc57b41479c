"""Per-layer tracing (spans) for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side around each call into a
layer; every span also sets a Spark job group, so the session's event
log can be folded back onto the span that caused each job.  The fold is
plain ``json`` over the uncompressed, non-rolling event log; streaming
progress comes from a Python ``StreamingQueryListener``.

All layer counters except ``session.setup`` are per timed pass (sum over
the timed passes divided by their number); ``session.setup`` covers the
whole set-up window.  A layer that a workload never calls reports 0.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime

LAYERS = [
    "session.setup",
    "pipeline.curate",
    "pipeline.latest_serve",
    "pipeline.serve",
    "streaming.trigger",
    "operators.relational",
    "operators.text",
    "operators.python_kernel",
    "operators.iterative",
]

#: counter -> unit, in report order.
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "driver_s": "s",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}

#: Layers whose writes are counted (output files and bytes per pass).
OUTPUT_LAYERS = ["pipeline.curate", "streaming.trigger"]

#: StreamingQueryProgress.durationMs keys, reported as the median per trigger.
STREAM_DURATIONS = [
    "addBatch",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
]

GROUP_PREFIX = "perfbench"


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [
        (f"{layer}.{c}", unit, "lower")
        for layer in LAYERS
        for c, unit in COUNTERS.items()
    ]
    for layer in OUTPUT_LAYERS:
        out += [
            (f"{layer}.output_files", "count", "lower"),
            (f"{layer}.output_bytes", "bytes", "lower"),
        ]
    out += [(f"streaming.{k}_ms", "ms", "lower") for k in STREAM_DURATIONS]
    out += [
        ("host.steal_s", "s", "lower"),
        ("host.peak_rss_mb", "MB", "lower"),
        ("trace.run_s", "s", "lower"),
        ("trace.plain_run_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


def count_files(*paths: str) -> tuple[int, int]:
    """(files, bytes) under ``paths``, skipping checksum and marker files."""
    files = size = 0
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


def steal_seconds() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of process ``pid`` in MB (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


@dataclass
class Span:
    layer: str
    group: str  # the Spark job group set while the span is open
    timed: bool
    start: float = 0.0  # epoch ms
    end: float = 0.0


class Tracer:
    """Records spans around layer calls; ``enabled=False`` makes every
    method a no-op so the plain run carries no tracing work."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.timed = False
        self.progress: list[dict] = []
        self.outputs: dict[str, list[tuple[int, int]]] = defaultdict(list)
        self.setup_window = (0.0, 0.0)
        if enabled:
            self._listen(spark)

    def _listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                progress.append({"ts_ms": ts.timestamp() * 1000, **dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    @contextmanager
    def span(self, layer: str):
        """Time the enclosed call into ``layer`` under a job group of its own."""
        if not self.enabled:
            yield
            return
        phase = "timed" if self.timed else "setup"
        s = Span(layer, f"{GROUP_PREFIX}|{phase}|{layer}|{len(self.spans)}", self.timed)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, layer)
        s.start = time.time() * 1000
        try:
            yield
        finally:
            s.end = time.time() * 1000
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def output(self, layer: str, *paths: str) -> None:
        """Record the files a timed pass of ``layer`` wrote under ``paths``."""
        if self.enabled and self.timed:
            self.outputs[layer].append(count_files(*paths))


# ---------------------------------------------------------------- fold


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the single application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(events: list[dict], tracer: Tracer, timed_passes: int) -> dict[str, float]:
    """Fold the event log onto the tracer's spans → per-layer counters.

    A job belongs to the span whose job group it carries; a job with no
    group of ours (streaming micro-batches run under the query's own
    group) belongs to the span that was open when it was submitted, and
    a job outside every span belongs to ``session.setup`` if it started
    during set-up.
    """
    spans = {s.group: s for s in tracer.spans}
    ordered = sorted(tracer.spans, key=lambda s: s.start)
    setup_lo, setup_hi = tracer.setup_window

    def owner(group: str | None, t_ms: float) -> str | None:
        """The layer a job or stage submitted at ``t_ms`` is counted in."""
        s = spans.get(group or "")
        if s is None:
            s = next((x for x in ordered if x.start <= t_ms <= x.end), None)
        if s is not None:
            return s.layer if s.timed else "session.setup"
        return "session.setup" if setup_lo <= t_ms <= setup_hi else None

    acc: dict[str, dict[str, float]] = {
        layer: defaultdict(float) for layer in LAYERS
    }
    stage_layer: dict[tuple[int, int], str] = {}
    stage_iv: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = ev.get("Properties", {}).get("spark.jobGroup.id")
            layer = owner(group, ev["Submission Time"])
            if layer:
                acc[layer]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = ev.get("Properties", {}).get("spark.jobGroup.id")
            layer = owner(group, info.get("Submission Time", 0))
            if layer:
                stage_layer[(info["Stage ID"], info["Stage Attempt ID"])] = layer
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            layer = stage_layer.get((info["Stage ID"], info["Stage Attempt ID"]))
            if layer:
                acc[layer]["stages"] += 1
                stage_iv[layer].append(
                    (info["Submission Time"], info["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if not layer or not m:
                continue
            a = acc[layer]
            a["tasks"] += 1
            a["task_s"] += m["Executor Run Time"] / 1e3
            a["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            a["gc_s"] += m["JVM GC Time"] / 1e3
            a["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            sr = m["Shuffle Read Metrics"]
            a["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            a["spill_bytes"] += m["Disk Bytes Spilled"]

    # Wall and driver time: span time not covered by the layer's stages.
    for s in tracer.spans:
        if s.timed:
            acc[s.layer]["wall_s"] += (s.end - s.start) / 1e3
            covered = _union_ms(stage_iv[s.layer], s.start, s.end)
            acc[s.layer]["driver_s"] += (s.end - s.start - covered) / 1e3
    setup = acc["session.setup"]
    setup["wall_s"] = (setup_hi - setup_lo) / 1e3
    setup["driver_s"] = (
        setup_hi - setup_lo - _union_ms(stage_iv["session.setup"], setup_lo, setup_hi)
    ) / 1e3

    out: dict[str, float] = {}
    per_pass = max(timed_passes, 1)
    for layer in LAYERS:
        div = 1 if layer == "session.setup" else per_pass
        for c in COUNTERS:
            out[f"{layer}.{c}"] = acc[layer][c] / div
    for layer in OUTPUT_LAYERS:
        rows = tracer.outputs.get(layer, [])
        out[f"{layer}.output_files"] = sum(r[0] for r in rows) / per_pass
        out[f"{layer}.output_bytes"] = sum(r[1] for r in rows) / per_pass
    out.update(stream_durations(tracer))
    return out


def stream_durations(tracer: Tracer) -> dict[str, float]:
    """Median over timed triggers of each durationMs phase; a trigger's
    phases sum the progress events whose batch started inside its span."""
    per_trigger = []
    for s in tracer.spans:
        if s.timed and s.layer == "streaming.trigger":
            got = [p for p in tracer.progress if s.start <= p["ts_ms"] <= s.end]
            per_trigger.append({k: sum(p.get(k, 0) for p in got) for k in STREAM_DURATIONS})
    out = {}
    for k in STREAM_DURATIONS:
        vals = sorted(t[k] for t in per_trigger)
        out[f"streaming.{k}_ms"] = vals[len(vals) // 2] if vals else 0.0
    return out
