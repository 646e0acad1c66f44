"""Spans, self time and the two layer records the benchmark reads: Spark's
JSON event log (per-task executor metrics) and the streaming listener's
micro-batch progress. Pure functions over plain data, so the self-tests
run without Spark."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent_id: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Keeps spans in memory; the run writes them out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, trace_id: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        span = Span(name, trace_id, len(self.spans), parent and parent.span_id, start, end, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, trace_id: str, parent: Span | None = None, **attrs):
        span = self.add(name, trace_id, time.time(), 0.0, parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


# ---- Spark event log ------------------------------------------------------

TASK_FIELDS = (
    "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_records", "input_bytes",
)


def task_metrics_by_group(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over an uncompressed JSON event log
    (an iterable of lines). Micro-batch jobs carry the streaming query's
    run id as their job group; jobs with no group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            acc = out.setdefault(
                stage_group.get(ev.get("Stage ID"), ""), dict.fromkeys(TASK_FIELDS, 0.0)
            )
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            acc["tasks"] += 1
            acc["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["input_records"] += inp.get("Records Read", 0)
            acc["input_bytes"] += inp.get("Bytes Read", 0)
    return out


# ---- streaming progress ---------------------------------------------------

def drain_summary(progress: list[dict]) -> dict[str, float]:
    """Sum one drain's micro-batch progress records (listener order).

    A data batch has input rows; the flush batches are those after the
    last data batch. State figures: commit time summed over batches; rows,
    memory and store instances at their peak over batches."""
    data = [i for i, p in enumerate(progress) if p.get("numInputRows", 0) > 0]
    last_data = data[-1] if data else -1
    out = dict.fromkeys(
        ("batches", "data_batches", "trigger_ms", "flush_ms", "state_commit_ms",
         "state_rows_total", "state_memory_bytes", "state_store_instances",
         "state_rows_dropped_late") + tuple(f"{p}_ms" for p in PHASES),
        0.0,
    )
    for i, p in enumerate(progress):
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        trig = d.get("triggerExecution", 0)
        out["batches"] += 1
        out["trigger_ms"] += trig
        if i > last_data:
            out["flush_ms"] += trig
        for ph in PHASES:
            out[f"{ph}_ms"] += d.get(ph, 0)
        out["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["state_rows_dropped_late"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        for key, src in (("state_rows_total", "numRowsTotal"),
                         ("state_memory_bytes", "memoryUsedBytes"),
                         ("state_store_instances", "numShufflePartitions")):
            out[key] = max(out[key], sum(o.get(src, 0) for o in ops))
    out["data_batches"] = len(data)
    return out


def data_batch_latencies_ms(progress: list[dict]) -> list[float]:
    return [
        float((p.get("durationMs") or {}).get("triggerExecution", 0))
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
