"""Fast self-tests of the benchmark's own arithmetic and parsing (no
Spark): ``python3 -m pytest perfbench -q`` from the repository root."""

from __future__ import annotations

import json

import pyarrow as pa

from perfbench.oracle import digest
from perfbench.run import per_layer
from perfbench.trace import (
    Span,
    data_batch_latencies_ms,
    drain_summary,
    self_times,
    task_metrics_by_group,
)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("pass", "p1", 0, None, 0.0, 10.0),
        Span("entry", "p1", 1, 0, 1.0, 4.0),
        Span("action", "p1", 2, 0, 4.0, 5.0),
        Span("microbatch", "p1", 3, 1, 2.0, 3.0),
        Span("microbatch", "p1", 4, 1, 2.5, 3.5),  # overlaps its sibling
        Span("microbatch", "p1", 5, 1, 3.8, 9.0),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 4.0
    assert abs(st[1] - (3.0 - 1.5 - 0.2)) < 1e-9
    assert st[2] == 1.0 and st[3] == 1.0


def _line(event: str, **fields) -> str:
    return json.dumps({"Event": event, **fields})


def test_task_metrics_grouped_by_job_group_and_run_id():
    task = {
        "Executor Run Time": 1500,
        "Executor CPU Time": 500_000_000,
        "JVM GC Time": 20,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 300},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
        "Memory Bytes Spilled": 5,
        "Disk Bytes Spilled": 6,
        "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
    }
    lines = [
        _line("SparkListenerLogStart", **{"Spark Version": "4"}),
        _line("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
              "Properties": {"spark.jobGroup.id": "p1:q"}}),
        _line("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
              "Properties": {"spark.jobGroup.id": "run-a"}}),
        _line("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3]}),
        _line("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": task}),
        _line("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": task}),
        _line("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": task}),
        _line("SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": task}),
        _line("SparkListenerTaskEnd", **{"Stage ID": 2}),  # failed task: no metrics
    ]
    out = task_metrics_by_group(lines)
    assert set(out) == {"p1:q", "run-a", ""}
    q = out["p1:q"]
    assert q["tasks"] == 2 and q["exec_run_s"] == 3.0 and q["exec_cpu_s"] == 1.0
    assert q["gc_s"] == 0.04 and q["shuffle_read_bytes"] == 600
    assert q["shuffle_write_bytes"] == 140 and q["spill_bytes"] == 22
    assert q["input_records"] == 20 and q["input_bytes"] == 2000
    assert out["run-a"]["tasks"] == 1


def _progress(batch, rows, trigger, commit=0, total=0, dropped=0, **phases):
    return {
        "batchId": batch,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, **phases},
        "stateOperators": [{"commitTimeMs": commit, "numRowsTotal": total,
                            "memoryUsedBytes": 10 * total, "numShufflePartitions": 8,
                            "numRowsDroppedByWatermark": dropped}],
    }


def test_drain_summary_splits_data_and_flush_batches():
    prog = [
        _progress(0, 100, 900, commit=5, total=40, addBatch=600, walCommit=20),
        _progress(1, 50, 700, commit=4, total=60, addBatch=500, walCommit=10),
        _progress(2, 0, 300, commit=3, total=0, addBatch=200),
        _progress(3, 0, 100, commit=1, total=0),
    ]
    s = drain_summary(prog)
    assert s["batches"] == 4 and s["data_batches"] == 2
    assert s["trigger_ms"] == 2000 and s["flush_ms"] == 400
    assert s["addBatch_ms"] == 1300 and s["walCommit_ms"] == 30
    assert s["state_commit_ms"] == 13 and s["state_rows_total"] == 60
    assert s["state_memory_bytes"] == 600 and s["state_store_instances"] == 8
    assert s["state_rows_dropped_late"] == 0
    assert data_batch_latencies_ms(prog) == [900.0, 700.0]
    assert drain_summary([])["batches"] == 0


def test_digest_ignores_row_order_and_engine_types():
    spark_like = pa.table({
        "b": pa.array([2, 1, 1], pa.int32()),
        "a": pa.array([1_000_000, 0, 0], pa.timestamp("us", "UTC")),
        "c": pa.array([0.5, -0.0, -0.0]),
    })
    duck_like = pa.table({
        "a": pa.array([0, 0, 1_000_000], pa.timestamp("us")),
        "c": pa.array([0.0, 0.0, 0.5]),
        "b": pa.array([1, 1, 2], pa.int64()),
    })
    assert digest(spark_like) == digest(duck_like)
    one_row_lost = duck_like.slice(1)
    assert digest(one_row_lost)["checksum"] != digest(duck_like)["checksum"]
    changed = duck_like.set_column(2, "b", pa.array([1, 3, 2], pa.int64()))
    assert digest(changed)["checksum"] != digest(duck_like)["checksum"]


def _tasks(run_s, cpu_s, input_bytes):
    return {"tasks": 2, "exec_run_s": run_s, "exec_cpu_s": cpu_s, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "input_records": 10, "input_bytes": input_bytes}


def test_per_layer_files_drain_call_jobs_under_sinks():
    batch = {"entry": "q", "fn_s": 0.25, "action_s": 1.0, "runs": [], "progress": [], "rows": 3}
    drain = {"entry": "d", "fn_s": 2.0, "action_s": 0.5, "runs": ["run-a"], "rows": 7,
             "progress": [_progress(0, 100, 900), _progress(1, 0, 300)]}
    res = {
        "get_spark_s": 1.0, "load_registry_s": 0.5, "warmup": 0,
        "passes": [{"wall_s": 9.0, "calls": []}, {"wall_s": 3.75, "calls": [batch, drain]}],
        "spans": [vars(Span("pass", "p0", 0, None, 0.0, 9.0)),
                  vars(Span("pass", "p1", 1, None, 10.0, 14.0)),
                  vars(Span("entry", "p1", 2, 1, 10.0, 13.75))],
    }
    tasks = {"p1:q": _tasks(4.0, 3.0, 500), "p1:d": _tasks(0.5, 0.25, 70),
             "run-a": _tasks(6.0, 1.5, 900)}
    v = per_layer(res, tasks)
    # batch call: its job group is operators and sources
    assert v["operators.exec_run_s"] == 4.0 and v["operators.exec_cpu_s"] == 3.0
    assert v["operators.build_s"] == 0.25 and v["operators.execute_s"] == 1.0
    assert v["sources.input_bytes"] == 500 and v["sources.input_records"] == 10
    # drain call: its own job group (readback, start-up jobs) is sinks,
    # its micro-batch jobs (run id) are streaming
    assert v["sinks.exec_run_s"] == 0.5 and v["sinks.input_bytes"] == 70
    assert v["sinks.readback_s"] == 0.5 and v["sinks.output_rows"] == 7
    assert v["streaming.exec_run_s"] == 6.0 and v["streaming.exec_wait_s"] == 4.5
    assert v["streaming.drain_s"] == 2.0 and v["streaming.startup_ms"] == 800.0
    assert v["streaming.flush_ms"] == 300 and v["streaming.data_batch_ratio"] == 0.5
    assert v["bench.pass_s"] == 3.75 and abs(v["bench.pass_self_ms"] - 250.0) < 1e-6
    assert v["session.get_spark_s"] == 1.0
