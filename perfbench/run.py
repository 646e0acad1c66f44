"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It generates the workload's events table
from the seed, computes (or reuses) the DuckDB oracle digest of every
entry, runs the passes in one fresh Spark driver process (``worker.py``),
checks every result, and prints a report followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log and reports the per-layer metrics, and writes the
spans to ``perfbench/_work/traces/``. Each run works in its own
directory under ``perfbench/_work/`` (its ``TMPDIR``, Spark local dirs
and input) and deletes it at the end.

Workloads (all event-time, zipf(1.0) users, time-ordered over 30 days):

- ``ctr-batch``: batch DataFrame queries over one file. Loads ``sources``
  and ``operators`` (driver build, shuffle and aggregation); never starts
  a streaming query.
- ``drain-kernel``: applyInPandasWithState drains over one file: one
  large data batch plus the flush batch, so Python-worker time, drain
  start-up, state-store commits and the flush batch dominate.

Both workloads use the repository's per-user density of about 67 events
per user: the sf0.1 fixture has 100k events over 1.5k users and the zipf
skew lane (``tools/skew_lane.py``) 10M over 150k.

The driver JVM's heap is capped at ``HEAP`` (the session's default is
16g). ``peak_rss_mb`` is the peak resident set (``VmHWM``) of the Python
driver plus the JVM, so it sees heap the JVM has touched up to that cap,
plus off-heap and Python memory. It does not see heap the collector
reserved but never touched, and heap use past the cap shows only as a
failed entry call.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
RUN_BUDGET_S = 150.0
CPUS = min(4, os.cpu_count() or 1)
HEAP = "1g"


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    events: int
    users: int
    warmup: int
    drains: bool


WORKLOADS = {
    "ctr-batch": Workload(
        ("ctr_fixed_capped", "ctr_sliding_total", "enrich_lookup_ttl_asof", "sessionize_events"),
        events=100_000, users=1_500, warmup=2, drains=False,
    ),
    "drain-kernel": Workload(
        ("ctr_custom_window_stream", "lookup_cache_join_stream", "enrich_repeat_stream"),
        events=15_000, users=225, warmup=0, drains=True,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "events_per_s": "1/s",
    "batch_latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


class LaunchFailed(RuntimeError):
    pass


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _reap_group(pgid: int) -> None:
    """Wait until every process of the launch's process group (the
    worker, its JVM and the JVM's Python workers) has ended: a grace
    period, then SIGTERM, then SIGKILL."""
    deadline = time.time() + 20
    sent = None
    while _group_alive(pgid):
        left = deadline - time.time()
        sig = signal.SIGKILL if left < 5 else signal.SIGTERM if left < 15 else None
        if sig is not None and sig != sent:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            sent = sig
        time.sleep(0.1)


def launch(spec: dict, run_dir: str, tag: str, timeout: float) -> dict:
    spec_path = os.path.join(run_dir, f"{tag}.spec.json")
    out_path = os.path.join(run_dir, f"{tag}.out.json")
    log_path = os.path.join(run_dir, f"{tag}.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        # no hsperfdata files in the system temp dir from either JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path, out_path],
            cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise LaunchFailed(f"{tag} launch exited {proc.returncode}:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def check_calls(w: Workload, passes: list[dict], expected: dict[str, dict]) -> list[str]:
    """One line per failed entry call: an error, a result that differs
    from the oracle, or a drain that did not run the schedule its oracle
    assumes: the one input file (with the sentinels staged beside it) in
    one data micro-batch, no row dropped late."""
    from perfbench.trace import drain_summary

    failures = []
    for i, p in enumerate(passes):
        for c in p["calls"]:
            where = f"pass {i} {c['entry']}"
            exp = expected[c["entry"]]
            if c["error"]:
                failures.append(f"{where}: {c['error']}")
            elif (c["rows"], c["checksum"], c["columns"]) != (exp["rows"], exp["checksum"], exp["columns"]):
                failures.append(
                    f"{where}: result rows={c['rows']} checksum={c['checksum']} columns={c['columns']}"
                    f" != oracle rows={exp['rows']} checksum={exp['checksum']} columns={exp['columns']}"
                )
            elif w.drains:
                s = drain_summary(c["progress"])
                if s["data_batches"] != 1 or s["state_rows_dropped_late"]:
                    failures.append(
                        f"{where}: {s['data_batches']:.0f} data micro-batches for 1 file,"
                        f" {s['state_rows_dropped_late']:.0f} rows dropped late"
                    )
    return failures


def end_to_end(w: Workload, res: dict) -> tuple[dict, dict]:
    from perfbench.trace import data_batch_latencies_ms

    steady = res["passes"][1 + res["warmup"]:]
    # A batch is one data micro-batch of a drain, or one whole query of a
    # batch workload. The workload's entries differ several-fold in cost,
    # so a median over the raw mix jumps between entries; each entry is
    # represented by its median over the steady passes instead, and the
    # figure is the median of those. With 3-4 entries no higher
    # percentile has ten samples beyond it, so none is reported.
    per_entry: dict[str, list[float]] = {}
    for p in steady:
        for c in p["calls"]:
            per_entry.setdefault(c["entry"], []).extend(
                data_batch_latencies_ms(c["progress"]) if w.drains
                else [1e3 * (c["fn_s"] + c["action_s"])]
            )
    values = {
        "setup_s": res["get_spark_s"] + res["load_registry_s"],
        "first_pass_s": res["passes"][0]["wall_s"],
        "events_per_s": w.events * len(w.entries) / median([p["wall_s"] for p in steady]),
        "batch_latency_p50_ms": median([median(xs) for xs in per_entry.values()]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    samples = {
        "setup_s": "1", "first_pass_s": "1", "events_per_s": f"{len(steady)} passes",
        "batch_latency_p50_ms": f"{len(per_entry)} entries"
        f" ({sum(map(len, per_entry.values()))} batches)",
        "peak_rss_mb": "1",
    }
    return values, samples


# Which end-to-end metric each layer figure should move, and where:
# - session.*, registry.*: setup_s, on both workloads;
# - operators.build_s (Query.fn wall): first_pass_s and events_per_s on
#   ctr-batch; operators.execute_s (consuming action) and the event-log
#   task totals operators.*, sources.* of batch calls: events_per_s on
#   ctr-batch;
# - streaming.drain_s, streaming.startup_ms (drain wall minus trigger
#   time), streaming.flush_ms (batches after the data batch),
#   streaming.exec_wait_s (micro-batch executor run minus CPU time:
#   Python-kernel time), sinks.*: events_per_s on drain-kernel
#   (startup_ms also first_pass_s). sinks.exec_*_s and sinks.input_bytes
#   are the task totals of a drain call's jobs outside its micro-batches:
#   the readback of the sink output, schema inference and the start-up
#   sizing job;
# - the listener's phase sums and streaming.state_*:
#   batch_latency_p50_ms on drain-kernel;
# - bench.pass_s is the traced pass wall (tracing overhead against the
#   untraced run), bench.pass_self_ms the benchmark's own time in a pass.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_registry_s": "s",
    "operators.build_s": "s",
    "operators.execute_s": "s",
    "operators.exec_run_s": "s",
    "operators.exec_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.tasks": "count",
    "sources.input_records": "count",
    "sources.input_bytes": "B",
    "streaming.drain_s": "s",
    "streaming.startup_ms": "ms",
    "streaming.flush_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.batches": "count",
    "streaming.data_batch_ratio": "ratio",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.state_store_instances": "count",
    "streaming.state_rows_dropped_late": "count",
    "streaming.exec_run_s": "s",
    "streaming.exec_cpu_s": "s",
    "streaming.exec_wait_s": "s",
    "sinks.readback_s": "s",
    "sinks.output_rows": "count",
    "sinks.exec_run_s": "s",
    "sinks.exec_cpu_s": "s",
    "sinks.input_bytes": "B",
    "bench.pass_s": "s",
    "bench.pass_self_ms": "ms",
}


def per_layer(res: dict, tasks: dict[str, dict]) -> dict:
    """Per-layer figures, each the median over steady passes of the
    pass's total."""
    from perfbench.trace import TASK_FIELDS, Span, drain_summary, self_times

    spans = [Span(**s) for s in res["spans"]]
    selfs = self_times(spans)
    pass_self = {s.trace_id: selfs[s.span_id] for s in spans if s.name == "pass"}
    rows = []
    for i, p in enumerate(res["passes"][1 + res["warmup"]:], start=1 + res["warmup"]):
        v = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        v["bench.pass_s"] = p["wall_s"]
        v["bench.pass_self_ms"] = 1e3 * pass_self[f"p{i}"]
        data = 0.0
        for c in p["calls"]:
            # the jobs run under the call's own job group
            own = tasks.get(f"p{i}:{c['entry']}", dict.fromkeys(TASK_FIELDS, 0.0))
            if not c["runs"]:
                for k in TASK_FIELDS:
                    v[f"{'sources' if k.startswith('input_') else 'operators'}.{k}"] += own[k]
                v["operators.build_s"] += c["fn_s"]
                v["operators.execute_s"] += c["action_s"]
                continue
            for k in ("exec_run_s", "exec_cpu_s", "input_bytes"):
                v[f"sinks.{k}"] += own[k]
            for r in c["runs"]:
                st = tasks.get(r, dict.fromkeys(TASK_FIELDS, 0.0))
                v["streaming.exec_run_s"] += st["exec_run_s"]
                v["streaming.exec_cpu_s"] += st["exec_cpu_s"]
            s = drain_summary(c["progress"])
            v["streaming.drain_s"] += c["fn_s"]
            v["streaming.startup_ms"] += 1e3 * c["fn_s"] - s["trigger_ms"]
            v["sinks.readback_s"] += c["action_s"]
            v["sinks.output_rows"] += c.get("rows", 0)
            data += s["data_batches"]
            for k, x in s.items():
                if f"streaming.{k}" in v:
                    v[f"streaming.{k}"] += x
        batches = v["streaming.batches"]
        v["streaming.data_batch_ratio"] = data / batches if batches else 0.0
        v["streaming.exec_wait_s"] = v["streaming.exec_run_s"] - v["streaming.exec_cpu_s"]
        rows.append(v)
    out = {k: median([r[k] for r in rows]) for k in PER_LAYER_UNITS}
    out["session.get_spark_s"] = res["get_spark_s"]
    out["registry.load_registry_s"] = res["load_registry_s"]
    return out


def read_event_logs(log_dir: str) -> dict[str, dict]:
    from perfbench.trace import task_metrics_by_group

    lines = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(f)
    return task_metrics_by_group(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    # run the cleanup below on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "example_beam_spark", "registry.py")):
        print(f"perfbench: no example_beam_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from example_beam_spark.registry import load_registry
    from perfbench import gen, oracle

    w = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "data", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        sf_dir = os.path.join(run_dir, "data")
        gen.write_events(sf_dir, w.events, w.users, args.seed)
        t_gen = time.time()
        queries = load_registry()
        expected = {
            e: oracle.expected(queries[e].oracle, sf_dir, os.path.join(WORK, "oracle-cache"))
            for e in w.entries
        }

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        }
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        deadline = started + RUN_BUDGET_S
        spec = {
            "conf": conf, "sf_dir": sf_dir, "entries": list(w.entries),
            "warmup": w.warmup, "seconds": args.seconds, "deadline": deadline - 15,
        }
        t_oracle = time.time()
        res = launch(spec, run_dir, "measure", deadline - time.time())
        t_launch = time.time()

        failures = check_calls(w, res["passes"], expected)
        attempted = sum(len(p["calls"]) for p in res["passes"])
        for line in failures:
            print(f"FAILED {line}")
        values, samples = end_to_end(w, res)
        units = dict(END_TO_END)
        if args.trace:
            # tracing overhead = these minus the same seed's --trace 0 figures
            for k, v in values.items():
                print(f"# traced {k:29s} {v:16.4f} {units[k]}")
            values = per_layer(res, read_event_logs(os.path.join(run_dir, "eventlog")))
            units = dict(PER_LAYER_UNITS)
            samples = dict.fromkeys(values, f"{len(res['passes']) - 1 - res['warmup']} passes")
            samples.update({"session.get_spark_s": "1", "registry.load_registry_s": "1"})
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
        print(f"# {args.workload} seed={args.seed} events={w.events} users={w.users}"
              f" entries={len(w.entries)} passes={len(res['passes'])} (1 cold, {w.warmup} warm-up)"
              f" local[{CPUS}] failure_ratio={len(failures) / attempted:.4f}")
        print(f"# wall s: generate {t_gen - started:.1f}, oracles {t_oracle - t_gen:.1f},"
              f" spark launch {t_launch - t_oracle:.1f}; peak RSS MB: python driver"
              f" {res['rss_mb']['driver']:.0f}, JVM {res['rss_mb']['jvm']:.0f}")
        for e in w.entries:
            walls = [c["fn_s"] + c["action_s"] for p in res["passes"] for c in p["calls"] if c["entry"] == e]
            print(f"#   {e:34s} pass walls s: " + " ".join(f"{x:.2f}" for x in walls))
        for k, v in values.items():
            print(f"{k:36s} {v:16.4f} {units[k]:6s} n={samples[k]}")
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0
    except LaunchFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
