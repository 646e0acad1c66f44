"""One fresh Spark driver process of a benchmark run.

``python3 -m perfbench.worker <spec.json> <out.json>`` times
``get_spark`` and ``load_registry``, then runs passes over the workload's
registered entries: one cold pass, ``warmup`` passes, then at least
``MIN_STEADY_PASSES`` steady passes, and more until ``seconds`` have been
measured. Only the calls into ``get_spark``, ``load_registry``, each
``Query.fn`` and the consuming action (``toArrow`` plus the registry's
``drain_cleanups``) are timed. Micro-batch progress comes from a
listener this process registers. Results are digested after each pass,
outside the timed calls, and everything is written to ``out.json``.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
import traceback
from datetime import datetime

from perfbench.oracle import digest
from perfbench.trace import Tracer

LISTENER_WAIT_S = 60.0
# so no steady figure rests on a single pass
MIN_STEADY_PASSES = 2


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects every query's micro-batch progress by run id."""

        def __init__(self) -> None:
            self.cond = threading.Condition()
            self.started: list[str] = []
            self.ended: set[str] = set()
            self.progress: dict[str, list[dict]] = {}

        def onQueryStarted(self, event) -> None:
            with self.cond:
                self.started.append(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self.cond:
                self.progress.setdefault(p["runId"], []).append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.cond:
                self.ended.add(str(event.runId))
                self.cond.notify_all()

        def runs_since(self, n_before: int) -> list[str]:
            """Run ids started after the first ``n_before``, once each has
            terminated (listener events arrive asynchronously)."""
            with self.cond:
                self.cond.wait_for(
                    lambda: set(self.started[n_before:]) <= self.ended, LISTENER_WAIT_S
                )
                return list(self.started[n_before:])

    return Progress()


def _batch_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)

    from example_beam_spark import registry, session

    t0 = time.perf_counter()
    spark = session.get_spark(extra_conf=spec["conf"])
    t1 = time.perf_counter()
    queries = registry.load_registry()
    t2 = time.perf_counter()
    out: dict = {"get_spark_s": t1 - t0, "load_registry_s": t2 - t1}
    sc = spark.sparkContext
    listener = _progress_listener()
    spark.streams.addListener(listener)
    tracer = Tracer()
    sf_dir, entries = spec["sf_dir"], spec["entries"]

    def run_pass(idx: int) -> dict:
        trace_id = f"p{idx}"
        calls = []
        results = []
        with tracer.span("pass", trace_id) as root:
            for name in entries:
                call = {"entry": name, "error": None, "fn_s": 0.0, "action_s": 0.0}
                sc.setJobGroup(f"{trace_id}:{name}", name)
                n_runs = len(listener.started)
                a = b = time.time()
                try:
                    df = queries[name].fn(spark, sf_dir)
                    b = time.time()
                    results.append(df.toArrow())
                    registry.drain_cleanups()
                except Exception as e:  # a failing entry is a failed call, not a failed run
                    traceback.print_exc()
                    call["error"] = f"{type(e).__name__}: {e}"[:500]
                    results.append(None)
                c = time.time()
                call["fn_s"], call["action_s"] = b - a, c - b
                call["runs"] = listener.runs_since(n_runs)
                call["progress"] = [p for r in call["runs"] for p in listener.progress.get(r, [])]
                fn = tracer.add("entry", trace_id, a, b, root, entry=name)
                tracer.add("action", trace_id, b, c, root, entry=name)
                for p in call["progress"]:
                    start = _batch_start(p)
                    ms = p["durationMs"].get("triggerExecution", 0)
                    tracer.add("microbatch", trace_id, start, start + ms / 1e3, fn,
                               entry=name, batch=p["batchId"], rows=p.get("numInputRows", 0))
                calls.append(call)
        for call, table in zip(calls, results):
            if table is not None:
                call.update(digest(table))
        return {"wall_s": sum(c["fn_s"] + c["action_s"] for c in calls), "calls": calls}

    passes = [run_pass(0)]
    for i in range(spec["warmup"]):
        passes.append(run_pass(1 + i))
    steady_start = time.time()
    for n in itertools.count(1):
        passes.append(run_pass(len(passes)))
        now = time.time()
        if now + passes[-1]["wall_s"] > spec["deadline"]:
            break
        if n >= MIN_STEADY_PASSES and now - steady_start >= spec["seconds"]:
            break

    jvm = sc._gateway.proc
    out["rss_mb"] = {"driver": _vm_hwm_kb("self") / 1024, "jvm": _vm_hwm_kb(jvm.pid) / 1024}
    out["peak_rss_mb"] = sum(out["rss_mb"].values())
    out["warmup"] = spec["warmup"]
    out["passes"] = passes
    out["spans"] = [vars(s) for s in tracer.spans]
    spark.streams.removeListener(listener)
    spark.stop()  # also closes the event log
    with open(out_path, "w") as f:
        json.dump(out, f)
    # the stopped JVM holds nothing the run still needs
    jvm.kill()
    jvm.wait()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
