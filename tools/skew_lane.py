"""Zipf-skewed event-key behavioral lane (round-7 verdict #4).

The stress lanes' events tables grow users at CONSTANT per-user density
— uniform keys. Real event streams are zipfian: one head user (bot,
integration account, popular screen) owns 5-10% of all traffic. This
lane generates a 10M-event corpus whose user ids follow a rank-1/r
zipf law (head user ≈ 8% of events at 150k users) plus a same-volume
uniform CONTROL, and measures the skew penalty on every operator class
the verdict named:

- linear per-key ops at FULL 10M volume (``sessionize_events``,
  ``events_funnel``, ``events_attribution_last_touch`` — running
  windows with O(1)-per-row state): claim is wall within ~2x of the
  uniform control, the window sort of the 800k-row hot partition being
  the only extra cost.
- the attribution WINDOW CARRY distribution at 10M, computed EXACTLY
  without materializing any list (running click-count window → the
  carried-list length every ``events_attribution_position`` row would
  hold): this is the one place skew hits a window carry — the head
  user's full click history — and the measured fan-out numbers say
  precisely where the carry form stops being viable.
- quadratic-output ops at a RECORDED 1M slice (not a silent cap: the
  head key's candidate/output volume is quadratic in its density —
  clicks x views for the time-range join, purchases x carried-clicks
  for position attribution — so their 10M cost is driven by the
  measured fan-out above, and the 1M run pins the per-pair constants):
  ``enrich_time_range_join`` under the AQE skew-split confs
  (tests/test_plans.py:165's machinery on a REAL operator — the lane
  records whether the final plan shows skew=true),
  ``events_attribution_position``, and the stream-stream time-range
  join both UNSALTED and SALTED (streaming/join_stream.py:69 — same
  rows, state spread across (key, salt) partitions).

CLI: ``python tools/skew_lane.py [--out-dir /tmp/spark_graft_skew]``
prints one JSON line per section.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

N_EVENTS = 10_000_000
N_USERS = 150_000
SLICE_EVENTS = 1_000_000
ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # analytics.py:_ATTR_WINDOW_US

# corpus generators shared across lanes — tools/corpora.py
from tools.corpora import skew_corpus, slice_corpus  # noqa: E402


def timed_count(df) -> tuple[float, int]:
    t0 = time.time()
    n = df.count()
    return round(time.time() - t0, 2), n


def linear_ops(reg, spark, zipf_dir: str, unif_dir: str) -> dict:
    out: dict = {"section": "linear_ops_10m", "queries": {}}
    for name in (
        "sessionize_events",
        "sessionize_events_salted",
        # round-10: the stats-driven dispatch — acceptance is matching
        # the better fixed plan's wall on BOTH input shapes (<= ~1.2x
        # of the per-shape winner; the probe job is the only overhead)
        "sessionize_events_auto",
        "events_funnel",
        "events_attribution_last_touch",
    ):
        row = {}
        for tag, d in (("zipf", zipf_dir), ("uniform", unif_dir)):
            sec, n = timed_count(reg[name].fn(spark, d))
            row[tag] = {"sec": sec, "rows": n}
        row["ratio"] = round(row["zipf"]["sec"] / max(row["uniform"]["sec"], 1e-9), 2)
        out["queries"][name] = row
        print(f"# {name}: {json.dumps(row)}", flush=True)
    return out


def _hist_percentiles(hist: list[tuple[int, int]], ps: list[float]) -> list[float]:
    """Exact linear-interpolation percentiles from a (value, count)
    histogram — the same definition as SQL percentile(), computed from
    the distributed histogram instead of shipping every row to one
    reducer."""
    hist = sorted(hist)
    n = sum(c for _, c in hist)
    out = []
    for p in ps:
        pos = p * (n - 1)
        lo_i, hi_i = int(pos), min(int(pos) + 1, n - 1)
        frac = pos - int(pos)
        vals = []
        cum = 0
        for v, c in hist:
            if cum <= lo_i < cum + c:
                vals.append(v)
            if cum <= hi_i < cum + c:
                vals.append(v)
                if len(vals) == 2:
                    break
            cum += c
        lo_v, hi_v = vals[0], vals[-1]
        out.append(lo_v + (hi_v - lo_v) * frac)
    return out


def _lookback_per_purchase(ev):
    """Per-purchase 7-day-lookback click count via the probe-union
    running-count trick (all ROW frames — incremental, O(n log n) per
    key; see carry_distribution's docstring for why no range frame),
    EXACT to the registered operator's tie semantics: a click at the
    purchase's own microsecond counts iff its event_id sorts before
    the purchase's (analytics.py's carry-order filter). Sort key is
    (t_us, sk): clicks carry sk=event_id; the t-7d lower probe carries
    sk=-1 so clicks AT exactly t-7d stay inside the inclusive window;
    the upper probe carries sk=purchase event_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        us.alias("t_us"),
        F.col("event_id").alias("sk"),
        F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("pid"),
    )
    pur = ev.filter(F.col("event_type") == "purchase")
    lo = pur.select(
        "user_id",
        (us - ATTR_WINDOW_US).alias("t_us"),
        F.lit(-1).alias("sk"),
        F.lit(0).alias("is_click"),
        F.col("event_id").alias("pid"),
    )
    up = pur.select(
        "user_id",
        us.alias("t_us"),
        F.col("event_id").alias("sk"),
        F.lit(0).alias("is_click"),
        F.col("event_id").alias("pid"),
    )
    rc_w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "sk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    timeline = clicks.unionAll(lo).unionAll(up).select(
        "pid",
        F.col("t_us").alias("probe_t"),
        "sk",
        F.sum("is_click").over(rc_w).alias("rc"),
    )
    # per purchase: rc(upper probe) - rc(lower probe) = clicks in the
    # inclusive 7-day window that precede the purchase in carry order.
    # The two probes of a purchase are distinguished by probe ORDER
    # (lower sorts 7 days earlier; same-pid rows never collide because
    # the window is > 0)
    return (
        timeline.filter(F.col("pid").isNotNull())
        .groupBy("pid")
        .agg((F.max("rc") - F.min("rc")).alias("in_lookback"))
    )


def carry_distribution(spark, sf_dir: str, tag: str) -> dict:
    """The carried-list length per row of the carried-list attribution
    plan (events_attribution_position_listform since round 9 — these
    numbers are what forced the registered plan's bucketed-join
    rewrite), computed exactly with a running COUNT (O(1)/row — no
    list ever materializes), plus the 7-day-lookback click count per
    purchase (the credit fan-out; this is ALSO the rewrite's per-
    purchase window group size, i.e. the rewrite's worst-case per-key
    working set). Together these are the operator's memory and
    output volumes as pure numbers.

    Two scale fixes this measurement itself needed on the zipf corpus
    (found when the first full run DID NOT FINISH — the head key made
    the lane's own plan quadratic):

    - NO range-frame window. Spark's sliding range frame re-aggregates
      the whole frame per row (SlidingWindowFunctionFrame is not
      incremental), so ``count(...) over (range between -7d and now)``
      on the 800k-row head user costs O(rows x frame) ~= 1.5e11
      evaluations — it did not finish in 25 minutes. The lookback count
      is instead computed with the PROBE-UNION running-count trick (the
      as-of-join rewrite): per purchase, two probe rows (at t and at
      t-7d) ride the user's click timeline, a running count (row frame
      — incremental) prices each probe, and lookback = rc(t) -
      rc(t-7d^-). All row frames, O(n log n) per key.
    - NO single-reducer exact percentile. percentile() ships every row
      into one ObjectHashAggregate buffer; the carried values are small
      ints, so a distributed (value, count) histogram + driver-side
      interpolation is exact and scan-shaped.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from example_beam_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.when(F.col("event_type") == "click", 1)
    base = ev.select(
        "user_id",
        "event_type",
        F.count(is_click).over(run_w).alias("carried"),
    )
    agg = base.agg(
        F.sum("carried").alias("total_carry_elems"),
        F.max("carried").alias("max_carried"),
    ).collect()[0]
    hist = [
        (int(r["carried"]), int(r["cnt"]))
        for r in base.groupBy("carried").agg(F.count("*").alias("cnt")).collect()
    ]
    p50, p99 = _hist_percentiles(hist, [0.5, 0.99])

    # probe-union lookback — shared with attribution_10m (exact tie
    # semantics; see _lookback_per_purchase)
    per_purchase = _lookback_per_purchase(ev)
    fan = per_purchase.agg(
        F.sum("in_lookback").alias("credit_fanout_rows"),
        F.max("in_lookback").alias("max_touches_per_purchase"),
    ).collect()[0]
    clicks_head = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    return {
        "tag": tag,
        "total_carry_elems": int(agg["total_carry_elems"]),
        "max_carried": int(agg["max_carried"]),
        "carried_p50": float(p50),
        "carried_p99": float(p99),
        "credit_fanout_rows": int(fan["credit_fanout_rows"]),
        "max_touches_per_purchase": int(fan["max_touches_per_purchase"]),
        "head_user_clicks": int(clicks_head),
    }


def quadratic_ops(reg, spark, zipf1m: str, unif1m: str) -> dict:
    """The quadratic-in-head-key operators at the recorded 1M slice,
    with the AQE skew confs of tests/test_plans.py:165 so the runtime
    skew-split machinery is live on a REAL operator."""
    from pyspark.sql import functions as F

    out: dict = {"section": "quadratic_ops_1m", "queries": {}}
    confs = {
        # 64KB, not 256KB: the hot user's COMPRESSED click partition at
        # the 1M slice is a few hundred KB, and skew detection compares
        # compressed MapStatus bytes — 256KB missed it, 64KB catches it
        # (and the split then halves the zipf wall, recorded in NOTES)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # AQE splits a skewed reduce partition by MAP-OUTPUT ranges, so
        # the single-file 1M slice must scan as MANY mappers (the
        # tests/test_plans.py real-operator pin's caveat): at the
        # default 128MB split the whole file is one mapper and the hot
        # partition is unsplittable no matter how skewed
        "spark.sql.files.maxPartitionBytes": "1048576",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # events_attribution_position is the round-9 bucketed-join
        # rewrite (O(1) per-row state); _listform is the retired
        # carried-list plan — same oracle, same output, so their zipf
        # walls here are a like-for-like plan comparison on an output
        # that is inherently quadratic in head density.
        for name in (
            "enrich_time_range_join",
            "events_attribution_position",
            "events_attribution_position_listform",
        ):
            row = {}
            for tag, d in (("zipf", zipf1m), ("uniform", unif1m)):
                df = reg[name].fn(spark, d)
                if name == "enrich_time_range_join":
                    # collect a one-literal projection so THIS frame's
                    # AdaptiveSparkPlan finalizes (the plan-pin pattern of
                    # tests/test_plans.py:165) without hauling the
                    # quadratic join payload to the driver
                    probe = df.select(F.lit(1).alias("one"))
                    t0 = time.time()
                    n = len(probe.collect())
                    row[tag] = {"sec": round(time.time() - t0, 2), "rows": n}
                    if tag == "zipf":
                        plan = (
                            probe._jdf.queryExecution().executedPlan().toString()
                        )
                        row["skew_split_in_final_plan"] = "skew=true" in plan
                else:
                    t0 = time.time()
                    n = df.count()
                    row[tag] = {"sec": round(time.time() - t0, 2), "rows": n}
            out["queries"][name] = row
            print(f"# {name}: {json.dumps(row)}", flush=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


def attribution_10m(reg, spark, zipf_dir: str, unif_dir: str) -> dict:
    """Round-10 verdict #4: the bucketed attribution rewrite at the
    FULL 10M lane (the r9 60x measurement ran on the 1M slice). The
    listform control is infeasible at 10M zipf — its carried list is
    the head user's full click history, the very thing the rewrite
    removed — so the zipf row is validated against an INDEPENDENT
    exact expected-row count: the probe-union sum of per-purchase
    lookback clicks (O(n log n) per key, exact to the operator's
    (ts, event_id) tie semantics). The uniform row runs BOTH plans for
    rows_equal, and the rewrite's zipf/uniform wall ratio is the
    skew-immunity number (expect ~1x: the bucketed join has no head
    serialization; output volume itself is larger on zipf because the
    credit fan-out is quadratic in head density)."""
    from pyspark.sql import functions as F

    from example_beam_spark.sources.parquet import load_table

    out: dict = {"section": "attribution_10m"}
    ev = load_table(spark, zipf_dir, "events")
    t0 = time.time()
    expected = int(
        _lookback_per_purchase(ev)
        .agg(F.sum("in_lookback").alias("s"))
        .collect()[0]["s"]
    )
    probe_sec = round(time.time() - t0, 2)
    sec_z, n_z = timed_count(reg["events_attribution_position"].fn(spark, zipf_dir))
    out["zipf"] = {
        "rewrite_sec": sec_z,
        "rows": n_z,
        "expected_rows": expected,
        "rows_equal_expected": n_z == expected,
        "expected_probe_sec": probe_sec,
    }
    print(f"# attribution_10m zipf: {json.dumps(out['zipf'])}", flush=True)
    sec_u, n_u = timed_count(reg["events_attribution_position"].fn(spark, unif_dir))
    sec_l, n_l = timed_count(
        reg["events_attribution_position_listform"].fn(spark, unif_dir)
    )
    out["uniform"] = {
        "rewrite_sec": sec_u,
        "rows": n_u,
        "listform_sec": sec_l,
        "listform_rows": n_l,
        "rows_equal": n_u == n_l,
    }
    out["rewrite_zipf_uniform_ratio"] = round(sec_z / max(sec_u, 1e-9), 2)
    print(f"# attribution_10m uniform: {json.dumps(out['uniform'])}", flush=True)
    return out


def oracle_on_skew(reg, spark, zipf100k: str) -> dict:
    """Round-9 verdict #7: the graded corpus is uniform — prove the
    affected REGISTERED entries stay value-exact on zipf-skewed input,
    not just fast. Runs each events-only entry against its own DuckDB
    oracle on a 100k zipf slice (small enough that the collect-compare
    and the attribution pair fan-out stay driver-safe) and records the
    wall next to the verdict."""
    from tests.oracle import assert_matches_oracle

    out: dict = {"section": "oracle_on_zipf_100k", "queries": {}}
    for name in (
        "sessionize_events",
        "sessionize_events_salted",
        "events_funnel",
        "events_attribution_last_touch",
        "events_attribution_position",
        "events_attribution_position_listform",
        "events_markov_transitions",
        "events_cusum_alarms",
        "enrich_time_range_join",
        "session_path_topk",
        "enrich_repeat_stream",
        "sessionize_events_auto",
    ):
        q = reg[name]
        t0 = time.time()
        try:
            assert_matches_oracle(q.fn(spark, zipf100k), q.oracle, zipf100k, name)
            row = {"match": True, "sec": round(time.time() - t0, 2)}
        except Exception as e:  # noqa: BLE001 — a runtime error must
            # record a failed row, not abort the section and lose the
            # already-collected results
            row = {"match": False, "err": f"{type(e).__name__}: {str(e)[:200]}"}
        out["queries"][name] = row
        print(f"# oracle_zipf {name}: {json.dumps(row)}", flush=True)
    return out


def stream_join_salted_vs_not(spark, zipf1m: str) -> dict:
    """The registered stream-stream time-range join vs a salted twin
    (n_salts=8, salted on the fact id) over the zipf slice: identical
    result rows — the salt only spreads the hot key's state — and the
    wall-clock delta is the measured price/benefit at this volume."""
    from pyspark.sql import functions as F

    from example_beam_spark.registry import load_registry
    from example_beam_spark.streaming.entries import (
        read_events_stream_flushed,
        run_to_append,
    )
    from example_beam_spark.streaming.join_stream import (
        salted_stream_stream_time_range_join,
    )

    reg = load_registry()
    t0 = time.time()
    plain = reg["enrich_stream_stream_join"].fn(spark, zipf1m)
    n_plain = plain.count()
    sec_plain = round(time.time() - t0, 2)

    t0 = time.time()
    ev = read_events_stream_flushed(spark, zipf1m).withColumnRenamed(
        "ts", "event_time"
    )
    wm = ev.withWatermark("event_time", "1 hour")
    clicks = wm.filter(
        F.when(F.col("event_type") == "click", F.col("event_time")).isNotNull()
    )
    views = wm.filter(
        F.when(F.col("event_type") == "view", F.col("event_time")).isNotNull()
    )
    facts = clicks.select("event_id", "user_id", "event_time")
    dims = views.select(
        F.col("user_id").alias("user_id_dim"),
        F.col("event_id").alias("view_event_id"),
        F.col("event_time").alias("dim_event_time"),
        F.col("value").alias("view_value"),
    )
    joined = salted_stream_stream_time_range_join(
        facts,
        dims,
        key="user_id",
        ttl_seconds=6 * 3600,
        n_salts=8,
        salt_cols=["event_id"],
    ).select(
        "event_id",
        "user_id",
        F.col("event_time").alias("ts"),
        "view_event_id",
        F.col("dim_event_time").alias("view_ts"),
        "view_value",
    )
    salted = run_to_append(
        joined, spark, instances=spark.sparkContext.defaultParallelism
    )
    n_salted = salted.count()
    sec_salted = round(time.time() - t0, 2)
    return {
        "section": "stream_join_1m",
        "unsalted": {"sec": sec_plain, "rows": n_plain},
        "salted_8": {"sec": sec_salted, "rows": n_salted},
        "rows_equal": n_plain == n_salted,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out-dir", default="/tmp/spark_graft_skew")
    ap.add_argument("--events", type=int, default=N_EVENTS)
    ap.add_argument(
        "--sections",
        nargs="*",
        default=["linear", "carry", "quadratic", "oracle", "stream", "attr10m"],
        help="subset of lane sections to run (corpora are cached, so a "
        "single section re-runs in minutes)",
    )
    args = ap.parse_args()

    from example_beam_spark.registry import drain_cleanups, load_registry
    from example_beam_spark.session import get_spark

    zipf_dir = skew_corpus(
        os.path.join(args.out_dir, "zipf"), args.events, N_USERS,
        row_group_rows=100_000,
    )
    unif_dir = skew_corpus(
        os.path.join(args.out_dir, "uniform"), args.events, N_USERS,
        uniform=True, row_group_rows=100_000,
    )
    zipf1m = slice_corpus(zipf_dir, os.path.join(args.out_dir, "zipf_1m"), SLICE_EVENTS)
    unif1m = slice_corpus(
        unif_dir, os.path.join(args.out_dir, "uniform_1m"), SLICE_EVENTS
    )
    zipf100k = slice_corpus(
        zipf_dir, os.path.join(args.out_dir, "zipf_100k"), 100_000
    )

    spark = get_spark(app_name="skew_lane")
    reg = load_registry()

    if "linear" in args.sections:
        print(json.dumps(linear_ops(reg, spark, zipf_dir, unif_dir)))
        drain_cleanups()
    if "carry" in args.sections:
        for tag, d in (("zipf", zipf_dir), ("uniform", unif_dir)):
            print(json.dumps({"section": "carry_distribution_10m", **carry_distribution(spark, d, tag)}))
        drain_cleanups()
    if "quadratic" in args.sections:
        print(json.dumps(quadratic_ops(reg, spark, zipf1m, unif1m)))
        drain_cleanups()
    if "oracle" in args.sections:
        print(json.dumps(oracle_on_skew(reg, spark, zipf100k)))
        drain_cleanups()
    if "stream" in args.sections:
        print(json.dumps(stream_join_salted_vs_not(spark, zipf1m)))
        drain_cleanups()
    if "attr10m" in args.sections:
        print(json.dumps(attribution_10m(reg, spark, zipf_dir, unif_dir)))


if __name__ == "__main__":
    main()
