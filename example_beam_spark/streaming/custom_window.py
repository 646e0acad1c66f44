"""Custom merging ad-event window (W5) — the reference's data-driven
asymmetric window (AdEventWindow.scala + AdEventWindowFn.scala +
AdCtrCustomWindowCalculator.scala), re-expressed as a keyed stateful
operator (Beam merges windows inside GroupByKey via WindowFn.mergeWindows;
Spark has no user-definable merging WindowFn, so the merge lives in
``applyInPandasWithState`` — SURVEY.md §7.3).

Window assignment (AdEventWindow.scala:70-83, AdEventWindowFn.scala:18-26),
per (screen_id, ad_id) — both directions are FORWARD:

- impression at t → [t, t + impression_duration)  (waits forward for clicks)
- click at t      → [t, t + click_duration)       (waits forward for its
  impression; ``forClick`` is ``timestamp.plus(duration).minus(1)`` exactly
  like ``forImpression``)

Merge (AdEventWindow.scala:19-51 + AdEventWindowFn.scala:28-37): Beam's
``mergeWindows`` groups windows by (screenId, adId) and reduces ALL of them
— there is NO overlap test; every window of a key that is still live (not
yet closed by the watermark) merges. Pairwise rule: start = min(starts);
end = max(starts) when either side is a click (a click — or any event
merging after one — pins the end to the latest participating event time,
giving the pattern its low latency, README.md:82), else max(ends).
Net effect: a session-like window that closes when the watermark passes
its end; impressions extend the end to their ts + duration, clicks cap it
at the latest event time.

Lateness (AdCtrCustomWindowCalculator.scala:22-31, ACCUMULATING_FIRED_PANES
+ late firings per element): when the watermark passes the window end the
on-time pane fires; for ``allowed_lateness_secs`` afterwards the window
state is retained, late events merge in and immediately re-fire the
ACCUMULATED pane (AdCtrCustomWindowCalculatorTest.scala:72-95 expects 0.0
on time then 1.0 late for the same window).

Emission: one capped AdCtr per pane (clicks=min(1,·), impressions=min(1,·)
— AdCtrCappedSemigroup, model.scala:88-98) with window_start/window_end.
``window_end`` uses exclusive-end convention (reference stores end − 1 ms
and emits at maxTimestamp = end; we report the round value — a documented
+1 ms delta; click-pinned ends are exact event times in both).

Scale notes: one shuffle on (screen_id, ad_id) into StateStore partitions;
state per key = one open window (a handful of scalars); timeout eviction
bounds state exactly like Beam's window GC. Arrow-batched per key group —
no per-row Python round trips.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timedelta
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "screen_id string, ad_id string, clicks long, impressions long, ctr double, "
    "window_start timestamp, window_end timestamp"
)
STATE_SCHEMA = (
    "w_start timestamp, w_end timestamp, n_clicks long, n_impressions long, "
    "has_click boolean, fired boolean"
)


def _emit_row(key_screen: str, key_ad: str, st: tuple) -> dict:
    w_start, w_end, n_clicks, n_imps = st[0], st[1], st[2], st[3]
    clicks = min(1, n_clicks)
    imps = min(1, n_imps)
    return dict(
        screen_id=key_screen,
        ad_id=key_ad,
        clicks=clicks,
        impressions=imps,
        ctr=(clicks / imps) if imps > 0 else None,
        window_start=w_start,
        window_end=w_end,
    )


def _ms(ts: datetime) -> int:
    return int(ts.timestamp() * 1000)


def make_ad_event_window_fn(
    impression_secs: int, click_secs: int, allowed_lateness_secs: int = 0
):
    lateness_ms = allowed_lateness_secs * 1000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        screen_id, ad_id = key
        if state.hasTimedOut:
            st = state.get
            wm = state.getCurrentWatermarkMs()
            if not st[5]:  # on-time pane: watermark passed the window end
                yield pd.DataFrame([_emit_row(screen_id, ad_id, st)])
                if lateness_ms > 0 and wm < _ms(st[1]) + lateness_ms:
                    # keep the window open for late (accumulating) firings
                    state.update((*st[:5], True))
                    state.setTimeoutTimestamp(
                        max(_ms(st[1]) + lateness_ms - 1, wm + 1)
                    )
                else:
                    state.remove()
            else:  # lateness horizon passed — GC (late panes fired per element)
                state.remove()
            return

        st = state.get if state.exists else None
        late_fire = False

        rows = pd.concat(list(pdfs), ignore_index=True)
        # deterministic within-batch order: event time, then clicks before
        # impressions at equal times ('click' < 'impression')
        rows = rows.sort_values(["event_time", "action"], kind="mergesort")

        for r in rows.itertuples(index=False):
            ts: datetime = r.event_time
            if r.action == "click":
                s, e, is_click = ts, ts + timedelta(seconds=click_secs), True
            elif r.action == "impression":
                s, e, is_click = ts, ts + timedelta(seconds=impression_secs), False
            else:  # 'unknown' assigns no window (AdEventWindowFn drops it)
                continue
            if st is None:
                st = (s, e, int(is_click), int(not is_click), is_click, False)
            else:
                # unconditional live-window merge (AdEventWindowFn.scala:28-37)
                w_start, w_end, n_clicks, n_imps, has_click, fired = st
                if has_click or is_click:
                    new_end = max(w_start, s)  # click pins end to latest start
                else:
                    new_end = max(w_end, e)
                st = (
                    min(w_start, s),
                    new_end,
                    n_clicks + int(is_click),
                    n_imps + int(not is_click),
                    has_click or is_click,
                    fired,
                )
                late_fire = late_fire or fired
        if st is not None:
            if late_fire:
                # accumulating late pane, fired per element batch
                # (AfterProcessingTime.pastFirstElementInPane analog)
                yield pd.DataFrame([_emit_row(screen_id, ad_id, st)])
            state.update(st)
            wm = state.getCurrentWatermarkMs()
            horizon = _ms(st[1]) + (lateness_ms if st[5] else 0)
            # Fire when the watermark passes the window's maxTimestamp.
            # Spark fires a timeout only when watermark > timestamp, and the
            # reference's maxTimestamp is end − 1 ms (AdEventWindow.scala:53,
            # forImpression/forClick store duration − 1 ms) — so set the
            # timeout at horizon − 1 ms: a watermark reaching the round end
            # closes the window, exactly like Beam. Must also sit strictly
            # above the current watermark or Spark rejects it.
            state.setTimeoutTimestamp(max(horizon - 1, wm + 1))

    return fn


def make_ad_event_window_bucketed_fn(
    impression_secs: int, click_secs: int, allowed_lateness_secs: int = 0
):
    """Coarse-bucketed twin of :func:`make_ad_event_window_fn` — MANY
    logical (screen_id, ad_id) keys per state group.

    Why: applyInPandasWithState dispatches the Python function once per
    group per batch; on the corpus the window state is ~35k keys, and the
    ~230 µs/dispatch group machinery (state row codec + Arrow framing +
    function call), not the merge arithmetic, was the measured wall
    (r15: 16.6 s for 2×35k dispatches). Hash-bucketing the keys into
    ~8·cores groups cuts dispatches ~100× while the per-key state
    machine below stays LITERALLY the per-key semantics:

    - state: pickled dict key -> [w_start, w_end, n_clicks, n_imps,
      has_click, fired, deadline_ms]; ``deadline_ms`` is the EMULATED
      per-key event-time timer (the per-key form's setTimeoutTimestamp
      value, max(horizon-1, wm+1)).
    - data rows are processed in the same (event_time, action) stable
      order; a key WITH data in a batch never runs its timeout branch
      that batch (exactly gsts: data suppresses the timer), and a key
      without data fires iff its stored deadline < the batch watermark
      (exactly the engine's strictly-greater watermark rule).
    - the group timer is min over per-key deadlines, so the bucket is
      invoked in precisely the batches where at least one key's per-key
      timer would have fired.

    Hence every key emits the same rows in the same micro-batch as the
    per-key form — pinned pane-by-pane by the replay scenarios in
    tests/test_stateful.py (impl='bucketed') and by the corpus oracle."""
    import pickle

    lateness_ms = allowed_lateness_secs * 1000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        st_map: dict = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        out: list[dict] = []

        batches = [p for p in pdfs if len(p)]
        data_keys: set = set()
        late_fired: list = []  # insertion-ordered keys needing a late pane
        late_seen: set = set()
        if batches:
            rows = pd.concat(batches, ignore_index=True)
            # same stable order as the per-key form: each key's rows
            # appear in (event_time, clicks-before-impressions) order
            rows = rows.sort_values(["event_time", "action"], kind="mergesort")
            for r in rows.itertuples(index=False):
                k = (r.screen_id, r.ad_id)
                ts = r.event_time
                if r.action == "click":
                    s, e, is_click = ts, ts + timedelta(seconds=click_secs), True
                elif r.action == "impression":
                    s, e, is_click = (
                        ts,
                        ts + timedelta(seconds=impression_secs),
                        False,
                    )
                else:
                    # 'unknown' assigns no window, but it is still a data
                    # row: like the per-key form, a key WITH state skips
                    # its timer this batch and re-arms it below; a key
                    # without state gets none
                    if k in st_map:
                        data_keys.add(k)
                    continue
                data_keys.add(k)
                ent = st_map.get(k)
                if ent is None:
                    st_map[k] = [
                        s, e, int(is_click), int(not is_click), is_click,
                        False, None,
                    ]
                else:
                    w_start, w_end, n_clicks, n_imps, has_click, fired, _dl = ent
                    if has_click or is_click:
                        new_end = max(w_start, s)
                    else:
                        new_end = max(w_end, e)
                    st_map[k] = [
                        min(w_start, s),
                        new_end,
                        n_clicks + int(is_click),
                        n_imps + int(not is_click),
                        has_click or is_click,
                        fired,
                        None,
                    ]
                    if fired and k not in late_seen:
                        late_seen.add(k)
                        late_fired.append(k)
            for k in late_fired:
                out.append(_emit_row(k[0], k[1], tuple(st_map[k][:6])))
            for k in data_keys:
                ent = st_map[k]
                horizon = _ms(ent[1]) + (lateness_ms if ent[5] else 0)
                ent[6] = max(horizon - 1, wm + 1)

        # timeout phase: keys WITHOUT data whose emulated timer passed
        for k in [k for k in st_map if k not in data_keys]:
            ent = st_map[k]
            if ent[6] is None or not (ent[6] < wm):
                continue
            if not ent[5]:  # on-time pane
                out.append(_emit_row(k[0], k[1], tuple(ent[:6])))
                if lateness_ms > 0 and wm < _ms(ent[1]) + lateness_ms:
                    ent[5] = True
                    ent[6] = max(_ms(ent[1]) + lateness_ms - 1, wm + 1)
                else:
                    del st_map[k]
            else:  # lateness horizon passed — GC
                del st_map[k]

        if st_map:
            state.update((pickle.dumps(st_map),))
            state.setTimeoutTimestamp(
                max(min(ent[6] for ent in st_map.values()), wm + 1)
            )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(out)

    return fn


def ad_ctr_custom_window_stream(
    ad_events: DataFrame,
    impression_duration_secs: int = 600,
    click_duration_secs: int = 60,
    allowed_lateness_secs: int = 0,
    impl: str | None = None,
) -> DataFrame:
    """CTR per (screen_id, ad_id) in the custom merging window — the
    streaming equivalent of AdCtrCustomWindowCalculator.calculateCtrByScreen.
    ``ad_events`` needs (screen_id, ad_id, action, event_time) + watermark.

    ``impl``: 'bucketed' (hash-bucketed applyInPandasWithState — the
    default: same per-key semantics, ~100× fewer group dispatches, see
    :func:`make_ad_event_window_bucketed_fn`), 'gsts' (one state group
    per key) or 'tws' (transformWithState named state + timers — see
    streaming/tws.py); defaults to the SPARK_GRAFT_STATEFUL_IMPL env
    var, then 'bucketed'."""
    import os

    from example_beam_spark.streaming.tws import ad_ctr_custom_window_tws, stateful_impl

    impl = impl or os.environ.get("SPARK_GRAFT_STATEFUL_IMPL") or "bucketed"
    if impl == "tws":
        return ad_ctr_custom_window_tws(
            ad_events,
            impression_duration_secs,
            click_duration_secs,
            allowed_lateness_secs,
        )
    if impl == "bucketed":
        from pyspark.sql import functions as F

        spark = ad_events.sparkSession
        # buckets ~8× cores: enough groups to keep every core busy with
        # skew slack, few enough that per-group dispatch is amortized
        # over ~100+ keys; scales with the cluster (and EBS_CW_BUCKETS
        # overrides for lane sweeps / production sizing to key volume)
        n_buckets = int(
            os.environ.get(
                "EBS_CW_BUCKETS", 8 * spark.sparkContext.defaultParallelism
            )
        )
        bucketed = ad_events.withColumn(
            "_bkt", F.pmod(F.xxhash64("screen_id", "ad_id"), F.lit(n_buckets))
        )
        return bucketed.groupBy("_bkt").applyInPandasWithState(
            make_ad_event_window_bucketed_fn(
                impression_duration_secs,
                click_duration_secs,
                allowed_lateness_secs,
            ),
            outputStructType=OUT_SCHEMA,
            stateStructType="pkl binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    stateful_impl(impl)  # validate
    return ad_events.groupBy("screen_id", "ad_id").applyInPandasWithState(
        make_ad_event_window_fn(
            impression_duration_secs, click_duration_secs, allowed_lateness_secs
        ),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
