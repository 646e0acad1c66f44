"""``transformWithState`` ports of the two custom stateful operators
(lookup-cache join, custom merging ad-event window) — the Spark 4 named-
state/named-timer API that is the closest structural match to the
reference's Beam DoFn state model:

- named state variables (``getValueState`` / ``getListState``) play
  Beam's ``ValueState`` / ``BagState`` declarations
  (LookupCacheDoFn.scala:56-75 declares cache/buffer/maxSeen by name);
- explicit timers (``registerTimer`` / ``deleteTimer``) play Beam's
  ``TimerSpec`` with reset (LookupCacheDoFn.scala:190-210) — unlike
  ``GroupState.setTimeoutTimestamp`` there can be several, they are
  first-class values, and re-registration is an explicit delete+add;
- ``handleExpiredTimer`` is the ``@OnTimer`` callback.

Selection: both operator entry points (``lookup_cache_join_stream``,
``ad_ctr_custom_window_stream``) take ``impl='gsts'|'tws'`` defaulting to
the ``SPARK_GRAFT_STATEFUL_IMPL`` env var, else ``'gsts'``
(``applyInPandasWithState`` — the compatibility path that runs on any
state store provider and has no extra Python dependencies).

Environment constraints for the ``tws`` path (checked by
:func:`tws_unavailable_reason`):

- the Python ``protobuf`` package — PySpark's transformWithState state
  client speaks protobuf to the JVM state server and raises
  STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE without it; this
  container does not ship protobuf, so the path is flag-complete but
  SKIPPED by the test suite here (same environment-constraint class as
  the absent spark-avro jar — sinks/files.py);
- the RocksDB state store provider
  (``spark.sql.streaming.stateStore.providerClass`` =
  ``...state.RocksDBStateStoreProvider``) — transformWithState requires
  it; set it on the session BEFORE the query starts.

Semantics are kept bit-identical to the gsts implementations (same
within-batch deterministic ordering, same timer timestamps, same output
schemas) so the replay suite (tests/test_stateful.py) parametrizes over
both implementations with identical expectations.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from example_beam_spark.streaming import custom_window as _cw
from example_beam_spark.streaming import lookup_cache as _lc

def stateful_impl(impl: str | None = None) -> str:
    """Resolve the stateful-operator implementation flag. 'bucketed' is
    the custom window's hash-bucketed gsts variant; entries without a
    bucketed form treat it as 'gsts' (same applyInPandasWithState
    machinery, per-key groups)."""
    impl = impl or os.environ.get("SPARK_GRAFT_STATEFUL_IMPL", "gsts")
    if impl not in ("gsts", "tws", "bucketed"):
        raise ValueError(
            f"unknown stateful impl {impl!r}; use 'gsts', 'tws' or 'bucketed'"
        )
    return impl


def tws_unavailable_reason() -> str | None:
    """None if the transformWithState path can run here, else a human
    reason. The protobuf runtime is the container-level gate; the RocksDB
    provider is session conf the caller controls."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return (
            "python 'protobuf' package not installed — PySpark's "
            "transformWithState state client requires it "
            "(STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE without it)"
        )
    return None


def require_tws() -> None:
    reason = tws_unavailable_reason()
    if reason is not None:
        raise RuntimeError(f"transformWithState path unavailable: {reason}")


def _ms(ts: datetime) -> int:
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return int(ts.timestamp() * 1000)


def _reset_single_timer(handle: Any, expiry_ms: int, watermark_ms: int) -> None:
    """Beam-style timer RESET (LookupCacheDoFn.scala:190-210): each key
    holds at most ONE live timer; re-registration deletes the old one.
    Clamp strictly above the current watermark like the gsts path — a
    timer at-or-below the watermark would fire immediately regardless of
    intent, and the clamp keeps both implementations' firing batches
    aligned."""
    for t in list(handle.listTimers()):
        handle.deleteTimer(t)
    handle.registerTimer(max(expiry_ms, watermark_ms + 1))


# --------------------------------------------------------------------------
# Lookup-cache join (J3 / U1-U6) — named-state port of
# lookup_cache.make_lookup_cache_fn (see that module's semantics doc)
# --------------------------------------------------------------------------


class LookupCacheProcessor(StatefulProcessor):
    """StatefulProcessor twin of :func:`lookup_cache.make_lookup_cache_fn`.

    State layout mirrors the reference's named declarations
    (LookupCacheDoFn.scala:56-75):
    ``cache``    ValueState(dim_version, dim_time)  — latest-wins dim;
    ``buffer``   ListState(fact_id, fact_time)      — early facts (BagState);
    ``max_seen`` ValueState(ts)                     — running max event time
                                                      (CombiningState/max).
    One event-time timer at max_seen + TTL plays the GC timer.
    """

    def __init__(self, ttl_seconds: int) -> None:
        self.ttl = timedelta(seconds=ttl_seconds)

    def init(self, handle: Any) -> None:
        self.h = handle
        self.cache = handle.getValueState(
            "cache", "dim_version string, dim_time timestamp"
        )
        self.buffer = handle.getListState(
            "buffer", "fact_id string, fact_time timestamp"
        )
        self.max_seen = handle.getValueState("max_seen", "ts timestamp")

    def close(self) -> None:
        pass

    def handleInitialState(self, key: Any, initialState: Any, timerValues: Any) -> None:
        pass

    def handleInputRows(
        self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        cached = self.cache.get() if self.cache.exists() else None
        dim_version, dim_time = cached if cached is not None else (None, None)
        buf = [(fid, fts) for fid, fts in self.buffer.get()]
        ms = self.max_seen.get() if self.max_seen.exists() else None
        max_seen = ms[0] if ms is not None else None
        out_rows: list[dict] = []

        # identical deterministic replay order to the gsts path
        all_rows = pd.concat(list(rows), ignore_index=True)
        all_rows = all_rows.sort_values(
            ["event_time", "kind", "payload"], kind="mergesort"
        ).reset_index(drop=True)

        for r in all_rows.itertuples(index=False):
            ts = r.event_time
            max_seen = ts if max_seen is None or ts > max_seen else max_seen
            if r.kind == _lc.KIND_DIM:
                if (
                    dim_time is None
                    or ts > dim_time
                    or (ts == dim_time and str(r.payload) > str(dim_version))
                ):
                    dim_version, dim_time = r.payload, ts
                for fid, fts in buf:
                    out_rows.append(
                        dict(
                            key=k,
                            fact_id=fid,
                            fact_time=fts,
                            dim_version=dim_version,
                            dim_time=dim_time,
                            match_status="matched",
                        )
                    )
                buf = []
            else:  # fact
                if dim_time is not None and (ts - dim_time) <= self.ttl:
                    out_rows.append(
                        dict(
                            key=k,
                            fact_id=r.payload,
                            fact_time=ts,
                            dim_version=dim_version,
                            dim_time=dim_time,
                            match_status="matched",
                        )
                    )
                else:
                    buf.append((r.payload, ts))

        if dim_version is not None or dim_time is not None:
            self.cache.update((dim_version, dim_time))
        self.buffer.clear()
        if buf:
            self.buffer.put(buf)
        if max_seen is not None:
            self.max_seen.update((max_seen,))
            _reset_single_timer(
                self.h,
                _ms(max_seen + self.ttl),
                timerValues.getCurrentWatermarkInMs(),
            )
        if out_rows:
            yield pd.DataFrame(out_rows)

    def handleExpiredTimer(
        self, key: tuple[Any, ...], timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        # GC timer (LookupCacheDoFn.scala:112-130): flush buffered facts to
        # the DLQ side, clear every named state.
        (k,) = key
        buf = [(fid, fts) for fid, fts in self.buffer.get()]
        self.cache.clear()
        self.buffer.clear()
        self.max_seen.clear()
        if buf:
            yield pd.DataFrame(
                {
                    "key": [k] * len(buf),
                    "fact_id": [fid for fid, _ in buf],
                    "fact_time": [fts for _, fts in buf],
                    "dim_version": [None] * len(buf),
                    "dim_time": [pd.NaT] * len(buf),
                    "match_status": ["dlq"] * len(buf),
                }
            )


def lookup_cache_join_tws(union_stream: DataFrame, ttl_seconds: int) -> DataFrame:
    """transformWithState form of :func:`lookup_cache.lookup_cache_join_stream`
    — same input contract (key/kind/payload/event_time + watermark), same
    output schema, same semantics."""
    require_tws()
    return union_stream.groupBy("key").transformWithStateInPandas(
        statefulProcessor=LookupCacheProcessor(ttl_seconds),
        outputStructType=_lc.OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


# --------------------------------------------------------------------------
# Custom merging ad-event window (W5) — named-state port of
# custom_window.make_ad_event_window_fn (see that module's semantics doc)
# --------------------------------------------------------------------------


class AdEventWindowProcessor(StatefulProcessor):
    """StatefulProcessor twin of :func:`custom_window.make_ad_event_window_fn`.
    One ValueState holds the key's single open merged window; one event-time
    timer plays the window-close (then lateness-GC) callback."""

    def __init__(
        self, impression_secs: int, click_secs: int, allowed_lateness_secs: int = 0
    ) -> None:
        self.imp = timedelta(seconds=impression_secs)
        self.clk = timedelta(seconds=click_secs)
        self.lateness_ms = allowed_lateness_secs * 1000

    def init(self, handle: Any) -> None:
        self.h = handle
        self.window = handle.getValueState(
            "window",
            "w_start timestamp, w_end timestamp, n_clicks bigint, "
            "n_impressions bigint, has_click boolean, fired boolean",
        )

    def close(self) -> None:
        pass

    def handleInitialState(self, key: Any, initialState: Any, timerValues: Any) -> None:
        pass

    def handleInputRows(
        self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        screen_id, ad_id = key
        st = tuple(self.window.get()) if self.window.exists() else None
        late_fire = False

        all_rows = pd.concat(list(rows), ignore_index=True)
        all_rows = all_rows.sort_values(["event_time", "action"], kind="mergesort")

        for r in all_rows.itertuples(index=False):
            ts: datetime = r.event_time
            if r.action == "click":
                s, e, is_click = ts, ts + self.clk, True
            elif r.action == "impression":
                s, e, is_click = ts, ts + self.imp, False
            else:  # 'unknown' assigns no window
                continue
            if st is None:
                st = (s, e, int(is_click), int(not is_click), is_click, False)
            else:
                w_start, w_end, n_clicks, n_imps, has_click, fired = st
                if has_click or is_click:
                    new_end = max(w_start, s)
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
                yield pd.DataFrame([_cw._emit_row(screen_id, ad_id, st)])
            self.window.update(st)
            wm = timerValues.getCurrentWatermarkInMs()
            horizon = _ms(st[1]) + (self.lateness_ms if st[5] else 0)
            # same −1 ms maxTimestamp convention as the gsts path
            _reset_single_timer(self.h, horizon - 1, wm)

    def handleExpiredTimer(
        self, key: tuple[Any, ...], timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        screen_id, ad_id = key
        if not self.window.exists():
            return
        st = tuple(self.window.get())
        wm = timerValues.getCurrentWatermarkInMs()
        if not st[5]:  # on-time pane
            yield pd.DataFrame([_cw._emit_row(screen_id, ad_id, st)])
            if self.lateness_ms > 0 and wm < _ms(st[1]) + self.lateness_ms:
                self.window.update((*st[:5], True))
                _reset_single_timer(self.h, _ms(st[1]) + self.lateness_ms - 1, wm)
            else:
                self.window.clear()
        else:  # lateness horizon passed — GC (late panes fired per element)
            self.window.clear()


def ad_ctr_custom_window_tws(
    ad_events: DataFrame,
    impression_duration_secs: int = 600,
    click_duration_secs: int = 60,
    allowed_lateness_secs: int = 0,
) -> DataFrame:
    """transformWithState form of
    :func:`custom_window.ad_ctr_custom_window_stream` — same input contract
    (screen_id, ad_id, action, event_time + watermark), same output schema."""
    require_tws()
    return ad_events.groupBy("screen_id", "ad_id").transformWithStateInPandas(
        statefulProcessor=AdEventWindowProcessor(
            impression_duration_secs, click_duration_secs, allowed_lateness_secs
        ),
        outputStructType=_cw.OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
