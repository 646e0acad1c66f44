"""Stateful-operator tests via the replay harness — scenarios mirror the
reference's lookup-cache and custom-window suites (cites per test)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from example_beam_spark.streaming.custom_window import ad_ctr_custom_window_stream
from example_beam_spark.streaming.harness import (
    StreamScenario,
    replay,
    t,
    watermark_then_filter,
)
from example_beam_spark.streaming.lookup_cache import (
    KIND_DIM,
    KIND_FACT,
    lookup_cache_join_stream,
)

# union-stream schema for the lookup-cache join (cogroup analog)

# Slow lane (replay scenarios: ~30-50 s of micro-batch machinery each) — skipped unless EBS_RUN_SLOW=1 so the external
# verify pytest run completes; see pytest.ini / conftest.py.
pytestmark = pytest.mark.slow

UNION_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("kind", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)

TTL = 3600  # 1h, the reference's default (ScreenGlobalWindow...Enricher.scala:15)


@pytest.fixture(params=["gsts", "tws", "bucketed"])
def impl(request, spark):
    """Run every lookup-cache / custom-window scenario against ALL
    stateful implementations: 'gsts' (applyInPandasWithState), 'tws'
    (transformWithState named state + timers, streaming/tws.py), and
    'bucketed' (the custom window's hash-bucketed gsts twin — the
    lookup-cache scenarios treat it as gsts, see stateful_impl). The tws
    param skips — with the exact reason — where the container lacks the
    protobuf runtime PySpark's transformWithState client requires."""
    if request.param == "tws":
        from example_beam_spark.streaming.drain import ROCKSDB_PROVIDER
        from example_beam_spark.streaming.tws import tws_unavailable_reason

        reason = tws_unavailable_reason()
        if reason is not None:
            pytest.skip(f"tws impl unavailable in this container: {reason}")
        key = "spark.sql.streaming.stateStore.providerClass"
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, ROCKSDB_PROVIDER)
        try:
            yield "tws"
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    else:
        yield request.param


def _screen(sid: str, pub: str = "p1") -> dict:
    return {"key": pub, "kind": KIND_FACT, "payload": sid}


def _publication(version: str, pub: str = "p1") -> dict:
    return {"key": pub, "kind": KIND_DIM, "payload": version}


def _lookup_query(impl):
    def build(stream):
        return lookup_cache_join_stream(
            watermark_then_filter(stream, 0), ttl_seconds=TTL, impl=impl
        )

    return build


def _run(spark, sc, build, delay=0, mode="append"):
    return [
        r.asDict()
        for _, rows in replay(spark, sc, UNION_SCHEMA, build, delay, output_mode=mode)
        for r in rows
    ]


def test_lookup_screen_after_publication_matches(spark, impl):
    """LookupCacheEnricherTest.scala:28-42: screen arriving after its
    publication is enriched immediately."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _publication("v1"))
        .add_elements_at("12:00:01", _screen("s1"))
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _lookup_query(impl))
    assert [(r["fact_id"], r["dim_version"], r["match_status"]) for r in out] == [
        ("s1", "v1", "matched")
    ]


def test_lookup_early_screen_buffered_then_flushed(spark, impl):
    """LookupCacheEnricherTest.scala:44-59: screen arrives BEFORE the
    publication → buffered, emitted when the publication shows up."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _screen("s1"))
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:20:00", _publication("v1"))
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _lookup_query(impl))
    matched = [r for r in out if r["match_status"] == "matched"]
    assert [(r["fact_id"], r["dim_version"]) for r in matched] == [("s1", "v1")]


def test_lookup_ttl_expiry_flushes_to_dlq(spark, impl):
    """LookupCacheEnricherTest.scala:78-92: no publication within TTL →
    buffered screen expires to the DLQ."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _screen("s1"))
        .advance_watermark_to("14:00:00")  # past 12:00 + 1h TTL
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _lookup_query(impl))
    assert [(r["fact_id"], r["match_status"]) for r in out] == [("s1", "dlq")]


def test_lookup_latest_publication_wins(spark, impl):
    """LookupCacheEnricherTest.scala:114-133: two versions, later
    event-time wins regardless of arrival order."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _publication("v2"))
        .add_elements_at("12:00:00", _publication("v1"))  # older, arrives later
        .add_elements_at("12:00:02", _screen("s1"))
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _lookup_query(impl))
    assert [(r["fact_id"], r["dim_version"]) for r in out] == [("s1", "v2")]


def test_lookup_expired_cache_not_matched(spark, impl):
    """Publication older than TTL relative to the screen is not served
    from the cache (screen buffered → DLQ at GC)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _publication("v1"))
        .add_elements_at("13:30:00", _screen("s1"))  # 90 min later > 1h TTL
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _lookup_query(impl))
    assert [(r["fact_id"], r["match_status"]) for r in out] == [("s1", "dlq")]


# --------------------------------------------------------------------------
# custom merging ad-event window — scenarios mirror ALL SIX reference tests
# (AdCtrCustomWindowCalculatorTest.scala:30-143); default durations are the
# reference's 10-min impression / 1-min click forward windows.
# --------------------------------------------------------------------------


def _ad_event(action: str, ad="ad1", screen="s1") -> dict:
    return {"ad_id": ad, "screen_id": screen, "action": action}


def _custom_query(stream, lateness=0, delay=0, impl=None):
    return ad_ctr_custom_window_stream(
        watermark_then_filter(stream, delay),
        allowed_lateness_secs=lateness,
        impl=impl,
    )


def _run_ad(spark, sc, impl, lateness=0, delay=0):
    """``delay`` holds Spark's auto-advancing watermark back (Beam's
    TestStream watermark only moves when scripted; Spark's trails the max
    event time minus the delay — scenarios that rely on the watermark NOT
    passing a window end between two emits need a nonzero delay)."""
    from example_beam_spark import schemas

    return [
        r.asDict()
        for _, rows in replay(
            spark,
            sc,
            schemas.AD_EVENT,
            lambda s: _custom_query(s, lateness, delay, impl),
            delay,
            output_mode="append",
        )
        for r in rows
    ]


def test_custom_window_impression_then_click_on_time(spark, impl):
    """AdCtrCustomWindowCalculatorTest.scala:30-49 'Impression and then
    click on-time': one merged window, CTR 1.0, end pinned to click time
    (low-latency emission just after the click)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("impression"))
        .add_elements_at("12:00:01", _ad_event("click"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl)
    assert len(out) == 1
    r = out[0]
    assert (r["clicks"], r["impressions"], r["ctr"]) == (1, 1, 1.0)
    assert r["window_start"] == t("12:00:00").replace(tzinfo=None)
    assert r["window_end"] == t("12:00:01").replace(tzinfo=None)


def test_custom_window_click_then_impression_on_time(spark, impl):
    """AdCtrCustomWindowCalculatorTest.scala:97-110 'Click and then
    impression on-time': forClick looks FORWARD [t, t+1min); the
    impression at t+1s merges and the pane emits CTR 1.0 at the
    impression time (= max of window starts)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("click"))
        .add_elements_at("12:00:01", _ad_event("impression"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl)
    assert len(out) == 1
    r = out[0]
    assert (r["clicks"], r["impressions"], r["ctr"]) == (1, 1, 1.0)
    assert r["window_start"] == t("12:00:00").replace(tzinfo=None)
    assert r["window_end"] == t("12:00:01").replace(tzinfo=None)


def test_custom_window_impression_then_late_click(spark, impl):
    """AdCtrCustomWindowCalculatorTest.scala:51-70 'Impression and then
    late click': impression window expires at +10 min with CTR 0.0; the
    late click forms its own 1-min window emitting CTR undefined."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("impression"))
        .advance_watermark_to("12:10:00")  # impression window expires
        .add_elements_at("12:11:00", _ad_event("click"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl)
    got = sorted(
        (r["window_end"].isoformat(), r["clicks"], r["impressions"], r["ctr"])
        for r in out
    )
    assert got == [
        ("1970-01-01T12:10:00", 0, 1, 0.0),  # 10-min impression window
        ("1970-01-01T12:12:00", 1, 0, None),  # 1-min click window
    ]


def test_custom_window_late_click_within_allowed_lateness(spark, impl):
    """AdCtrCustomWindowCalculatorTest.scala:72-95 'Impression and then
    late click but in allowed lateness': on-time pane CTR 0.0, then the
    late click merges into the retained window and re-fires the
    ACCUMULATED pane with CTR 1.0 at the click time."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("impression"))
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:11:00", _ad_event("click"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl, lateness=120)
    got = [
        (r["window_end"].isoformat(), r["clicks"], r["impressions"], r["ctr"])
        for r in out
    ]
    assert got == [
        ("1970-01-01T12:10:00", 0, 1, 0.0),  # on-time pane
        ("1970-01-01T12:11:00", 1, 1, 1.0),  # accumulated late pane
    ]


def test_custom_window_click_then_late_impression(spark, impl):
    """AdCtrCustomWindowCalculatorTest.scala:112-133 'Click and then late
    impression': click window expires at +1 min (CTR undefined); the late
    impression forms its own 10-min window (CTR 0.0)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("click"))
        .advance_watermark_to("12:01:00")  # click window expires
        .add_elements_at("12:02:00", _ad_event("impression"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl)
    got = sorted(
        (r["window_end"].isoformat(), r["clicks"], r["impressions"], r["ctr"])
        for r in out
    )
    assert got == [
        ("1970-01-01T12:01:00", 1, 0, None),
        ("1970-01-01T12:12:00", 0, 1, 0.0),
    ]


def test_custom_window_click_then_impression_before_expiry_merges(spark, impl):
    """AdCtrCustomWindowCalculatorTest.scala:135-152 'Click and then late
    impression but in allowed lateness': the watermark never passes the
    click window end before the impression arrives, so the two windows
    merge (mergeWindows has no overlap test — all live windows of a key
    merge) and CTR 1.0 emits at the impression time."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("click"))
        .add_elements_at("12:02:00", _ad_event("impression"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl, lateness=60)
    got = [
        (r["window_end"].isoformat(), r["clicks"], r["impressions"], r["ctr"])
        for r in out
    ]
    assert got == [("1970-01-01T12:02:00", 1, 1, 1.0)]


def test_custom_window_separate_windows_after_expiry(spark, impl):
    """Two impressions with a watermark advance between them: the first
    window is already closed when the second arrives → two windows. (If
    the watermark had NOT advanced, Beam would merge them — mergeWindows
    merges all live windows of a key unconditionally.)"""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("impression"))
        .advance_watermark_to("12:15:00")
        .add_elements_at("12:30:00", _ad_event("impression"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl)
    starts = sorted(r["window_start"].isoformat() for r in out)
    assert starts == ["1970-01-01T12:00:00", "1970-01-01T12:30:00"]


def test_custom_window_live_impressions_merge(spark, impl):
    """Two impressions 30 min apart with NO watermark advance between:
    both windows are live → unconditional per-key merge into one window
    [12:00, 12:40) (end = max of impression ends)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("impression"))
        .add_elements_at("12:30:00", _ad_event("impression"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl)
    assert len(out) == 1
    r = out[0]
    # two impressions, capped to 1 by the semigroup
    assert (r["clicks"], r["impressions"], r["ctr"]) == (0, 1, 0.0)
    assert r["window_start"] == t("12:00:00").replace(tzinfo=None)
    assert r["window_end"] == t("12:40:00").replace(tzinfo=None)


def test_custom_window_duplicate_clicks_capped(spark, impl):
    """Capped semigroup (model.scala:88-98): duplicate clicks still CTR
    1.0 — all three events merge into ONE window (the watermark is held
    back, as in the reference's TestStream where it never advances before
    the script says so; the second click extends the merged end)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _ad_event("impression"))
        .add_elements_at("12:01:00", _ad_event("click"))
        .add_elements_at("12:01:30", _ad_event("click"))
        .advance_watermark_to_infinity()
    )
    out = _run_ad(spark, sc, impl, delay=3600)
    got = [
        (r["window_end"].isoformat(), r["clicks"], r["impressions"], r["ctr"])
        for r in out
    ]
    assert got == [("1970-01-01T12:01:30", 1, 1, 1.0)]


# --------------------------------------------------------------------------
# stream-stream time-range join (J2 — the repeater-join replacement)
# --------------------------------------------------------------------------

from example_beam_spark.streaming.join_stream import (  # noqa: E402
    stream_stream_time_range_join,
)

JOIN_TTL = 600  # 10 min — the reference's screen TTL (AdEventFixedWindow
# WithRepeaterEnricher.scala:14-15)


def _join_query(stream):
    """Facts = ad events, dims = screens, both forked off ONE watermarked
    stream. The single shared EventTimeWatermark node is load-bearing:
    with one withWatermark per branch, a batch whose row reaches only one
    of the two watermark operators leaves the other's max (and thus the
    global min watermark) pinned, and outer-join state never flushes."""
    wm = stream.withWatermark("event_time", "0 seconds")

    def branch(kind):
        return wm.filter(
            F.when(
                (~F.col("is_sentinel")) & (F.col("kind") == kind),
                F.col("event_time"),
            ).isNotNull()
        )

    facts = branch(KIND_FACT).select(
        F.col("key"), F.col("payload").alias("ad"), "event_time"
    )
    dims = branch(KIND_DIM).select(
        F.col("key").alias("key_dim"),
        F.col("payload").alias("screen"),
        F.col("event_time").alias("dim_event_time"),
    )
    return stream_stream_time_range_join(
        facts, dims, key="key", ttl_seconds=JOIN_TTL
    ).select("key", "ad", "event_time", "screen", "dim_event_time")


def _fact(ad: str, key: str = "s1") -> dict:
    return {"key": key, "kind": KIND_FACT, "payload": ad}


def _scr(name: str, key: str = "s1") -> dict:
    return {"key": key, "kind": KIND_DIM, "payload": name}


def test_join_ad_within_screen_ttl_matches(spark):
    """RepeaterEnricherTest 'enriched': ad shortly after the screen joins;
    a second ad much later but still inside the TTL ALSO joins — the exact
    capability the reference needed RepeatDoFn for."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:30", _scr("screenA"))
        .add_elements_at("12:01:00", _fact("ad1"))
        .add_elements_at("12:09:00", _fact("ad2"))
        .advance_watermark_to_infinity()
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _join_query)
    got = {(r["ad"], r["screen"]) for r in out}
    assert got == {("ad1", "screenA"), ("ad2", "screenA")}


def test_join_ad_beyond_ttl_goes_to_dlq(spark):
    """RepeaterEnricherTest 'expired': an ad after the screen's TTL gets
    the outer-null (DLQ) row once the watermark passes."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:30", _scr("screenA"))
        .add_elements_at("12:20:00", _fact("adLate"))
        .advance_watermark_to_infinity()
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _join_query)
    by_ad = {r["ad"]: r["screen"] for r in out}
    assert by_ad == {"adLate": None}


def test_join_ad_before_screen_goes_to_dlq(spark):
    """RepeaterEnricherTest 'not enriched': an ad with no prior screen
    (the screen arrives after the ad's event time) is unmatched — the
    validity window only extends FORWARD from the screen."""
    sc = (
        StreamScenario()
        .add_elements_at("12:01:00", _fact("adEarly"))
        .add_elements_at("12:02:00", _scr("screenA"))
        .advance_watermark_to_infinity()
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _join_query)
    by_ad = {r["ad"]: r["screen"] for r in out}
    assert by_ad == {"adEarly": None}


def test_join_multiple_screens_all_match(spark):
    """Two screen versions inside the TTL both join (the join is 1:N,
    unlike the lookup cache's latest-wins)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", _scr("v1"))
        .add_elements_at("12:05:00", _scr("v2"))
        .add_elements_at("12:06:00", _fact("ad1"))
        .advance_watermark_to_infinity()
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _join_query)
    got = {(r["ad"], r["screen"]) for r in out}
    assert got == {("ad1", "v1"), ("ad1", "v2")}


def test_join_salted_hot_key_same_semantics(spark):
    """Skew salting (the mitigation the join module header documents):
    a hot key's facts are spread across (key, salt) state partitions while
    the dim side is replicated per salt — results must be IDENTICAL to the
    unsalted join: every in-TTL fact matches, the out-of-TTL fact gets the
    outer-null DLQ row, and no (fact, dim) pair duplicates."""
    from example_beam_spark.streaming.join_stream import (
        salted_stream_stream_time_range_join,
    )

    def _salted_query(stream):
        wm = stream.withWatermark("event_time", "0 seconds")

        def branch(kind):
            return wm.filter(
                F.when(
                    (~F.col("is_sentinel")) & (F.col("kind") == kind),
                    F.col("event_time"),
                ).isNotNull()
            )

        facts = branch(KIND_FACT).select(
            F.col("key"), F.col("payload").alias("ad"), "event_time"
        )
        dims = branch(KIND_DIM).select(
            F.col("key").alias("key_dim"),
            F.col("payload").alias("screen"),
            F.col("event_time").alias("dim_event_time"),
        )
        return salted_stream_stream_time_range_join(
            facts,
            dims,
            key="key",
            ttl_seconds=JOIN_TTL,
            n_salts=4,
            salt_cols=["ad"],  # stable per fact across micro-batch replays
        ).select("key", "ad", "event_time", "screen", "dim_event_time")

    sc = (
        StreamScenario()
        .add_elements_at("12:00:30", _scr("screenA"))
        # hot key: every fact lands on key s1; salts spread the state
        .add_elements_at("12:01:00", _fact("ad1"), _fact("ad2"), _fact("ad3"))
        .add_elements_at("12:09:00", _fact("ad4"))
        .add_elements_at("12:20:00", _fact("adLate"))  # beyond the 10-min TTL
        .advance_watermark_to_infinity()
        .advance_watermark_to_infinity()
    )
    out = _run(spark, sc, _salted_query)
    got = sorted((r["ad"], r["screen"]) for r in out)
    assert got == [
        ("ad1", "screenA"),
        ("ad2", "screenA"),
        ("ad3", "screenA"),
        ("ad4", "screenA"),
        ("adLate", None),
    ]


def test_tws_gate_opens_the_moment_protobuf_exists(monkeypatch):
    """The 14 tws skips are a PROBE, not a hardcode: the moment
    `import google.protobuf` succeeds in this environment, the gate
    reports available and every parametrized tws test un-skips on the
    next run. Proven by planting a minimal fake of the package. Also
    pins that the real current probe result matches what the runtime
    actually has (so the skip reason can never go stale)."""
    import importlib
    import sys
    import types

    from example_beam_spark.streaming.tws import tws_unavailable_reason

    # the probe must agree with reality right now
    try:
        importlib.import_module("google.protobuf")
        really_available = True
    except ImportError:
        really_available = False
    assert (tws_unavailable_reason() is None) == really_available

    # and it must flip to available as soon as the import succeeds
    google = types.ModuleType("google")
    protobuf = types.ModuleType("google.protobuf")
    google.protobuf = protobuf
    monkeypatch.setitem(sys.modules, "google", google)
    monkeypatch.setitem(sys.modules, "google.protobuf", protobuf)
    assert tws_unavailable_reason() is None
