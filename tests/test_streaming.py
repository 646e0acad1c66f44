"""Streaming-semantics tests via the micro-batch replay harness — each
scenario mirrors a reference TestStream suite (file:line cited per test).
'Pane' assertions become per-batch emission assertions (SURVEY.md §5)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from example_beam_spark import schemas
from example_beam_spark.streaming.ctr_stream import ctr_fixed_window_stream
from example_beam_spark.streaming.harness import (
    StreamScenario,
    replay,
    t,
    watermark_then_filter,
)



# Slow lane (pane-by-pane replay tests: ~20-40 s each) —
# skipped unless EBS_RUN_SLOW=1 so the external verify pytest run
# completes; see pytest.ini / conftest.py.
pytestmark = pytest.mark.slow

def _one_hot(df):
    return df.withColumn(
        "clicks", F.when(F.col("action") == "click", 1).otherwise(0)
    ).withColumn(
        "impressions", F.when(F.col("action") == "impression", 1).otherwise(0)
    )


def _ctr_query(delay_seconds: int):
    def build(stream):
        ev = watermark_then_filter(stream, delay_seconds)
        return ctr_fixed_window_stream(
            _one_hot(ev), keys=["screen_id", "ad_id"], window_duration="10 minutes"
        )

    return build


def _imp(ad="ad1", screen="s1"):
    return {"ad_id": ad, "screen_id": screen, "action": "impression"}


def _click(ad="ad1", screen="s1"):
    return {"ad_id": ad, "screen_id": screen, "action": "click"}


def _flat(captured):
    """[(batch, row_dict)] for all emitted rows."""
    return [(bid, r.asDict()) for bid, rows in captured for r in rows]


def test_ctr_on_time_single_window(spark):
    """AdCtrFixedWindowCalculatorTest.scala:37-48: impression+click in one
    window → capped CTR 1.0 emitted once the watermark passes the end."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp())
        .add_elements_at("12:00:02", _click())
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _ctr_query(0), 0))
    finals = {
        (r["screen_id"], r["ad_id"], r["window_start"]): r for _, r in out
    }
    assert len(finals) == 1
    r = finals[("s1", "ad1", t("12:00:00").replace(tzinfo=None))]
    assert (r["clicks"], r["impressions"], r["ctr"]) == (1, 1, 1.0)
    assert r["last_event_time"] == t("12:00:02").replace(tzinfo=None)


def test_ctr_duplicates_capped(spark):
    """AdCtrFixedWindowCalculatorTest.scala:63-87: duplicated click AND
    impression still give CTR 1.0 (capped semigroup)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp(), _imp())
        .add_elements_at("12:00:02", _click(), _click())
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _ctr_query(0), 0))
    assert [(r["clicks"], r["impressions"]) for _, r in out][-1] == (1, 1)


def test_ctr_window_boundary_split(spark):
    """AdCtrFixedWindowCalculatorTest.scala (boundary case): click at
    exactly 12:10:00 falls in the NEXT window."""
    sc = (
        StreamScenario()
        .add_elements_at("12:09:59", _imp())
        .add_elements_at("12:10:00", _click())
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _ctr_query(0), 0))
    by_window = {r["window_start"].isoformat(): (r["clicks"], r["impressions"]) for _, r in out}
    assert by_window["1970-01-01T12:00:00"] == (0, 1)
    assert by_window["1970-01-01T12:10:00"] == (1, 0)


def test_ctr_late_beyond_lateness_dropped(spark):
    """AdCtrFixedWindowCalculatorTest.scala:107-122: with no allowed
    lateness, an element behind the watermark is dropped."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp())
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:00:02", _click())  # late, beyond lateness
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _ctr_query(0), 0))
    finals = [r for _, r in out]
    assert all(r["clicks"] == 0 for r in finals), finals
    assert any(r["impressions"] == 1 for r in finals)


def test_ctr_late_within_lateness_updates(spark):
    """AdCtrFixedWindowCalculatorTest.scala:124-142: allowed lateness 10
    minutes → the late click re-fires the pane with the ACCUMULATED result
    (CTR 1.0, not a delta) in a later batch."""
    delay = 600
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp())
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:00:02", _click())  # late but within lateness
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _ctr_query(delay), delay))
    panes = [
        (bid, r["clicks"], r["impressions"])
        for bid, r in out
        if r["window_start"].isoformat() == "1970-01-01T12:00:00"
    ]
    assert (
        panes[-1][1],
        panes[-1][2],
    ) == (1, 1), panes
    # the late pane is a strictly later batch than the first emission
    assert panes[-1][0] > panes[0][0]


def test_ctr_unordered_events(spark):
    """AdCtrFixedWindowCalculatorTest: event-time semantics are unaffected
    by arrival order within the watermark."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:05", _click())
        .add_elements_at("12:00:01", _imp())
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _ctr_query(0), 0))
    assert [(r["clicks"], r["impressions"]) for _, r in out][-1] == (1, 1)


# --------------------------------------------------------------------------
# sliding-window CTR (W2) — mirrors AdCtrSlidingWindowCalculatorTest.scala
# (20-minute window sliding every 10 minutes, total semigroup)
# --------------------------------------------------------------------------

from example_beam_spark.streaming.ctr_stream import ctr_sliding_window_stream


def _sliding_query(delay_seconds: int):
    def build(stream):
        ev = watermark_then_filter(stream, delay_seconds)
        return ctr_sliding_window_stream(
            _one_hot(ev),
            keys=["screen_id", "ad_id"],
            window_duration="20 minutes",
            slide="10 minutes",
        )

    return build


def _finals_by_window(out):
    """Last update per sliding window (ACCUMULATING final pane)."""
    finals = {}
    for _, r in out:
        finals[r["window_start"].isoformat()] = (
            r["clicks"], r["impressions"], r["ctr"],
        )
    return finals


def test_sliding_ctr_single_period(spark):
    """AdCtrSlidingWindowCalculatorTest.scala:44-61 'Running average of
    ctr 1.0': one CTR-1.0 pair at 12:00:01 appears in BOTH overlapping
    20-minute windows [11:50,12:10) and [12:00,12:20), and nowhere else."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp(), _click())
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _sliding_query(0), 0))
    assert _finals_by_window(out) == {
        "1970-01-01T11:50:00": (1, 1, 1.0),
        "1970-01-01T12:00:00": (1, 1, 1.0),
    }


def test_sliding_ctr_moving_average_across_periods(spark):
    """AdCtrSlidingWindowCalculatorTest.scala:63-86: CTR 1.0 in the first
    period and 0.0 in the second → the overlapping middle window carries
    the moving average 0.5 (total semigroup: clicks 1 / impressions 2)."""
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp(), _click())
        .add_elements_at("12:10:01", _imp())  # adCtrZero
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _sliding_query(0), 0))
    assert _finals_by_window(out) == {
        "1970-01-01T11:50:00": (1, 1, 1.0),
        "1970-01-01T12:00:00": (1, 2, 0.5),
        "1970-01-01T12:10:00": (0, 1, 0.0),
    }


def test_sliding_ctr_late_update_within_lateness(spark):
    """AdCtrSlidingWindowCalculatorTest.scala:88-109: CTR 0.0 arriving
    late (within 5-minute allowed lateness) re-fires the [11:50,12:10)
    pane with the ACCUMULATED moving average (1 click / 2 impressions)."""
    delay = 300
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp(), _click())
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:05:01", _imp())  # late adCtrZero
        .advance_watermark_to_infinity()
    )
    out = _flat(replay(spark, sc, schemas.AD_EVENT, _sliding_query(delay), delay))
    assert _finals_by_window(out) == {
        "1970-01-01T11:50:00": (1, 2, 0.5),
        "1970-01-01T12:00:00": (1, 2, 0.5),
    }
    panes = [
        (bid, r["clicks"], r["impressions"])
        for bid, r in out
        if r["window_start"].isoformat() == "1970-01-01T11:50:00"
    ]
    # on-time (1,1) then the accumulated late re-fire (1,2) in a later batch
    assert panes[0][1:] == (1, 1)
    assert panes[-1][1:] == (1, 2)
    assert panes[-1][0] > panes[0][0]


# --------------------------------------------------------------------------
# refreshing broadcast side-input join (J1 streaming) — the dimension
# snapshot is re-loaded every micro-batch, mirroring the reference's ~5 s
# side-input refresh (README.md:113-118)
# --------------------------------------------------------------------------


def test_side_input_refresh_mid_stream(spark, tmp_path):
    """A dimension row updated between micro-batches is visible to the
    NEXT batch: fact f1 joins version v1, then after the dim is updated,
    fact f2 joins v2 (latest-event-time-wins), without restarting the
    query — ScreenGlobalWindowWithSideInputEnricherTest.scala:28-59's
    enrichment plus the refresh behavior the reference only documents."""
    import pyspark.sql.types as T

    from example_beam_spark.streaming.side_input import (
        stream_static_refreshing_join,
    )

    dim_dir = str(tmp_path / "dims")
    fact_dir = str(tmp_path / "facts")
    ckpt = str(tmp_path / "ckpt")

    dim_schema = T.StructType(
        [
            T.StructField("publication_id", T.StringType(), False),
            T.StructField("version", T.StringType(), False),
            T.StructField("dim_time", T.TimestampType(), False),
        ]
    )
    fact_schema = T.StructType(
        [
            T.StructField("screen_id", T.StringType(), False),
            T.StructField("publication_id", T.StringType(), False),
            T.StructField("event_time", T.TimestampType(), False),
        ]
    )

    def write_dim(version, hms):
        spark.createDataFrame(
            [("p1", version, t(hms))], dim_schema
        ).write.mode("append").parquet(dim_dir)

    def write_fact(screen, hms):
        spark.createDataFrame(
            [(screen, "p1", t(hms))], fact_schema
        ).coalesce(1).write.mode("append").parquet(fact_dir)

    write_dim("v1", "12:00:00")
    write_fact("s1", "12:00:01")

    captured = []

    def sink(df, bid):
        captured.extend((bid, r.asDict()) for r in df.collect())

    stream = spark.readStream.schema(fact_schema).parquet(fact_dir)
    q = stream_static_refreshing_join(
        stream,
        load_dims=lambda: spark.read.schema(dim_schema).parquet(dim_dir),
        keys=["publication_id"],
        ts_col="dim_time",
        tiebreak="version",
        sink=sink,
        checkpoint=ckpt,
        trigger={"processingTime": "0 seconds"},
    )
    try:
        q.processAllAvailable()
        # dimension updated mid-stream — no query restart
        write_dim("v2", "12:05:00")
        write_fact("s2", "12:05:01")
        q.processAllAvailable()
    finally:
        q.stop()

    by_screen = {r["screen_id"]: r["version"] for _, r in captured}
    assert by_screen == {"s1": "v1", "s2": "v2"}
    # the two facts were enriched in different micro-batches
    batches = {r["screen_id"]: bid for bid, r in captured}
    assert batches["s2"] > batches["s1"]


def test_drop_duplicates_within_watermark_evicts_state(spark):
    """dropDuplicatesWithinWatermark evicts a key's dedup state once the
    watermark passes its first occurrence + delay: a duplicate within the
    delay is dropped, the same key re-arriving BEYOND the delay is emitted
    again (bounded state's documented trade-off vs global dropDuplicates)."""
    from pyspark.sql import types as T

    from example_beam_spark.streaming.harness import (
        StreamScenario,
        replay,
        watermark_then_filter,
    )

    schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("event_time", T.TimestampType(), False),
        ]
    )
    delay = 3600  # 1h

    def build(stream):
        wm = watermark_then_filter(stream, delay)
        return wm.dropDuplicatesWithinWatermark(["key"])

    sc = (
        StreamScenario()
        .add_elements_at("12:00:00", {"key": "a"})
        .add_elements_at("12:00:10", {"key": "a"})  # dup within delay → dropped
        .advance_watermark_to("14:30:00")  # wm 13:30 > 12:00 + 1h → state evicted
        .add_elements_at("14:00:00", {"key": "a"})  # beyond delay → emitted again
        .advance_watermark_to_infinity()
    )
    out = [
        (r["key"], r["event_time"].strftime("%H:%M:%S"))
        for _, rows in replay(spark, sc, schema, build, delay, output_mode="append")
        for r in rows
    ]
    assert out == [("a", "12:00:00"), ("a", "14:00:00")]


def test_pane_info_on_time_then_late(spark):
    """AdCtrFixedWindowCalculatorTest.scala:124-161 analog WITH pane
    labels: the accumulated pane carried before the watermark passes the
    window end is ON_TIME; the post-watermark re-fire from the late click
    is LATE with the accumulated (not delta) content."""
    from example_beam_spark.streaming.harness import assign_pane_info

    delay = 600
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp())
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:00:02", _click())  # late, within lateness
        .advance_watermark_to_infinity()
    )
    captured = replay(
        spark, sc, schemas.AD_EVENT, _ctr_query(delay), delay, with_watermarks=True
    )
    tagged = assign_pane_info(
        captured,
        window_key=lambda r: (r["screen_id"], r["ad_id"], r["window_start"]),
        window_end=lambda r: r["window_end"],
    )
    panes = [
        (p.timing, p.pane_index, p.is_late, r["clicks"], r["impressions"])
        for _, r, p in tagged
        if r["window_start"].isoformat() == "1970-01-01T12:00:00"
    ]
    assert panes == [
        ("ON_TIME", 0, False, 0, 1),
        ("LATE", 1, True, 1, 1),
    ]
    infos = [p for _, _, p in tagged]
    assert infos[0].is_first and infos[-1].is_last


def test_pane_info_early_panes_before_watermark(spark):
    """Speculative firings: two data batches before the watermark passes
    the end are EARLY then ON_TIME (the last pre-watermark pane carries
    Beam's at-watermark accumulated content); a late element re-fires
    LATE."""
    from example_beam_spark.streaming.harness import assign_pane_info

    delay = 600
    sc = (
        StreamScenario()
        .add_elements_at("12:00:01", _imp())
        .add_elements_at("12:00:05", _imp())
        .advance_watermark_to("12:10:00")
        .add_elements_at("12:00:06", _click())
        .advance_watermark_to_infinity()
    )
    captured = replay(
        spark, sc, schemas.AD_EVENT, _ctr_query(delay), delay, with_watermarks=True
    )
    tagged = assign_pane_info(
        captured,
        window_key=lambda r: (r["screen_id"], r["ad_id"], r["window_start"]),
        window_end=lambda r: r["window_end"],
    )
    # capped semigroup: impressions stay least(1, n) across panes
    assert [(p.timing, r["impressions"], r["clicks"]) for _, r, p in tagged] == [
        ("EARLY", 1, 0),
        ("ON_TIME", 1, 0),
        ("LATE", 1, 1),
    ]


def test_pane_info_window_born_late_is_late(spark):
    """Round-7 advice: in update mode, a window created ENTIRELY by
    late-but-within-lateness data (the watermark passed its end before
    any element arrived) never had an on-time firing — Beam's default
    FIRE_IF_NON_EMPTY on-time pane never fired, so its first pane is
    genuinely LATE (pane_index 0, is_first), not ON_TIME. The
    n_pre==0 -> ON_TIME rule only applies under append_mode (an
    at-watermark flush, e.g. session windows)."""
    from example_beam_spark.streaming.harness import assign_pane_info

    delay = 600
    sc = (
        StreamScenario()
        .advance_watermark_to("12:10:00")  # past [12:00, 12:10) BEFORE data
        .add_elements_at("12:00:02", _click())  # within lateness (delay)
        .advance_watermark_to_infinity()
    )
    captured = replay(
        spark, sc, schemas.AD_EVENT, _ctr_query(delay), delay, with_watermarks=True
    )
    tagged = assign_pane_info(
        captured,
        window_key=lambda r: (r["screen_id"], r["ad_id"], r["window_start"]),
        window_end=lambda r: r["window_end"],
    )
    panes = [
        (p.timing, p.pane_index, p.is_first, r["clicks"])
        for _, r, p in tagged
        if r["window_start"].isoformat() == "1970-01-01T12:00:00"
    ]
    assert panes == [("LATE", 0, True, 1)]

    # same capture under append_mode semantics: the first post-watermark
    # pane is the flush, i.e. ON_TIME
    flush_tagged = assign_pane_info(
        captured,
        window_key=lambda r: (r["screen_id"], r["ad_id"], r["window_start"]),
        window_end=lambda r: r["window_end"],
        append_mode=True,
    )
    assert [p.timing for _, r, p in flush_tagged
            if r["window_start"].isoformat() == "1970-01-01T12:00:00"] == ["ON_TIME"]
