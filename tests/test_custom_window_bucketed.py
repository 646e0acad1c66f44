"""Fast pane-by-pane pin: the hash-bucketed custom window (the default
impl) emits exactly what the per-key gsts form emits, on a multi-batch
availableNow schedule where an 'unknown'-only batch of a key with state
arrives after that key's window deadline."""

from __future__ import annotations

from example_beam_spark import schemas
from example_beam_spark.streaming.custom_window import ad_ctr_custom_window_stream
from example_beam_spark.streaming.drain import drain
from example_beam_spark.streaming.harness import t
from tests.test_drain import stage_batches


def _panes(spark, src: str, impl: str) -> list[tuple]:
    panes: list[tuple] = []

    def capture(bdf, bid, path):
        panes.extend((bid, *r) for r in bdf.collect())

    ads = (
        spark.readStream.schema(schemas.AD_EVENT)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("event_time", "0 seconds")
    )
    drain(
        ad_ctr_custom_window_stream(ads, impl=impl),
        instances=2,
        output_mode="append",
        write_batch=capture,
    )
    return sorted(panes)


def test_bucketed_equals_gsts_after_unknown_only_batch(spark, tmp_path):
    """One file per micro-batch, no no-data batch between them:
    0: impression of s1 at 12:00 (window to 12:10);
    1: s2 at 12:30 moves the watermark past s1's deadline;
    2: 'unknown' of s1 only — a data row, so the per-key form skips s1's
       timer and re-arms it; 'unknown' of s3 (no state) creates none;
    3: in-order click of s1 at 12:31 merges into the still-open window;
    4: s4 at 13:00 moves the watermark past every window.
    gsts emits ONE s1 pane (impression + click); before the fix the
    bucketed form fired s1's timer in batch 2 and emitted two."""
    rows = [
        [("ad", "s1", "impression", "12:00:00")],
        [("ad", "s2", "impression", "12:30:00")],
        [("ad", "s1", "unknown", "12:30:00"), ("ad", "s3", "unknown", "12:30:00")],
        [("ad", "s1", "click", "12:31:00")],
        [("ad", "s4", "unknown", "13:00:00")],
    ]
    src = stage_batches(
        str(tmp_path / "src"),
        [
            spark.createDataFrame(
                [(a, s, act, t(hms)) for a, s, act, hms in batch], schemas.AD_EVENT
            )
            for batch in rows
        ],
    )

    gsts = _panes(spark, src, "gsts")
    s1 = [p for p in gsts if p[1] == "s1"]
    assert len(s1) == 1 and s1[0][3:6] == (1, 1, 1.0), gsts
    assert not [p for p in gsts if p[1] in ("s3", "s4")]
    assert _panes(spark, src, "bucketed") == gsts
