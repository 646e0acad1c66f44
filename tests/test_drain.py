"""Fast pins of the drain contract (streaming/drain.py): the drain conf
never outlives the drain, a redelivered batch id replaces its output,
progress is captured, and the sentinel flush does not depend on the
session's no-data micro-batch setting."""

from __future__ import annotations

import os
import time

import pytest

from example_beam_spark.streaming import drain as D
from example_beam_spark.streaming.drain import batch_dirs, drain, state_rows_series

DRAIN_KEYS = (
    "spark.sql.shuffle.partitions",
    D.PROVIDER_KEY,
    D.CHANGELOG_KEY,
    D.NO_DATA_KEY,
)


def _conf(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in DRAIN_KEYS}


@pytest.fixture
def session_conf(spark):
    """Distinctive session values for every key drain() scopes (the
    provider left unset), restored afterwards."""
    saved = _conf(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.unset(D.PROVIDER_KEY)
    spark.conf.set(D.CHANGELOG_KEY, "false")
    spark.conf.set(D.NO_DATA_KEY, "false")
    yield _conf(spark)
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def stage_batches(d: str, frames) -> str:
    """Write each DataFrame as one parquet file in ``d``, mtimes
    increasing, so a maxFilesPerTrigger=1 stream reads frame i as
    micro-batch i."""
    os.makedirs(d)
    now = time.time()
    for i, frame in enumerate(frames):
        part = f"{d}/_f{i}"
        frame.coalesce(1).write.parquet(part)
        (name,) = [p for p in os.listdir(part) if p.endswith(".parquet")]
        os.rename(f"{part}/{name}", f"{d}/chunk{i}.parquet")
        os.utime(f"{d}/chunk{i}.parquet", (now + 2 * i, now + 2 * i))
    return d


def _id_files(spark, d, chunks) -> str:
    return stage_batches(d, [spark.createDataFrame([(x,) for x in ids], "id long") for ids in chunks])


def _id_stream(spark, d):
    return spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(d)


def test_drain_conf_restored_after_success(spark, tmp_path, session_conf):
    d = _id_files(spark, str(tmp_path / "src"), [[1, 2], [3]])
    out_dir = drain(_id_stream(spark, d), instances=2, output_mode="append")
    assert len(batch_dirs(out_dir)) == 2
    assert _conf(spark) == session_conf


def test_drain_conf_restored_after_sink_failure(spark, tmp_path, session_conf, monkeypatch):
    d = _id_files(spark, str(tmp_path / "src"), [[1, 2]])
    monkeypatch.setitem(D.TEST_HOOK, "fail_at_batch", 0)
    with pytest.raises(Exception, match="injected sink failure"):
        drain(_id_stream(spark, d), instances=2, output_mode="append")
    assert _conf(spark) == session_conf


def test_drain_conf_untouched_by_read_before_drain(spark, sf_dir, session_conf):
    """An exception between the stream read and its drain: the read
    helpers set no drain conf, so nothing is left to leak."""
    from example_beam_spark.streaming.entries import (
        read_events_stream,
        read_events_stream_flushed,
    )

    with pytest.raises(ZeroDivisionError):
        read_events_stream(spark, sf_dir)
        read_events_stream_flushed(spark, sf_dir)
        1 / 0
    assert _conf(spark) == session_conf


def test_redelivered_batch_replaces_its_output(spark, tmp_path, monkeypatch):
    """Kill the drain at batch 1, leave a partial file where a killed
    write of batch 1 would, resume from the checkpoint: the replayed
    batch 1 replaces its dir, so every id is read back exactly once."""
    d = _id_files(spark, str(tmp_path / "src"), [[1, 2], [3, 4], [5]])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    monkeypatch.setitem(D.TEST_HOOK, "out_dir", out_dir)
    monkeypatch.setitem(D.TEST_HOOK, "ckpt", ckpt)
    monkeypatch.setitem(D.TEST_HOOK, "fail_at_batch", 1)
    with pytest.raises(Exception, match="injected sink failure at batch 1"):
        drain(_id_stream(spark, d), instances=1, output_mode="append")
    spark.createDataFrame([(99,)], "id long").write.parquet(
        os.path.join(out_dir, "batch-000000001")
    )
    del D.TEST_HOOK["fail_at_batch"]
    drain(_id_stream(spark, d), instances=1, output_mode="append")
    got = sorted(r.id for r in spark.read.parquet(*batch_dirs(out_dir)).collect())
    assert got == [1, 2, 3, 4, 5]


def test_state_rows_series_after_drain(spark, tmp_path):
    from example_beam_spark.streaming.entries import run_to_final

    d = _id_files(spark, str(tmp_path / "src"), [[1, 2, 2], [3, 1]])
    counts = _id_stream(spark, d).groupBy("id").count()
    got = {(r.id, r["count"]) for r in run_to_final(counts, ["id"], spark, instances=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 1)}
    series = state_rows_series()
    assert series and series[-1]["state_rows"] == 3, series


def test_sentinel_flush_without_session_no_data_batches(spark, sf_dir, session_conf):
    """The collapsed flushed schedule needs the post-watermark no-data
    micro-batch; drain() pins it on for the drain only, so a session
    that turned it off still gets every session flushed."""
    from example_beam_spark.registry import load_registry
    from tests.oracle import assert_matches_oracle

    q = load_registry()["sessionize_events_stream"]
    assert_matches_oracle(q.fn(spark, sf_dir), q.oracle, sf_dir, q.name)
    assert spark.conf.get(D.NO_DATA_KEY) == "false"
