"""Directory-of-part-files fixture layout: every real table is a DIRECTORY
of parquet part-files (``df.write.parquet`` layout), while the driver's
fixtures are single files today. The source layer must serve BOTH — the
footer-negotiation probe picks the first part-file, and the streaming
stage dir symlinks every part — so a driver-side fixture regeneration
(the hazard class that burned round 3) degrades to a green test run, not
a corrupted read.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from example_beam_spark.registry import load_registry
from example_beam_spark.sources.parquet import (
    events_ts_unit,
    first_parquet_member,
    load_table,
    parquet_members,
    table_path,
)

BASE = datetime.datetime(2024, 3, 1, 12, 0, 0)


def _write_events_dir(root, unit: str, n_rows: int = 60, n_parts: int = 3) -> str:
    """Write an events table as a DIRECTORY of part-files (with _SUCCESS,
    mimicking df.write.parquet) in the given timestamp unit; returns sf_dir."""
    sf_dir = os.path.join(str(root), f"sf_{unit}")
    d = os.path.join(sf_dir, "events.parquet")
    os.makedirs(d)
    rows_per = n_rows // n_parts
    for p in range(n_parts):
        ids = list(range(p * rows_per, (p + 1) * rows_per))
        instants = [BASE + datetime.timedelta(minutes=i) for i in ids]
        table = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(instants, pa.timestamp(unit)),
                # duplicate (user_id, event_type) pairs across part-files so
                # the streaming dedup entry has real work to do
                "user_id": pa.array([i % 5 for i in ids], pa.int64()),
                "event_type": pa.array(
                    ["click" if i % 2 else "view" for i in ids], pa.string()
                ),
                "value": pa.array([float(i) for i in ids], pa.float64()),
                "props": pa.array([None] * len(ids), pa.string()),
            }
        )
        pq.write_table(table, os.path.join(d, f"part-{p:05d}-test.snappy.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()
    return sf_dir


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_footer_negotiation_on_directory_layout(tmp_path, unit):
    sf_dir = _write_events_dir(tmp_path, unit)
    path = table_path(sf_dir, "events")
    assert len(parquet_members(path)) == 3  # _SUCCESS skipped
    assert first_parquet_member(path).endswith("part-00000-test.snappy.parquet")
    assert events_ts_unit(sf_dir) == unit


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_table_on_directory_layout(spark, tmp_path, unit):
    """Batch read through load_table: all part-files, correct instants
    under both the native branch (us) and the ns shim branch."""
    sf_dir = _write_events_dir(tmp_path, unit)
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType == T.TimestampType()
    rows = {r["event_id"]: r["ts"].replace(tzinfo=None) for r in df.collect()}
    assert len(rows) == 60
    assert rows[0] == BASE
    assert rows[59] == BASE + datetime.timedelta(minutes=59)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_streaming_entry_on_directory_layout(spark, tmp_path, unit):
    """A REAL streaming entry (dedup_stream_distinct: readStream over the
    staged dir → dropDuplicates → availableNow drain) against the
    directory layout — every part-file must be staged and drained."""
    sf_dir = _write_events_dir(tmp_path, unit)
    q = load_registry()["dedup_stream_distinct"]
    got = {(r["user_id"], r["event_type"]) for r in q.fn(spark, sf_dir).collect()}
    # users 0..4 × {click, view}, and user parity alternates with event_id
    expect = {(u, t) for u in range(5) for t in ("click", "view")}
    assert got == expect


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_flushed_stream_on_directory_layout(spark, tmp_path, unit):
    """read_events_stream_flushed stages part-files AND appends its two
    watermark sentinels; draining in append mode must surface every
    corpus row plus both sentinels."""
    from example_beam_spark.streaming.entries import (
        _SENTINEL_USER,
        read_events_stream_flushed,
        run_to_append,
    )

    sf_dir = _write_events_dir(tmp_path, unit)
    ev = read_events_stream_flushed(spark, sf_dir).select("event_id", "user_id")
    out = run_to_append(
        ev, spark, instances=spark.sparkContext.defaultParallelism
    ).collect()
    sentinels = [r for r in out if r["user_id"] == _SENTINEL_USER]
    assert len(sentinels) == 2
    assert len(out) == 60 + 2
