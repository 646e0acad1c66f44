"""The maxFilesPerTrigger=1 staging hazard (round-7 advice): an events
table laid out as a DIRECTORY of part-files whose rows are not
time-ordered across files must NOT be drained one-file-per-trigger —
the watermark would advance between micro-batches and silently drop
in-order rows as late. ``_staged_files_time_ordered`` proves ordering
from parquet footer stats + ms mtimes; the readers fall back to a
single-batch (plain) / all-members-first-batch (flushed) schedule when
the proof fails. This suite pins the gate's verdicts and, end-to-end,
that an out-of-order part-file layout still matches the batch oracle.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from example_beam_spark.streaming.entries import _staged_files_time_ordered


def _write_events_file(path, rows):
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(path))


def _us(s: str):
    import pandas as pd

    return pd.Timestamp(s).to_pydatetime()


def _two_file_dir(tmp_path, first_rows, second_rows, mtimes):
    d = tmp_path / "staged"
    d.mkdir()
    _write_events_file(d / "a.parquet", first_rows)
    _write_events_file(d / "b.parquet", second_rows)
    os.utime(d / "a.parquet", (mtimes[0], mtimes[0]))
    os.utime(d / "b.parquet", (mtimes[1], mtimes[1]))
    return str(d)


EARLY = [(1, _us("2024-01-01 00:00:00"), 1, "click"), (2, _us("2024-01-01 01:00:00"), 1, "view")]
LATE = [(3, _us("2024-01-02 00:00:00"), 2, "click"), (4, _us("2024-01-02 01:00:00"), 2, "view")]


def test_single_file_trivially_ordered(tmp_path):
    d = tmp_path / "staged"
    d.mkdir()
    _write_events_file(d / "only.parquet", EARLY + LATE)
    assert _staged_files_time_ordered(str(d)) is True


def test_ordered_mtime_and_content_passes(tmp_path):
    d = _two_file_dir(tmp_path, EARLY, LATE, (1_000_000.0, 1_000_010.0))
    assert _staged_files_time_ordered(d) is True


def test_content_out_of_order_fails(tmp_path):
    # mtime order says a-then-b, but b holds the EARLIER rows: a drain
    # at one file per trigger would drop b's rows as late
    d = _two_file_dir(tmp_path, LATE, EARLY, (1_000_000.0, 1_000_010.0))
    assert _staged_files_time_ordered(d) is False


def test_tied_ms_mtimes_fail(tmp_path):
    # identical ms-granularity mtimes: the file source's order is
    # undefined, so ordering cannot be proven even though content could
    # be consistent either way
    d = _two_file_dir(tmp_path, EARLY, LATE, (1_000_000.0, 1_000_000.0))
    assert _staged_files_time_ordered(d) is False


def test_overlapping_ranges_fail(tmp_path):
    a = [EARLY[0], LATE[1]]  # spans the whole range
    b = [EARLY[1], LATE[0]]
    d = _two_file_dir(tmp_path, a, b, (1_000_000.0, 1_000_010.0))
    assert _staged_files_time_ordered(d) is False


def _out_of_order_events_dir(tmp_path, sf_dir) -> str:
    """Derived sf_dir whose events table is a directory of 4 part-files
    with mtime order OPPOSITE to event-time order — the exact layout the
    round-7 advice flagged as silently dropping rows under a
    one-file-per-trigger drain."""
    import pyarrow.compute as pc

    from example_beam_spark.schemas import TABLES
    from example_beam_spark.sources.parquet import parquet_members, table_path

    out = tmp_path / "ooo_sf"
    out.mkdir()
    for name in TABLES:
        if name == "events":
            continue
        src = table_path(sf_dir, name)
        if os.path.exists(src):
            os.symlink(src, table_path(str(out), name))
    ev_dir = Path(table_path(str(out), "events"))
    ev_dir.mkdir()
    t = pq.read_table(parquet_members(table_path(sf_dir, "events")))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    n = t.num_rows
    quarter = n // 4
    starts = [0, quarter, 2 * quarter, 3 * quarter]
    lengths = [quarter, quarter, quarter, n - 3 * quarter]
    base = 1_700_000_000.0
    for i, (s, ln) in enumerate(zip(starts, lengths)):
        f = ev_dir / f"part-{i:02d}.parquet"
        pq.write_table(t.slice(s, ln), str(f))
        # LATEST content gets the OLDEST mtime
        mt = base + (len(starts) - 1 - i) * 10
        os.utime(f, (mt, mt))
    return str(out)


def test_out_of_order_layout_still_matches_batch(spark, tmp_path, sf_dir):
    """End-to-end: the plain reader on an out-of-order part-file layout
    falls back to a single data batch, so the watermark-gated streaming
    CTR still equals its batch twin (before the gate, the reversed file
    order dropped in-order rows as late)."""
    from example_beam_spark.registry import load_registry
    from example_beam_spark.streaming.entries import stage_dir

    derived = _out_of_order_events_dir(tmp_path, sf_dir)
    assert _staged_files_time_ordered(stage_dir(derived, "events")) is False

    from tests.oracle import _canon

    reg = load_registry()
    stream = reg["ctr_fixed_capped_stream"].fn(spark, derived)
    batch = reg["ctr_fixed_capped"].fn(spark, derived)
    got = _canon(stream.columns, [tuple(r) for r in stream.collect()])
    want = _canon(batch.columns, [tuple(r) for r in batch.collect()])
    assert got == want


def test_flushed_reader_out_of_order_layout_still_flushes(spark, tmp_path, sf_dir):
    """The flushed reader's fallback keeps the sentinel-flush mechanism
    (each sentinel its own batch) while putting all members in batch 1:
    session windows both flush completely AND match the batch oracle."""
    from example_beam_spark.registry import load_registry
    from tests.oracle import _canon, run_oracle

    derived = _out_of_order_events_dir(tmp_path, sf_dir)
    reg = load_registry()
    stream = reg["sessionize_events_stream"].fn(spark, derived)
    got = _canon(stream.columns, [tuple(r) for r in stream.collect()])

    o_cols, o_rows = run_oracle(reg["sessionize_events_stream"].oracle, sf_dir)
    want = _canon(o_cols, o_rows)
    assert got == want
