"""One availableNow drain: the Structured Streaming run-once protocol
(incremental execution + a sink idempotent per batch id) that every
streaming entry uses to turn a bounded input into a batch result.

:func:`drain` owns the whole protocol; nothing outside this module sets
drain conf, makes drain dirs or starts an availableNow query:

- **Conf scope.** The state-store instance count
  (``spark.sql.shuffle.partitions``, which fixes the state partitioning
  at checkpoint creation), the RocksDB provider with changelog
  checkpointing, and no-data micro-batches are set just before
  ``start()`` — the query clones the session conf at start — and
  restored in the same ``finally`` from local variables. No drain
  setting can leak into later batch queries, whatever raised.
- **Dirs and sink.** Each drain gets a fresh output dir and checkpoint.
  A foreachBatch writer is handed ``<out>/batch-<id>`` and writes it
  mode="overwrite": foreachBatch is at-least-once per batch id, so a
  batch redelivered after a crash must replace its own output, never
  add a second copy. The one other sink form is Spark's built-in
  parquet file sink (:class:`FileSink`), exactly-once through its
  ``_spark_metadata`` commit log.
- **Termination and progress.** A query that does not terminate within
  ``TIMEOUT_S`` is stopped and raises (a partial drain must never be
  read back as a result). The per-micro-batch progress is captured once,
  into :data:`LAST_PROGRESS`.

Sizing (the ``instances`` each entry passes): state-store instances and
their per-micro-batch open/commit scale with the count, and at corpus
scale that machinery, not CPU, dominates — bounded-state drains use
:func:`bounded_drain_instances` (min(8, cores); NOTES.md "streaming drain
tuning matrix", OPTIMIZATION_r14.md §3), unbounded-key drains derive the
count from key cardinality (entries.keyed_drain_instances). RocksDB keeps
state off-heap/on-disk, so executor state is bounded by disk, not
memory; changelog checkpointing commits a per-batch changelog instead of
a full SST snapshot, measured 1.5-4 s faster per bounded drain at 8
instances (OPTIMIZATION_r14.md §2).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
NO_DATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"

# A bounded drain that runs this long is stuck, not slow.
TIMEOUT_S = 3600

# Per-micro-batch progress dicts of the LAST drain. Readers:
# tests/test_trainprep.py, tests/test_neardup_stream.py and
# tools/multibatch.py, through state_rows_series().
LAST_PROGRESS: list[dict] = []

# Test hook for the kill/resume suites (tests/test_multibatch_resume.py,
# tests/test_neardup_stream.py); empty in every production path. Keys:
# "out_dir"/"ckpt" reuse those dirs across drains (so a second call
# RESUMES from the checkpoint), "fail_at_batch" makes the sink raise
# BEFORE writing that batch id, "provider" replaces the RocksDB provider
# class (the recovery contract is proven per provider).
TEST_HOOK: dict = {}


@dataclass(frozen=True)
class FileSink:
    """Spark's built-in parquet file sink, partitioned by these columns."""

    partition_by: tuple[str, ...]


def batch_dirs(out_dir: str) -> list[str]:
    """The ``batch-<id>`` dirs a foreachBatch drain into ``out_dir`` wrote."""
    return sorted(glob.glob(os.path.join(glob.escape(out_dir), "batch-*")))


def _overwrite_parquet(bdf: DataFrame, bid: int, path: str) -> None:
    bdf.write.mode("overwrite").parquet(path)


def bounded_drain_instances(spark: SparkSession) -> int:
    """min(8, cores): the instance count for drains whose state does not
    grow with the key set (module doc)."""
    return min(8, spark.sparkContext.defaultParallelism)


def drain(
    df: DataFrame,
    *,
    instances: int,
    output_mode: str,
    write_batch: Callable[[DataFrame, int, str], None] | FileSink | None = None,
    dirs: tuple[str, str] | None = None,
) -> str:
    """Run ``df`` to completion with an availableNow trigger (module doc);
    return the output dir.

    ``write_batch(bdf, batch_id, path)`` delivers one micro-batch into
    ``path`` mode="overwrite" (default: plain parquet); a :class:`FileSink`
    uses Spark's file sink on the output dir instead. ``dirs`` =
    (output dir, checkpoint) owned by the caller: kept, so a rerun resumes
    that checkpoint."""
    spark = df.sparkSession
    if dirs is not None:
        (out_dir, ckpt), keep_ckpt = dirs, True
    else:
        out_dir = TEST_HOOK.get("out_dir") or tempfile.mkdtemp(prefix="stream_out_")
        ckpt = TEST_HOOK.get("ckpt") or tempfile.mkdtemp(prefix="stream_ckpt_")
        keep_ckpt = "ckpt" in TEST_HOOK

    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if isinstance(write_batch, FileSink):
        writer = (
            writer.format("parquet")
            .option("path", out_dir)
            .partitionBy(*write_batch.partition_by)
        )
    else:
        write = write_batch or _overwrite_parquet

        def sink(bdf: DataFrame, bid: int) -> None:
            if bid == TEST_HOOK.get("fail_at_batch"):
                raise RuntimeError(f"injected sink failure at batch {bid}")
            write(bdf, bid, os.path.join(out_dir, f"batch-{bid:09d}"))

        writer = writer.foreachBatch(sink)

    conf = {
        "spark.sql.shuffle.partitions": str(instances),
        PROVIDER_KEY: TEST_HOOK.get("provider", ROCKSDB_PROVIDER),
        CHANGELOG_KEY: "true",
        # the sentinel-flushed staging runs its final flush in the
        # post-watermark no-data micro-batch (entries.read_events_stream_flushed)
        NO_DATA_KEY: "true",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        q = writer.start()
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"availableNow drain did not terminate within {TIMEOUT_S}s")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    global LAST_PROGRESS
    LAST_PROGRESS = [json.loads(p.json) for p in q.recentProgress]
    if not keep_ckpt:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out_dir


def state_rows_series(progress: list[dict] | None = None) -> list[dict]:
    """Summarize a drained query's per-batch state-store metrics: one
    dict per micro-batch with total state rows, rows updated/removed and
    rows dropped by the watermark, summed across stateful operators."""
    out = []
    for p in progress if progress is not None else LAST_PROGRESS:
        ops = p.get("stateOperators") or []
        out.append(
            {
                "batch": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "updated": sum(o.get("numRowsUpdated", 0) for o in ops),
                "removed": sum(o.get("numRowsRemoved", 0) for o in ops),
                "dropped_late": sum(
                    o.get("numRowsDroppedByWatermark", 0) for o in ops
                ),
            }
        )
    return out
