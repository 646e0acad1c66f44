"""Streaming embedding near-duplicate detection — the streaming twin of
``embedding_neardup_pairs`` (operators/similarity.py): vectors ARRIVE as
a stream and each one is checked against the recent stream through the
same banded-LSH signature, keyed stateful buckets, and exact
quantized-cosine verify.

Semantics: a pair (a, b) is a STREAMING near-dup iff the two vectors
agree on at least one full r-bit band (identical signature scheme,
ladder, and hyperplanes as the batch operator), their exact quantized
cosine is >= NEARDUP_THRESHOLD, AND b arrived within
``NEARDUP_STREAM_TTL_ARRIVALS`` of a — the de-dup-against-the-recent-
stream shape of an ingestion pipeline (only pairs inside the TTL window
are ever comparable online; finding older duplicates is the batch
operator's job). Arrival time is derived deterministically from vec_id
(BASE + vec_id seconds), so the whole output is a pure function of the
corpus and the oracle is the batch oracle with one added co-occurrence
predicate.

Spark-first design (and the 100-TB story):

- the stream fans out through posexplode(band_keys_array(...)) with
  the batch plan's HOF-vs-Arrow-kernel crossover (pure-JVM literal-sign
  expressions at fixture scale, the bit-equal numpy kernel above 100k
  rows — 113.8 -> 25.9 s at the 200k lane);
- state is keyed by (band, bkey) — the LSH bucket IS the state key, so
  pairing work is shuffle-local per bucket exactly like the batch
  self-join, and a bucket's state holds ONLY (vec_id, ts) pairs inside
  the TTL window (ids + timestamps, never embeddings: state size is
  bounded by stream-rate x TTL / 2^r per bucket, independent of corpus
  size);
- the stateful kernel emits candidate ID pairs only; the exact-cosine
  verify joins embeddings back BATCH-side after the drain (per
  candidate, never per band-row) — the same verify-offline discipline
  as the batch operator's candidate/verify split.

Reference analog: stateful keyed buffering with bounded per-key state
is the LookupCacheDoFn discipline (LookupCacheDoFn.scala:190-210);
the banded-signature candidate/verify split cites the same public LSH
scheme as operators/similarity.py:296-316.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from example_beam_spark.operators.similarity import (
    NEARDUP_THRESHOLD,
    _NEARDUP_ORACLE,
    band_keys_array,
    dot_dec,
    neardup_band_bits,
    norm_dec,
)
from example_beam_spark.registry import register
from example_beam_spark.sources import load_table

# arrival clock: vec_id i arrives at BASE + i seconds (fixture epoch
# family; deterministic, so the schedule is a pure function of the data)
_BASE_TS_SECONDS = 1_704_067_200
_VEC_GAP_SECONDS = 1
# co-occurrence TTL, in arrivals (= seconds at the 1 s gap): a pair is
# only comparable online while both sit inside this window
NEARDUP_STREAM_TTL_ARRIVALS = 200
_TTL_US = NEARDUP_STREAM_TTL_ARRIVALS * _VEC_GAP_SECONDS * 1_000_000

# The oracle is the BATCH oracle with the co-occurrence predicate added
# to the candidate join (vec_id delta == arrival-time delta by
# construction). String-surgery on the imported SQL keeps the two
# oracles one source of truth; the anchor assert fails the import if
# the batch oracle's join shape ever changes.
_CAND_ANCHOR = "AND a.vec_id < b.vec_id"
assert _NEARDUP_ORACLE.count(_CAND_ANCHOR) == 1
_NEARDUP_STREAM_ORACLE = _NEARDUP_ORACLE.replace(
    _CAND_ANCHOR,
    _CAND_ANCHOR
    + f" AND b.vec_id - a.vec_id <= {NEARDUP_STREAM_TTL_ARRIVALS}",
)

# Staged-parquet cache, keyed by (path, chunking, source fingerprint):
# the fingerprint (per-member mtime_ns + size) makes an in-place
# regeneration of the embeddings table (lane reruns do this in
# long-lived processes) a cache MISS instead of a silent stale replay
# — the same freshness the entries.py symlink staging gets for free.
_STAGE_CACHE: dict[tuple, str] = {}


def _source_fingerprint(sf_dir: str) -> tuple:
    from example_beam_spark.sources.parquet import parquet_members, table_path

    return tuple(
        sorted(
            (os.path.basename(m), os.stat(m).st_mtime_ns, os.stat(m).st_size)
            for m in parquet_members(table_path(sf_dir, "embeddings"))
        )
    )

# EBS_VECTOR_CHUNKS > 1 stages the arrival stream as that many
# time-ordered files with maxFilesPerTrigger=1 — a REAL multi-batch
# schedule for the kill/resume and cross-batch suites (default 1: one
# deterministic micro-batch, the fast path for the oracle sweeps)
_VECTOR_CHUNKS_ENV = "EBS_VECTOR_CHUNKS"


def _vector_stream(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(streaming DataFrame of (vec_id, embedding, ts_us), n_rows).
    Stages the embeddings table ONCE per (sf_dir, chunking) as
    time-sorted parquet with the derived arrival clock."""
    import time

    n_chunks = max(1, int(os.environ.get(_VECTOR_CHUNKS_ENV, "1")))
    key = (os.path.abspath(sf_dir), n_chunks, _source_fingerprint(sf_dir))
    d = _STAGE_CACHE.get(key)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    stats = emb.agg(
        F.count("*").alias("n"), F.max("vec_id").alias("max_id")
    ).collect()[0]
    n_rows = stats["n"]
    # chunk bounds stride over the ID SPAN (max+1), not the row count —
    # with sparse or non-zero-based vec_ids a [0, n_rows) filter would
    # silently drop every id >= n_rows from the stream while the
    # single-chunk path kept it (the max+1 discipline of tools/corpora.py)
    id_span = int(stats["max_id"]) + 1 if stats["max_id"] is not None else 0
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="stream_src_embeddings_")
        staged = emb.withColumn(
            "ts_us",
            (
                F.lit(_BASE_TS_SECONDS * 1_000_000)
                + F.col("vec_id") * (_VEC_GAP_SECONDS * 1_000_000)
            ).cast("long"),
        )
        if n_chunks == 1:
            staged.coalesce(1).sortWithinPartitions("ts_us").write.mode(
                "overwrite"
            ).parquet(d)
        else:
            # vec_id ranges = time ranges (the clock is monotone in
            # vec_id); strictly increasing mtimes make the file source's
            # oldest-first order the arrival order
            bounds = [
                (id_span * i) // n_chunks for i in range(n_chunks + 1)
            ]
            now = time.time()
            for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                part_dir = os.path.join(d, f"_part{i}")
                staged.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                ).coalesce(1).sortWithinPartitions("ts_us").write.parquet(
                    part_dir
                )
                member = [
                    p
                    for p in os.listdir(part_dir)
                    if p.endswith(".parquet")
                ][0]
                f = os.path.join(d, f"chunk-{i:04d}.parquet")
                os.rename(os.path.join(part_dir, member), f)
                mt = now - 86400 + i * 10
                os.utime(f, (mt, mt))
        _STAGE_CACHE[key] = d
    reader = spark.readStream.schema(
        "vec_id long, embedding array<double>, ts_us long"
    )
    if n_chunks > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(d), n_rows


def _bucket_pairs_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-(band, bkey) bucket: emit (band, vec_a, vec_b) for every new
    arrival against the in-TTL members, then evict and append. State is
    the id/ts arrays of the current window (ids sorted by arrival —
    the clock is monotone in vec_id, so vec_a < vec_b always holds).

    Idle-bucket GC (round-11): member arrays are TTL-evicted on arrival,
    but a bucket that stops RECEIVING vectors would otherwise keep its
    last (ids, tss) arrays forever — state rows bounded only by
    4*2^r total buckets, not by the live window. Each update arms an
    event-time timer at newest-member ts + TTL (the LookupCacheDoFn
    GC-timer discipline, LookupCacheDoFn.scala:190-210, clamped above
    the watermark as Spark requires); when it fires, every member is
    already outside the TTL window of any future arrival, so the whole
    bucket row is removed — emitting nothing, hence the pair set is
    unchanged by GC (pinned by tests/test_neardup_stream.py)."""
    band = int(key[0])
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        ids, tss = list(state.get[0]), list(state.get[1])
    else:
        ids, tss = [], []

    rows: list[tuple[int, int]] = []
    for pdf in pdfs:
        rows += list(zip(pdf["vec_id"].astype("int64"), pdf["ts_us"].astype("int64")))
    rows.sort(key=lambda r: (r[1], r[0]))

    out_a: list[int] = []
    out_b: list[int] = []
    start = 0  # eviction pointer into the sorted window
    for vid, t in rows:
        vid, t = int(vid), int(t)
        while start < len(ids) and t - tss[start] > _TTL_US:
            start += 1
        if start:
            ids, tss = ids[start:], tss[start:]
            start = 0
        out_a += ids
        out_b += [vid] * len(ids)
        ids.append(vid)
        tss.append(t)

    state.update((ids, tss))
    if tss:
        state.setTimeoutTimestamp(
            max(
                tss[-1] // 1000 + _TTL_US // 1000 + 1,
                state.getCurrentWatermarkMs() + 1,
            )
        )
    if out_a:
        yield pd.DataFrame(
            {
                "band": pd.Series([band] * len(out_a), dtype="int64"),
                "vec_a": pd.Series(out_a, dtype="int64"),
                "vec_b": pd.Series(out_b, dtype="int64"),
            }
        )


def _apply_bucket_kernel(banded: DataFrame) -> DataFrame:
    """The production stateful stage: event-time watermark (the arrival
    clock) + per-(band, bkey) kernel with EventTimeTimeout so idle
    buckets are GC'd. Shared by the entry and the multi-batch /
    kill-resume test fixtures so every path runs the same conf."""
    return (
        banded.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .groupBy("band", "bkey")
        .applyInPandasWithState(
            _bucket_pairs_fn,
            outputStructType="band long, vec_a long, vec_b long",
            stateStructType="ids array<long>, tss array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


@register("embedding_neardup_stream", oracle=_NEARDUP_STREAM_ORACLE)
def embedding_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming banded-LSH near-dup pairs (module doc): candidate ID
    pairs from the keyed bucket stream, exact quantized-cosine verify
    batch-side on the drained candidates. Output matches the batch
    operator's (vec_a, vec_b, n_bands, cosine), restricted to pairs
    arriving within the TTL window."""
    from example_beam_spark.streaming.drain import bounded_drain_instances
    from example_beam_spark.streaming.entries import run_to_append

    stream, n_rows = _vector_stream(spark, sf_dir)
    r = neardup_band_bits(n_rows)
    # same HOF-vs-Arrow-kernel crossover as the batch plan (the kernel
    # works on streaming projections too; the 200k lane measured the
    # interpreted HOF at 113.8 s vs 25.9 s with the kernel)
    banded = stream.select(
        "vec_id",
        "ts_us",
        F.posexplode(band_keys_array(r, n_rows)).alias("band", "bkey"),
    )
    # the Python kernel is trivial (id/ts list appends), so store
    # machinery dominates, same profile as the repeat stream: few
    # instances win
    pairs = run_to_append(
        _apply_bucket_kernel(banded), spark,
        instances=bounded_drain_instances(spark),
    )
    agg = pairs.groupBy("vec_a", "vec_b").agg(
        F.count("*").cast("long").alias("n_bands")
    )
    # zero-norm vectors excluded like every batch path (their cosine is
    # undefined; the batch oracle carries the same nrm > 0 predicate,
    # which this stream's derived oracle inherits)
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm_dec("embedding").alias("nrm")
    ).filter(F.col("nrm") > 0)
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot_dec("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        agg.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", "n_bands", cos.alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
    )
