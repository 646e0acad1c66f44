"""Repeater fidelity twin — the reference's ``RepeatDoFn`` with EXACT
per-interval re-emission times (RepeatDoFn.scala:48-120, used by
AdEventFixedWindowWithRepeaterEnricher.scala to keep a slowly-changing
dimension "hot" inside every fixed window).

The data-equivalence replacement for the repeater is the time-range
stream-stream join (streaming/join_stream.py:2-18 — SURVEY §4 calls the
repeater unnecessary in Spark for ENRICHMENT, and the verdicts carried
that as a documented delta because the emission TIMES were not
reproduced). This module closes that delta: a keyed stateful operator
that reproduces the reference's emission schedule exactly, oracle-gated
per (key, emission_time, emitted element).

Reference semantics (RepeatDoFn.scala):

- per-key state: ``cache`` (last element written) + ``lastSeen`` (its
  timestamp) + one EVENT-TIME timer;
- processElement(t, e): if cache is EMPTY → emit (e, t) immediately and
  set the timer to t + interval; always cache = e, lastSeen = t (an
  element arriving while the chain is live does NOT emit and does NOT
  reset the timer grid — the next tick simply re-emits the newer
  element);
- onTimer(T): emit (cache, T) FIRST, then if T < lastSeen + ttl set the
  timer to T + interval else CLEAR the state (the death tick still
  emits); a later element finds the cache empty and starts a new chain
  anchored at its own timestamp.

Determinism contract (same as every order-sensitive corpus entry): the
replay delivers elements in (event_time, event_id) order — the staging
reader proves file order from parquet footer stats or falls back to a
single batch (streaming/entries.py:read_events_stream_flushed) — and a
timer at T fires after every element with ts <= T is processed. Under
that contract the whole schedule is a pure function of the data:

- chain anchors: the key's first element; then, after each chain death
  at tick D, the first element with ts > D;
- the tick grid of a chain anchored at a is a + k*interval (k >= 1);
- a chain dies at the FIRST grid point T with NO element in
  (T - ttl, T]  (equivalent to lastSeen + ttl <= T);
- tick T emits the element with max (ts, event_id) in [a, T].

The oracle below reproduces exactly this with a recursive CTE over
CHAINS (not ticks — chains per key are few) + a generate_series tick
expansion, so the streaming output is value-compared per emission row.

Scale notes (100 TB): one shuffle on the key into state-store
partitions; per-key state is FOUR SCALARS (next tick, cached element
id/ts/value) — the bounded-state discipline of RepeatDoFn.scala:52-58
— and eager in-order tick firing means the state never buffers
elements. Arrow-batched per key group; chains all die within ttl of
the last element, so the drain ends with zero state rows.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from example_beam_spark.registry import register

REPEAT_INTERVAL_SECS = 12 * 3600
REPEAT_TTL_SECS = 36 * 3600
_I_US = REPEAT_INTERVAL_SECS * 1_000_000
_TTL_US = REPEAT_TTL_SECS * 1_000_000

OUT_SCHEMA = (
    "user_id long, emit_ts timestamp, src_event_id long, src_ts timestamp, "
    "value double, kind string"
)
# next_tick: the scheduled timer; cache_*: the latest element (RepeatDoFn
# CacheKey + LastSeenKey collapsed — lastSeen IS cache_t)
STATE_SCHEMA = "next_tick long, cache_t long, cache_id long, cache_val double"


def _advance_user(rows, ent, wm_us: int, emit) -> tuple | None:
    """The RepeatDoFn state machine for ONE user, shared verbatim by the
    per-key and bucketed kernels: process ``rows`` (sorted (ts_us,
    event_id, value) triples), firing every grid point strictly before
    each element (final under in-order delivery — all later elements
    have ts >= t), then fire the grid points the watermark has passed
    (final even with no element behind them: elements with ts < wm
    would be late-dropped; a ts == wm straggler keeps the strict '<'
    honest). Returns the surviving state tuple or None (chain died)."""
    alive = ent is not None
    next_tick = cache_t = cache_id = cache_val = None
    if alive:
        next_tick, cache_t, cache_id, cache_val = ent

    for t, eid, val in rows:
        t, eid, val = int(t), int(eid), float(val)
        if alive:
            while next_tick < t:
                emit(next_tick, cache_t, cache_id, cache_val, "repeat")
                if next_tick < cache_t + _TTL_US:
                    next_tick += _I_US
                else:
                    alive = False  # death tick emitted, state cleared
                    break
        if not alive:
            emit(t, t, eid, val, "initial")
            next_tick = t + _I_US
            alive = True
        cache_t, cache_id, cache_val = t, eid, val

    if alive:
        while next_tick < wm_us:
            emit(next_tick, cache_t, cache_id, cache_val, "repeat")
            if next_tick < cache_t + _TTL_US:
                next_tick += _I_US
            else:
                alive = False
                break

    return (next_tick, cache_t, cache_id, cache_val) if alive else None


def _out_frame(out: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(
        out,
        columns=["user_id", "emit_us", "src_event_id", "src_us", "value", "kind"],
    )
    return pd.DataFrame(
        {
            "user_id": df["user_id"].astype("int64"),
            "emit_ts": pd.to_datetime(df["emit_us"], unit="us"),
            "src_event_id": df["src_event_id"].astype("int64"),
            "src_ts": pd.to_datetime(df["src_us"], unit="us"),
            "value": df["value"].astype("float64"),
            "kind": df["kind"],
        }
    )


def _repeat_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    out: list[tuple] = []

    def emit(emit_us: int, src_t: int, src_id: int, src_val: float, kind: str):
        out.append((user_id, emit_us, src_id, src_t, src_val, kind))

    rows: list[tuple[int, int, float]] = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ts_us = pdf["event_time"].astype("int64") // 1000
        rows += list(zip(ts_us, pdf["event_id"], pdf["value"]))
    rows.sort()

    wm_us = state.getCurrentWatermarkMs() * 1000
    ent = _advance_user(rows, state.get if state.exists else None, wm_us, emit)

    if ent is not None:
        state.update(ent)
        # fire when the watermark passes the tick; gsts requires the
        # timeout strictly above the current watermark (the documented
        # clamp) — an early ms-granularity firing just re-schedules
        state.setTimeoutTimestamp(
            max(ent[0] // 1000, state.getCurrentWatermarkMs() + 1)
        )
    elif state.exists:
        state.remove()

    if out:
        yield _out_frame(out)


def _repeat_bucketed_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Hash-bucketed twin of :func:`_repeat_fn` — many users per state
    group, one pickled dict user_id -> state tuple per bucket.

    Equivalence needs no per-user timer emulation: the per-user machine
    fires exactly the grid points the CURRENT watermark has passed and
    is a no-op otherwise, so running it for every bucket member on any
    invocation emits precisely what the per-key timers would have
    emitted in the same micro-batch (the watermark only changes between
    batches). The bucket timer is the min over members' next ticks, so
    the bucket is invoked in every batch where any member's per-key
    timer would have fired. Pinned by the same schedule tests and the
    recursive-CTE oracle as the per-key form."""
    import pickle

    st_map: dict = pickle.loads(state.get[0]) if state.exists else {}
    out: list[tuple] = []
    wm_us = state.getCurrentWatermarkMs() * 1000

    rows_by_user: dict[int, list] = {}
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ts_us = pdf["event_time"].astype("int64") // 1000
        for u, t, e, v in zip(
            pdf["user_id"], ts_us, pdf["event_id"], pdf["value"]
        ):
            rows_by_user.setdefault(int(u), []).append(
                (int(t), int(e), float(v))
            )

    for uid in sorted(set(st_map) | set(rows_by_user)):
        def emit(emit_us, src_t, src_id, src_val, kind, _uid=uid):
            out.append((_uid, emit_us, src_id, src_t, src_val, kind))

        rows = sorted(rows_by_user.get(uid, ()))
        ent = _advance_user(rows, st_map.get(uid), wm_us, emit)
        if ent is not None:
            st_map[uid] = ent
        elif uid in st_map:
            del st_map[uid]

    if st_map:
        state.update((pickle.dumps(st_map),))
        min_tick_ms = min(v[0] for v in st_map.values()) // 1000
        state.setTimeoutTimestamp(
            max(min_tick_ms, state.getCurrentWatermarkMs() + 1)
        )
    elif state.exists:
        state.remove()

    if out:
        yield _out_frame(out)


def repeat_latest_stream(elements: DataFrame, impl: str | None = None) -> DataFrame:
    """RepeatDoFn over a keyed element stream: ``elements`` needs
    (user_id, event_time, event_id, value) + a watermark.

    ``impl``: 'bucketed' (default — hash-bucketed state groups, ~8×
    fewer applyInPandasWithState dispatches and state rows, identical
    emissions; see _repeat_bucketed_fn) or 'gsts' (one state group per
    user). SPARK_GRAFT_STATEFUL_IMPL overrides, like the custom window."""
    import os

    impl = impl or os.environ.get("SPARK_GRAFT_STATEFUL_IMPL") or "bucketed"
    if impl in ("bucketed",):
        spark = elements.sparkSession
        n_buckets = int(
            os.environ.get(
                "EBS_REPEAT_BUCKETS",
                8 * spark.sparkContext.defaultParallelism,
            )
        )
        bucketed = elements.withColumn(
            "_bkt", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
        )
        return bucketed.groupBy("_bkt").applyInPandasWithState(
            _repeat_bucketed_fn,
            outputStructType=OUT_SCHEMA,
            stateStructType="pkl binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    return elements.groupBy("user_id").applyInPandasWithState(
        _repeat_fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_REPEAT_ORACLE = f"""
    WITH RECURSIVE
    ev AS (
        SELECT user_id, epoch_us(ts) AS et, event_id, value
        FROM events WHERE event_type = 'signup'
    ),
    ks AS (SELECT k FROM generate_series(1, 2000) AS g(k)),
    firsts AS (
        SELECT user_id, et, event_id FROM (
            SELECT user_id, et, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY et, event_id) AS rn
            FROM ev
        ) WHERE rn = 1
    ),
    chains(user_id, a_t, a_id, death) AS (
        SELECT user_id, et, event_id,
               (SELECT MIN(f.et + ks.k * {_I_US}) FROM ks
                WHERE NOT EXISTS (
                    SELECT 1 FROM ev e WHERE e.user_id = f.user_id
                      AND e.et > f.et + ks.k * {_I_US} - {_TTL_US}
                      AND e.et <= f.et + ks.k * {_I_US}))
        FROM firsts f
        UNION ALL
        SELECT c.user_id, nx.et, nx.event_id,
               (SELECT MIN(nx.et + ks.k * {_I_US}) FROM ks
                WHERE NOT EXISTS (
                    SELECT 1 FROM ev e WHERE e.user_id = c.user_id
                      AND e.et > nx.et + ks.k * {_I_US} - {_TTL_US}
                      AND e.et <= nx.et + ks.k * {_I_US}))
        FROM chains c
        JOIN LATERAL (
            SELECT e.et, e.event_id FROM ev e
            WHERE e.user_id = c.user_id AND e.et > c.death
            ORDER BY e.et, e.event_id LIMIT 1
        ) nx ON TRUE
    ),
    -- a chain alive past the ks grid would make its death subquery
    -- MIN over an empty set = NULL, silently dropping its ticks AND
    -- every successor chain (the recursive join e.et > c.death never
    -- matches NULL); fail LOUDLY instead — the grid is 2000 intervals,
    -- far past any fixture/lane chain lifetime (chains die within ttl
    -- of their last element)
    chains_ok AS (
        SELECT user_id, a_t, a_id,
               CASE WHEN death IS NULL THEN CAST(error(
                        'repeat oracle: chain alive past the 2000-interval '
                        || 'tick grid — raise the ks bound') AS BIGINT)
                    ELSE death END AS death
        FROM chains
    ),
    initials AS (
        SELECT c.user_id, c.a_t AS emit_us, e.event_id AS src_event_id,
               e.et AS src_us, e.value, 'initial' AS kind
        FROM chains_ok c JOIN ev e
          ON e.user_id = c.user_id AND e.event_id = c.a_id
    ),
    ticks AS (
        SELECT c.user_id, c.a_t, c.a_t + ks.k * {_I_US} AS tick_us
        FROM chains_ok c JOIN ks ON c.a_t + ks.k * {_I_US} <= c.death
    ),
    tick_src AS (
        SELECT user_id, tick_us AS emit_us, event_id AS src_event_id,
               et AS src_us, value, 'repeat' AS kind
        FROM (
            SELECT tk.user_id, tk.tick_us, e.event_id, e.et, e.value,
                   ROW_NUMBER() OVER (PARTITION BY tk.user_id, tk.tick_us
                                      ORDER BY e.et DESC, e.event_id DESC
                   ) AS rn
            FROM ticks tk JOIN ev e
              ON e.user_id = tk.user_id AND e.et >= tk.a_t
             AND e.et <= tk.tick_us
        ) WHERE rn = 1
    )
    SELECT user_id, make_timestamp(emit_us) AS emit_ts, src_event_id,
           make_timestamp(src_us) AS src_ts, value, kind
    FROM (SELECT * FROM initials UNION ALL SELECT * FROM tick_src)
"""


@register("enrich_repeat_stream", oracle=_REPEAT_ORACLE, headline=True)
def enrich_repeat_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RepeatDoFn fidelity twin as a REAL streaming job over the corpus's
    signup stream (key = user_id, interval 12 h, ttl 36 h — sparse
    enough that chains die and restart, exercising every branch of
    RepeatDoFn.scala:60-114): every initial AND per-interval re-emission
    with its exact emission timestamp, value-compared against the
    recursive chain oracle."""
    from example_beam_spark.streaming.drain import bounded_drain_instances
    from example_beam_spark.streaming.entries import (
        read_events_stream_flushed,
        run_to_append,
    )

    ev = read_events_stream_flushed(spark, sf_dir).withColumnRenamed(
        "ts", "event_time"
    )
    ev = ev.withWatermark("event_time", "1 hour")
    # drop sentinels AFTER the watermark node (unsplittable CASE predicate)
    elements = ev.filter(
        F.when(F.col("event_type") == "signup", F.col("event_time")).isNotNull()
    ).select("user_id", "event_time", "event_id", "value")
    # light Python-stateful drain (4 scalars/key, trivial kernel): store
    # machinery dominates like the JVM-stateful drains, and the r10
    # tuning matrix measured 8 store instances at 5.7 s vs 6.4 s at 32
    # (NOTES.md "repeat-stream drain sizing"; rows agree across all
    # cells) — unlike the heavy custom-window kernel, which needs all
    # cores
    return run_to_append(
        repeat_latest_stream(elements), spark,
        instances=bounded_drain_instances(spark),
    )
