"""Streaming twin of the first-order Markov transition matrix — the
O(1)-per-key state form.

Unlike the funnel (which must buffer each user's full funnel-event set
because the greedy chain is not incremental — see
``streaming/funnel_stream.py``), consecutive-pair extraction IS
incremental: the only state a user needs is their single LAST event.
Each micro-batch sorts the user's batch rows by (ts, event_id),
prepends the remembered last event, emits one (from_type, to_type) row
per consecutive pair, and stores the new last event — one state row per
user, EVER, no matter how many events flow (the bounded-state posture
the round-7 verdict asked to be measured, here by construction).

Convergence: exact under the one-batch drain (each user's whole
sequence is sorted within the batch) and under the time-ordered
multi-batch drain (tools/multibatch.py chunks are split on the global
(ts, event_id) sort, so per-user cross-batch order equals the batch
sort; the boundary pair is reconstructed from the last-event state).
Arrival order WITHIN a micro-batch is irrelevant (the batch is sorted);
only cross-batch disorder could reorder pairs, and the staged-order
gate (streaming/entries.py:_staged_files_time_ordered) guarantees
time-ordered batches whenever multi-file triggering is enabled.

100-TB design: one shuffle keyed by user_id into the StateStore
partitions; the append-mode sink writes transition PAIRS (row volume ==
event volume), and the final |types|^2 matrix is a partial+final
aggregate over the drained pairs. A production deployment would fold
the pair->matrix aggregation into a second streaming stage; here the
drain boundary keeps the entry one job.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "from_type string, to_type string"
STATE_SCHEMA = "last_us long, last_eid long, last_type string"


def markov_state_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    rows: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            rows.append(
                (int(pd.Timestamp(r.ts).value // 1000), int(r.event_id), r.event_type)
            )
    rows.sort()
    if state.exists:
        last_us, last_eid, last_type = state.get
        rows.insert(0, (last_us, last_eid, last_type))
    out_from = [a[2] for a in rows[:-1]]
    out_to = [b[2] for b in rows[1:]]
    if rows:
        state.update((rows[-1][0], rows[-1][1], rows[-1][2]))
    if out_from:
        yield pd.DataFrame({"from_type": out_from, "to_type": out_to})


def markov_pairs_stream(keyed: DataFrame) -> DataFrame:
    """Apply the last-event stateful pair extractor to a
    (user_id, ts, event_id, event_type) stream; appends one row per
    consecutive-event transition."""
    return keyed.groupBy("user_id").applyInPandasWithState(
        markov_state_fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# registered entry — gated by the SAME oracle as the batch twin
# --------------------------------------------------------------------------

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from example_beam_spark.operators.graphtext import _MARKOV_ORACLE
from example_beam_spark.registry import register


@register("events_markov_stream", oracle=_MARKOV_ORACLE)
def events_markov_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_markov_transitions on a REAL applyInPandasWithState
    stream: per-user last-event state (ONE row per user, ever — the
    O(1)-state posture, vs the funnel's buffered recompute) emits
    append-mode transition pairs; the drained pairs aggregate into the
    same matrix as the batch twin, gated by the SAME value oracle."""
    from example_beam_spark.streaming.entries import (
        keyed_drain_instances,
        read_events_stream,
        run_to_append,
    )

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    # light Python-stateful kernel (one row per user): store machinery
    # dominates, few instances win (r14 interleaved A/B,
    # OPTIMIZATION_r14.md §3: 2.9 s at 32 -> 2.6 s at 8). UNBOUNDED
    # per-user state, so the count derives from estimated key
    # cardinality (r15): the measured 8-instance floor at corpus scale,
    # growing with keys at production volume.
    pairs = run_to_append(
        markov_pairs_stream(ev), spark,
        instances=keyed_drain_instances(spark, sf_dir),
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    # window-sum row totals (see the batch twin: a groupBy + join-back
    # would re-execute the counting branch for the totals)
    from pyspark.sql import Window

    w_tot = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(w_tot).cast("long").alias("row_total"),
    ).withColumn("p", F.col("n") / F.col("row_total").cast("double"))
