"""Multi-batch streaming convergence lane.

The corpus-scale stateful streaming entries (lookup-cache join, custom
merging window, stream-stream time-range join, sessionize) are
oracle-exact under the default drain because the whole events table
arrives as ONE data micro-batch (``streaming/entries.py`` documents this
precisely). This lane removes that simplification: it stages the events
table as ~N time-ordered single-file chunks, so the existing
``maxFilesPerTrigger=1`` staging makes every chunk its own micro-batch
and the WATERMARK ADVANCES BETWEEN DATA BATCHES — timers interleave with
data, state is evicted mid-stream, windows close while events still flow.

Every entry runs its drain through ``streaming/drain.py:drain()`` with
the entry's own state-store instance count; the lane only changes the
staged input. The per-batch state metrics it reports
(:func:`state_summary`) come from the progress that ``drain()``
captures for the last drain (``drain.state_rows_series``).

What each entry must show under the multi-batch drain:

- ``sessionize_events_stream``      → EXACT same oracle (proof: a session
  can only close once the watermark passes last_ts + gap, and any event
  that would extend it arrives — time-ordered chunks — while the
  watermark, which lags by the 1 h delay, is still below that point).
- ``enrich_stream_stream_join``     → EXACT same oracle (a matching view
  has view_ts ∈ [click_ts − TTL, click_ts]; it arrives in an earlier-or-
  same batch and is evicted only when watermark > view_ts + TTL >
  click_ts, while the click is processed at watermark < click_ts).
- ``lookup_cache_join_stream``      → DELTA, precisely bounded: a fact
  whose first at-or-after dim arrives MORE than TTL later may be flushed
  to the DLQ by the GC timer (max_seen + TTL) before that dim's batch is
  processed — the documented wall-clock-streaming behavior the one-batch
  drain could never exercise (LookupCacheDoFn.scala:190-210). Facts whose
  dim gap ≤ TTL (before or after) MUST still match exactly: the timer
  threshold is ≥ fact_ts + TTL and the dim's batch begins while the
  watermark (lagging 1 h) is still below it.
- ``events_funnel_stream``          → EXACT same oracle (the per-user
  chain is a pure function of the buffered funnel-event set — arrival
  order and batch boundaries cannot change it — and the drain keeps each
  user's LAST emission, whose batch saw the full buffer).
- ``ctr_custom_window_stream``      → DELTA by design: with the watermark
  advancing, a key's windows CLOSE mid-stream and later events open NEW
  windows — the TRUE merging-window semantics (the one-batch drain merges
  everything into one window per key). No closed form in SQL: the exact
  expectation comes from :func:`simulate_custom_window`, an independent
  driver-side replay of the batch/watermark/timer schedule.

Both simulators replay Spark's documented micro-batch semantics —
watermark(N) = max event-time ms over batches < N minus the delay,
data processed before the timeout pass, a timer firing only when
strictly below the watermark — against the SAME chunk boundaries the
streaming run sees. They are independent reimplementations driver-side
(plain dicts and loops, no Spark), so a scheduling bug in the streaming
operators cannot hide in both.

CLI: ``python tools/multibatch.py [--sf-dir /root/testdata/sf0.01]
[--chunks 20]`` runs all four entries and prints one JSON line per entry.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from example_beam_spark.schemas import TABLES
from example_beam_spark.sources.parquet import parquet_members, table_path

SENTINEL_SECONDS = 4102444800  # 2100-01-01, mirrors streaming/entries.py
WATERMARK_DELAY_MS = 3_600_000  # every corpus entry uses "1 hour"


# --------------------------------------------------------------------------
# chunked fixture
# --------------------------------------------------------------------------


def chunked_sf_dir(sf_dir: str, out_dir: str, n_chunks: int) -> str:
    """Derived fixture dir: identical rows to ``sf_dir``, but the events
    table is a DIRECTORY of ``n_chunks`` time-ordered single parquet
    files with strictly increasing mtimes (the streaming file source
    picks files oldest-mtime-first, name-ascending on ties, so batch
    order == time order). Other tables are symlinked. DuckDB oracles can
    keep running against the ORIGINAL ``sf_dir`` — same rows."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        if name == "events":
            continue
        src, dst = table_path(sf_dir, name), table_path(out_dir, name)
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    ev_dir = table_path(out_dir, "events")
    os.makedirs(ev_dir, exist_ok=True)
    t = pq.read_table(parquet_members(table_path(sf_dir, "events")))
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    n = t.num_rows
    base, rem = divmod(n, n_chunks)
    now = time.time()
    start = 0
    for i in range(n_chunks):
        length = base + (1 if i < rem else 0)
        f = os.path.join(ev_dir, f"chunk-{i:04d}.parquet")
        pq.write_table(t.slice(start, length), f)
        mt = now - 86400 + i * 10  # strictly increasing, all before "now"
        os.utime(f, (mt, mt))
        start += length
    assert start == n
    return out_dir


def event_batches(derived_dir: str) -> list[list[dict]]:
    """The exact batch schedule the streaming run sees: one list of row
    dicts per chunk file (within-batch order irrelevant — the stateful
    fns sort), followed by the two sentinel batches the flushed staging
    appends (streaming/entries.py:read_events_stream_flushed)."""
    batches = []
    for member in parquet_members(table_path(derived_dir, "events")):
        batches.append(pq.read_table(member).to_pylist())
    for i in (0, 1):
        ts = pd.Timestamp((SENTINEL_SECONDS + i) * 1_000_000_000)
        batches.append(
            [
                {
                    "event_id": -1 - i,
                    "ts": ts.to_pydatetime(),
                    "user_id": -1,
                    "event_type": "__sentinel__",
                    "value": 0.0,
                    "props": None,
                }
            ]
        )
    return batches


def _row_ms(ts) -> int:
    """Per-row event-time contribution to the watermark: Spark's
    EventTimeWatermarkExec tracks max(eventTime µs // 1000)."""
    return int(pd.Timestamp(ts).value // 1_000_000)


def _pd_ms(ts) -> int:
    """Mirror of the stateful fns' `int(ts.timestamp() * 1000)` (same
    float path, so any truncation quirk is shared bit-for-bit)."""
    return int(pd.Timestamp(ts).timestamp() * 1000)


# --------------------------------------------------------------------------
# simulator: lookup-cache join (streaming/lookup_cache.py schedule replay)
# --------------------------------------------------------------------------


def simulate_lookup_cache(
    batches: list[list[dict]], ttl_seconds: int = 24 * 3600
) -> list[tuple]:
    """Driver-side replay of the lookup-cache join under the given batch
    schedule. Returns rows as tuples matching the entry's output columns
    (key, fact_id, fact_time, dim_version, dim_time, match_status)."""
    ttl = pd.Timedelta(seconds=ttl_seconds)
    out: list[tuple] = []
    # key -> [dim_version, dim_time, buf(list of (fact_id, fact_time)), max_seen, timer_ms]
    state: dict[str, list] = {}
    wm = 0
    for rows in batches:
        data: dict[str, list[tuple]] = {}
        for r in rows:
            if r["event_type"] not in ("click", "signup"):
                continue
            key = str(r["user_id"])
            kind = 1 if r["event_type"] == "signup" else 0  # KIND_DIM / KIND_FACT
            data.setdefault(key, []).append(
                (pd.Timestamp(r["ts"]), kind, str(r["event_id"]))
            )
        # data pass (before the timeout pass, as in FlatMapGroupsWithState)
        for key, krows in data.items():
            st = state.get(key) or [None, None, [], None, None]
            dim_version, dim_time, buf, max_seen, _ = st
            krows.sort()  # (event_time, kind, payload) — facts before dims on ties
            for ts, kind, payload in krows:
                max_seen = ts if max_seen is None or ts > max_seen else max_seen
                if kind == 1:  # dim
                    if (
                        dim_time is None
                        or ts > dim_time
                        or (ts == dim_time and payload > str(dim_version))
                    ):
                        dim_version, dim_time = payload, ts
                    for fid, fts in buf:
                        out.append((key, fid, fts, dim_version, dim_time, "matched"))
                    buf = []
                else:  # fact
                    if dim_time is not None and (ts - dim_time) <= ttl:
                        out.append((key, payload, ts, dim_version, dim_time, "matched"))
                    else:
                        buf.append((payload, ts))
            timer = max(_pd_ms(max_seen + ttl), wm + 1)
            state[key] = [dim_version, dim_time, buf, max_seen, timer]
        # timeout pass: GC timer strictly below the watermark fires
        for key in [k for k, st in state.items() if st[4] < wm]:
            for fid, fts in state[key][2]:
                out.append((key, fid, fts, None, None, "dlq"))
            del state[key]
        if rows:
            wm = max(wm, max(_row_ms(r["ts"]) for r in rows) - WATERMARK_DELAY_MS)
    # availableNow's trailing watermark-advance batches: the sentinels put
    # the watermark past every remaining timer, so all residual state GCs
    for key, st in state.items():
        for fid, fts in st[2]:
            out.append((key, fid, fts, None, None, "dlq"))
    return out


# --------------------------------------------------------------------------
# simulator: custom merging ad-event window (streaming/custom_window.py)
# --------------------------------------------------------------------------


def simulate_custom_window(
    batches: list[list[dict]],
    impression_secs: int = 600,
    click_secs: int = 60,
) -> list[tuple]:
    """Driver-side replay of the custom merging window (lateness 0) under
    the given batch schedule. Returns (screen_id, ad_id, clicks,
    impressions, ctr, window_start, window_end) tuples — one per closed
    window, i.e. the TRUE multi-window-per-key semantics."""
    out: list[tuple] = []
    # (screen, ad) -> [w_start, w_end, n_clicks, n_imps, has_click, timer_ms]
    state: dict[tuple, list] = {}
    wm = 0
    for rows in batches:
        data: dict[tuple, list[tuple]] = {}
        for r in rows:
            if r["event_type"] not in ("click", "view"):
                continue
            props = r["props"]
            k = json.loads(props).get("k") if props else None
            key = (str(r["user_id"]), None if k is None else str(k))
            action = "click" if r["event_type"] == "click" else "impression"
            data.setdefault(key, []).append((pd.Timestamp(r["ts"]), action))
        for key, krows in data.items():
            st = state.get(key)
            krows.sort()  # (event_time, action): 'click' < 'impression'
            for ts, action in krows:
                is_click = action == "click"
                s = ts
                e = ts + pd.Timedelta(seconds=click_secs if is_click else impression_secs)
                if st is None:
                    st = [s, e, int(is_click), int(not is_click), is_click, None]
                else:
                    w_start, w_end, n_clicks, n_imps, has_click, _ = st
                    if has_click or is_click:
                        new_end = max(w_start, s)  # click pins end to latest start
                    else:
                        new_end = max(w_end, e)
                    st = [
                        min(w_start, s),
                        new_end,
                        n_clicks + int(is_click),
                        n_imps + int(not is_click),
                        has_click or is_click,
                        None,
                    ]
            st[5] = max(_pd_ms(st[1]) - 1, wm + 1)
            state[key] = st
        for key in [k for k, st in state.items() if st[5] < wm]:
            out.append(_emit(key, state.pop(key)))
        if rows:
            wm = max(wm, max(_row_ms(r["ts"]) for r in rows) - WATERMARK_DELAY_MS)
    for key, st in state.items():  # sentinel-driven final closes
        out.append(_emit(key, st))
    return out


def _emit(key: tuple, st: list) -> tuple:
    clicks, imps = min(1, st[2]), min(1, st[3])
    return (
        key[0],
        key[1],
        clicks,
        imps,
        (clicks / imps) if imps > 0 else None,
        st[0].to_pydatetime(),
        st[1].to_pydatetime(),
    )


# --------------------------------------------------------------------------
# comparison helpers
# --------------------------------------------------------------------------


def canon(rows) -> list[tuple]:
    """Order-insensitive canonical form (timestamps → isoformat, floats
    → repr at full precision; both engines compute the same small-int
    ratios so floats agree bit-for-bit)."""

    def norm(v):
        import decimal

        if v is None or (isinstance(v, float) and pd.isna(v)):
            return ("null",)
        if hasattr(v, "isoformat"):
            return ("t", pd.Timestamp(v).tz_localize(None).isoformat())
        if isinstance(v, decimal.Decimal):  # DuckDB literals (e.g. 0.95)
            v = float(v)
        if isinstance(v, float):
            return ("f", repr(v))
        return (type(v).__name__, str(v))

    return sorted(tuple(norm(v) for v in r) for r in rows)


def state_summary() -> dict:
    """Per-batch state-store metrics of the LAST drained query
    (streaming/drain.py:LAST_PROGRESS), compressed to the numbers the
    bounded-state claims need: peak vs final total state rows (eviction
    = final well below peak), total rows removed by state GC, and rows
    dropped as late by the watermark (must stay 0 on the time-ordered
    chunk schedule). `state_series` keeps the full per-batch trace."""
    from example_beam_spark.streaming.drain import state_rows_series

    series = state_rows_series()
    if not series:
        return {}
    rows = [s["state_rows"] for s in series]
    return {
        "state_peak": max(rows),
        "state_final": rows[-1],
        "state_removed_total": sum(s["removed"] for s in series),
        "state_dropped_late_total": sum(s["dropped_late"] for s in series),
        "state_series": rows,
    }


# Entries beyond the original five whose multi-batch drain must be
# EXACTLY the registered oracle, with the one-line proof of why batching
# cannot change them (order-insensitive state, time-ordered arrival):
#
# - ctr_fixed_capped_stream / ctr_sliding_total_stream: pure windowed
#   semigroup aggregates; time-ordered chunks mean a window only stops
#   receiving rows after the watermark (lagging 1 h) passes it — no row
#   is ever late, and run_to_final keeps each key's last (complete)
#   accumulation.
# - dedup_stream_distinct: dropDuplicates carries NO watermark — state
#   only grows, so the batch boundaries are invisible to the result.
# - dedup_stream_within_watermark: duplicates share an hour_bucket; all
#   rows of bucket B arrive while max_ts <= B+1h, so the watermark
#   (max_ts - 2h <= B - 1h) is still below B and B's dedup state is
#   live — every duplicate is seen while its first occurrence is
#   retained.
# - hll_distinct_users_stream / value_quantile_histogram_stream:
#   register-wise max / counter merges — commutative and associative,
#   so any batching yields the same final sketch.
# - events_weekly_drift_stream: weekly counts are windowed sums (the
#   ctr argument), and the drift comparison runs on the drained finals.
# - events_markov_stream: per-user LAST-EVENT state reconstructs the
#   one cross-batch boundary pair; chunks are split on the global
#   (ts, event_id) sort, so per-user cross-batch order equals the batch
#   sort and every consecutive pair is emitted exactly once. Its state
#   is ONE row per user ever (NoTimeout, no eviction): peak == final ==
#   distinct users — the O(1)-state posture measured, not argued.
# - events_cusum_stream: the (R, minR) carry is a pure function of the
#   per-key (ts, event_id)-ordered prefix, which time-ordered chunks
#   preserve across batches (the markov argument); arithmetic is exact
#   integer micro-units, so no accumulation drift either. State is one
#   row per event TYPE ever (5 rows at any SF).
# - enrich_repeat_stream: the emission schedule is a pure function of
#   the per-key (ts, event_id)-ordered element sequence (chain anchors,
#   tick grid, deaths — streaming/repeat_stream.py's determinism
#   contract). Time-ordered chunks preserve that order; in-batch ticks
#   fire eagerly (final under in-order delivery) and tail ticks fire on
#   the event-time timeout as the watermark advances between batches —
#   neither depends on WHERE the batch boundaries fall. State is four
#   scalars per live chain, and every chain dies within ttl of its last
#   element, so the drain ends at zero state rows.
# - kmv_distinct_users_stream (round 11): per-bucket bottom-k arrays
#   are order- and batching-insensitive (a growing set's k smallest
#   don't depend on arrival grouping), and every emitted hash is a real
#   distinct-user hash, so the batch-side distinct-order-limit merge
#   recovers the global bottom-k from any batching. State <= 16 rows.
# - events_topk_types_stream (round 11): per-(window, type) COUNTs are
#   windowed sums (the ctr argument); time-ordered chunks never drop
#   rows as late, and the rank cut runs batch-side on the drained
#   finals.
EXACT_EXTRA_ENTRIES = [
    "ctr_fixed_capped_stream",
    "ctr_sliding_total_stream",
    "dedup_stream_distinct",
    "dedup_stream_within_watermark",
    "hll_distinct_users_stream",
    "value_quantile_histogram_stream",
    "events_weekly_drift_stream",
    "events_markov_stream",
    "events_cusum_stream",
    "enrich_repeat_stream",
    # round 11
    "kmv_distinct_users_stream",
    "events_topk_types_stream",
]


def run_lane(sf_dir: str, n_chunks: int, spark) -> list[dict]:
    """Run all four stateful entries on the chunked fixture; return one
    result dict per entry (also printed as JSON lines by the CLI)."""
    import tempfile

    from example_beam_spark.registry import load_registry
    from tests.oracle import run_oracle

    derived = chunked_sf_dir(
        sf_dir, tempfile.mkdtemp(prefix="multibatch_sf_"), n_chunks
    )
    batches = event_batches(derived)
    reg = load_registry()
    results = []

    def report(name, spark_rows, expect_rows, extra=None):
        got, want = canon(spark_rows), canon(expect_rows)
        r = {
            "entry": name,
            "chunks": n_chunks,
            "rows": len(got),
            "match": got == want,
            **(extra or {}),
            **state_summary(),
        }
        if not r["match"]:
            diffs = [(a, b) for a, b in zip(got, want) if a != b]
            r["first_diff"] = repr(diffs[:2]) if diffs else "row-count/set diff"
        results.append(r)
        return r

    # 1) sessionize — exact oracle convergence
    t0 = time.time()
    df = reg["sessionize_events_stream"].fn(spark, derived)
    rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
    cols, orc = run_oracle(reg["sessionize_events_stream"].oracle, sf_dir)
    orc_rows = _project(cols, orc)
    report("sessionize_events_stream", rows, orc_rows, {"sec": round(time.time() - t0, 1)})

    # 2) stream-stream join — exact oracle convergence
    t0 = time.time()
    df = reg["enrich_stream_stream_join"].fn(spark, derived)
    rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
    cols, orc = run_oracle(reg["enrich_stream_stream_join"].oracle, sf_dir)
    report(
        "enrich_stream_stream_join",
        rows,
        _project(cols, orc),
        {"sec": round(time.time() - t0, 1)},
    )

    # 2b) stream-stream join DLQ fork — exact oracle convergence on BOTH
    #     sides (matched + watermark-expired dlq rows emitted live as the
    #     watermark advances between data batches)
    t0 = time.time()
    df = reg["enrich_stream_join_dlq"].fn(spark, derived)
    rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
    cols, orc = run_oracle(reg["enrich_stream_join_dlq"].oracle, sf_dir)
    r = report(
        "enrich_stream_join_dlq",
        rows,
        _project(cols, orc),
        {"sec": round(time.time() - t0, 1)},
    )
    side_ix = sorted(df.columns).index("side")
    r["dlq_rows"] = sum(1 for t in rows if t[side_ix] == "dlq")
    r["matched_rows"] = sum(1 for t in rows if t[side_ix] == "matched")

    # 3) lookup-cache join — simulator-exact + bounded delta vs the
    #    converged oracle
    t0 = time.time()
    df = reg["lookup_cache_join_stream"].fn(spark, derived)
    order = ["key", "fact_id", "fact_time", "dim_version", "dim_time", "match_status"]
    rows = [tuple(r) for r in df.select(order).collect()]
    sim = simulate_lookup_cache(batches)
    r = report("lookup_cache_join_stream", rows, sim, {"sec": round(time.time() - t0, 1)})
    r.update(lookup_delta_vs_converged_oracle(rows, reg, sf_dir))

    # 4) funnel — exact oracle convergence: the per-user chain is a pure
    #    function of the buffered event set, and run_to_final takes each
    #    user's LAST emission (their final batch carries the full buffer)
    t0 = time.time()
    df = reg["events_funnel_stream"].fn(spark, derived)
    rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
    cols, orc = run_oracle(reg["events_funnel_stream"].oracle, sf_dir)
    report(
        "events_funnel_stream",
        rows,
        _project(cols, orc),
        {"sec": round(time.time() - t0, 1)},
    )

    # 5) custom window — simulator-exact; delta vs converged oracle is
    #    the window count (multi-window keys)
    t0 = time.time()
    df = reg["ctr_custom_window_stream"].fn(spark, derived)
    order = ["screen_id", "ad_id", "clicks", "impressions", "ctr", "window_start", "window_end"]
    rows = [tuple(r) for r in df.select(order).collect()]
    sim = simulate_custom_window(batches)
    cols, orc = run_oracle(reg["ctr_custom_window_stream"].oracle, sf_dir)
    report(
        "ctr_custom_window_stream",
        rows,
        sim,
        {
            "sec": round(time.time() - t0, 1),
            "windows": len(rows),
            "converged_oracle_windows": len(orc),
            "extra_windows_vs_converged": len(rows) - len(orc),
        },
    )

    # 6..12) the order-insensitive stateful streams — exact convergence
    # to the registered oracle under the same chunked drain (proofs in
    # the EXACT_EXTRA_ENTRIES comment above)
    for name in EXACT_EXTRA_ENTRIES:
        t0 = time.time()
        df = reg[name].fn(spark, derived)
        rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
        cols, orc = run_oracle(reg[name].oracle, sf_dir)
        report(name, rows, _project(cols, orc), {"sec": round(time.time() - t0, 1)})
    return results


def _project(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Reorder oracle rows into sorted-column order (matching the Spark
    side's `.select(sorted(columns))`)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in idx) for r in rows]


def lookup_delta_vs_converged_oracle(rows, reg, sf_dir) -> dict:
    """Classify the multi-batch result against the converged (one-batch)
    oracle: every differing fact must be in the documented delta class —
    oracle matched it to a dim arriving MORE than TTL after the fact;
    multi-batch DLQ'd it first (GC timer). Returns counts; raises on any
    out-of-class difference."""
    from tests.oracle import run_oracle

    cols, orc = run_oracle(reg["lookup_cache_join_stream"].oracle, sf_dir)
    ci = {c: i for i, c in enumerate(cols)}
    ttl = pd.Timedelta(seconds=24 * 3600)
    got = {r[1]: r for r in rows}  # fact_id -> row
    assert len(got) == len(rows), "duplicate fact emission under multi-batch"
    n_flipped = 0
    for o in orc:
        fid = o[ci["fact_id"]]
        g = got.pop(fid)
        same = canon([g]) == canon(
            [tuple(o[ci[c]] for c in ["key", "fact_id", "fact_time", "dim_version", "dim_time", "match_status"])]
        )
        if same:
            continue
        # allowed flip: oracle matched an AFTER-dim with gap > TTL;
        # multi-batch DLQ'd the fact before that dim arrived
        dim_time = o[ci["dim_time"]]
        fact_time = o[ci["fact_time"]]
        in_class = (
            o[ci["match_status"]] == "matched"
            and dim_time is not None
            and pd.Timestamp(dim_time) - pd.Timestamp(fact_time) > ttl
            and g[5] == "dlq"
        )
        assert in_class, f"out-of-class multi-batch difference: got={g} oracle={o}"
        n_flipped += 1
    assert not got, f"facts missing from oracle: {list(got)[:3]}"
    return {"oracle_rows": len(orc), "dlq_flips_gap_gt_ttl": n_flipped}


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--chunks", type=int, default=20)
    args = ap.parse_args()

    from example_beam_spark.session import get_spark

    spark = get_spark()
    lane = run_lane(args.sf_dir, args.chunks, spark)
    for r in lane:
        print(json.dumps(r))
    sys.exit(0 if all(r["match"] for r in lane) else 1)
