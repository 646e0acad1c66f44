"""Round-11 training-preparation tail: the remaining data-pipeline moves
between a cleaned corpus and a training run.

- ``ann_range_search`` — cosine-THRESHOLD retrieval (all matches above
  a similarity floor, vs the top-k family's fixed k): the retrieval
  shape of contrastive-pair mining and duplicate sweeps where the
  match-count per query is unknown a priori.
- ``ann_hard_negatives`` — hard-negative mining for contrastive
  training: per query, the most-similar vectors with a DIFFERENT label
  (the near-miss negatives that make embedding training converge;
  cf. the in-batch/hard-negative discipline of DPR, Karpukhin 2020).
- ``tokenizer_fertility_by_lang`` — tokens/word and chars/token per
  language: the standard tokenizer-efficiency audit run before fixing
  a vocabulary (fertility >> 1 languages pay more sequence length for
  the same text).
- ``docs_domain_mix_weights`` — temperature-flattened source-mixture
  weights (alpha = 0.5 via SQRT, chosen because sqrt is correctly-
  rounded IEEE in both engines while pow() is not): the sampling-weight
  manifest of a multi-source pretraining mix (cf. the alpha-scaled
  language sampling of multilingual pretraining, Conneau & Lample 2019).
- ``events_next_event_examples`` — (context -> next event) training
  examples from behavioral streams: per (user, day), each event with
  its three predecessors — the sequence-model example generator.
- ``cms_token_counts_stream`` — the Count-Min sketch as STREAMING
  state: d*w counter cells keyed by (row, counter), update-mode — the
  same bounded-state discipline as hll_distinct_users_stream; the
  batch CMS oracle gates it unchanged (cell counts are order- and
  batch-boundary-insensitive sums).

Reference analog: these extend the reference's aggregation surface
(SumByKey/semigroup discipline, AdCtrFixedWindowCalculator.scala:38)
to the training-data domain; none exist in the reference — they are
the "operations a large-scale training-data pipeline would need"
extension family (SURVEY.md north star), all DuckDB-oracle-gated.

Float determinism: every compared double is either an exact integer
count cast once, a single division of two exact values, or a
correctly-rounded SQRT — the registry.py decimal/quantization rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from example_beam_spark.operators.similarity import (
    _ELEMS_SQL,
    _NORMS_SQL,
    _SCALE,
    N_QUERIES,
    dot_dec,
    norm_dec,
)
from example_beam_spark.operators.textops import _BPE_PATTERN
from example_beam_spark.registry import register
from example_beam_spark.sources import load_table, spread_small_input

# --------------------------------------------------------------------------
# ann_range_search — threshold retrieval (exact twin)
# --------------------------------------------------------------------------

RANGE_THRESHOLD = 0.2

_RANGE_ORACLE = f"""
    WITH elems AS ({_ELEMS_SQL}),
    norms AS ({_NORMS_SQL}),
    dots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE} AS dot
        FROM elems q JOIN elems d ON q.i = d.i AND q.vec_id <> d.vec_id
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, d.vec_id
    )
    SELECT t.query_id, t.neighbor_id,
           t.dot / (nq.nrm * nd.nrm) AS cosine
    FROM dots t
    JOIN norms nq ON nq.vec_id = t.query_id
    JOIN norms nd ON nd.vec_id = t.neighbor_id
    WHERE t.dot / (nq.nrm * nd.nrm) >= {RANGE_THRESHOLD}
"""


@register("ann_range_search", oracle=_RANGE_ORACLE)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All corpus vectors with cosine >= RANGE_THRESHOLD per query
    (vec_id < N_QUERIES) — the unknown-result-size retrieval shape.
    Exact scan: broadcast query set, one zip_with/aggregate dot per
    (query, corpus) row, map-side filter — no shuffle at all (the
    threshold prunes before anything aggregates; the top-k family needs
    a per-query rank, this doesn't). 100-TB path: identical plan with
    the banded-LSH prefilter of embedding_neardup_pairs replacing the
    full scan (candidates = band-key equality), verified by this exact
    expression; the full scan here IS the oracle twin, the same
    division of labor as ann_topk_bruteforce vs ann_topk_lsh."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    base = emb.select("vec_id", "embedding", norm_dec("embedding").alias("nrm"))
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    cos = dot_dec("emb_q", "embedding") / (F.col("nrm_q") * F.col("nrm"))
    return (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_THRESHOLD)
    )


# --------------------------------------------------------------------------
# ann_hard_negatives — contrastive hard-negative mining
# --------------------------------------------------------------------------

NEG_K = 5

_HARDNEG_ORACLE = f"""
    WITH elems AS ({_ELEMS_SQL}),
    norms AS ({_NORMS_SQL}),
    dots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE} AS dot
        FROM elems q JOIN elems d ON q.i = d.i AND q.vec_id <> d.vec_id
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, d.vec_id
    ),
    scored AS (
        SELECT t.query_id, lq.label AS query_label,
               t.neighbor_id, ln.label AS neighbor_label,
               t.dot / (nq.nrm * nd.nrm) AS cosine
        FROM dots t
        JOIN norms nq ON nq.vec_id = t.query_id
        JOIN norms nd ON nd.vec_id = t.neighbor_id
        JOIN embeddings lq ON lq.vec_id = t.query_id
        JOIN embeddings ln ON ln.vec_id = t.neighbor_id
        WHERE lq.label <> ln.label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rk
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS BIGINT) AS rk
        FROM scored
    ) WHERE rk <= {NEG_K}
"""


@register("ann_hard_negatives", oracle=_HARDNEG_ORACLE)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query (vec_id < N_QUERIES): the NEG_K most-similar vectors
    whose LABEL differs — the near-miss negatives of contrastive
    training (DPR-style hard-negative mining). Broadcast query set,
    map-side label-mismatch filter, then a rank window whose partition
    count equals the query count (each group is one query's candidate
    list — at 100 TB the candidate list comes from the IVF/LSH
    prefilter, so the group is already top-candidates-sized, not
    corpus-sized; the full scan here is the exact oracle twin)."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    base = emb.select(
        "vec_id", "embedding", "label", norm_dec("embedding").alias("nrm")
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    cos = dot_dec("emb_q", "embedding") / (F.col("nrm_q") * F.col("nrm"))
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= NEG_K)


# --------------------------------------------------------------------------
# tokenizer_fertility_by_lang — tokenizer-efficiency audit
# --------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '{{bpe}}')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_tokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
               AS fertility,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
               AS chars_per_token
    FROM per_doc GROUP BY lang
"""


@register(
    "tokenizer_fertility_by_lang",
    oracle=_FERTILITY_ORACLE.format(bpe=_BPE_PATTERN),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word (fertility) and chars-per-token per language —
    the audit run before freezing a tokenizer (high-fertility languages
    pay more context length for the same text; cf. the fertility metric
    of multilingual tokenizer studies, e.g. Rust 2021 "How Good is Your
    Tokenizer?"). Pure map-side expressions into a partial+final
    aggregate keyed by lang — one bounded-cardinality shuffle; ratios
    are single divisions of exact integer sums (engine-identical)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)"))
        .cast("long")
        .alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
            "fertility"
        ),
        (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")).alias(
            "chars_per_token"
        ),
    )


# --------------------------------------------------------------------------
# docs_domain_mix_weights — temperature-flattened source mixture
# --------------------------------------------------------------------------
# alpha = 0.5 (sqrt flattening) ON PURPOSE: sqrt is correctly-rounded
# IEEE in both engines, pow() is not — the same reasoning that keeps
# every compared float on the registry's exact-op whitelist. The raw
# weight is quantized FLOOR(sqrt(share)*1e12) (exact in both engines)
# so the normalizing sum is an exact integer sum, order-independent.

_MIX_ORACLE = f"""
    WITH per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '{{bpe}}'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM per_source),
    wq AS (
        SELECT s.source, s.n_docs, s.n_tokens,
               CAST(s.n_tokens AS DOUBLE) / CAST(t.t AS DOUBLE) AS token_share,
               CAST(FLOOR(SQRT(CAST(s.n_tokens AS DOUBLE) / CAST(t.t AS DOUBLE))
                          * {_SCALE}) AS BIGINT) AS w_q
        FROM per_source s CROSS JOIN tot t
    ),
    wtot AS (SELECT SUM(w_q) AS wt FROM wq)
    SELECT w.source, w.n_docs, w.n_tokens, w.token_share,
           CAST(w.w_q AS DOUBLE) / CAST(t.wt AS DOUBLE) AS weight
    FROM wq w CROSS JOIN wtot t
"""


@register("docs_domain_mix_weights", oracle=_MIX_ORACLE.format(bpe=_BPE_PATTERN))
def docs_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for a temperature-flattened training
    mix (alpha = 0.5: weight ∝ sqrt(token share), renormalized — the
    flattening that up-samples small sources, cf. multilingual
    pretraining's alpha-scaled sampling). One partial+final aggregate
    keyed by source (bounded cardinality), then two 1-row global sums
    broadcast back onto the summary — no per-document data ever leaves
    the map side twice."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")).cast(
        "long"
    )
    per_source = docs.select("source", n_tok.alias("nt")).groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(F.sum("n_tokens").alias("t"))
    share = F.col("n_tokens").cast("double") / F.col("t").cast("double")
    wq = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.floor(F.sqrt(share) * F.lit(float(_SCALE.rstrip("D"))))
        .cast("long")
        .alias("w_q"),
    )
    wtot = wq.agg(F.sum("w_q").alias("wt"))
    return wq.crossJoin(F.broadcast(wtot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        (F.col("w_q").cast("double") / F.col("wt").cast("double")).alias("weight"),
    )


# --------------------------------------------------------------------------
# events_next_event_examples — sequence-model training examples
# --------------------------------------------------------------------------
# Context windows reset at DAY boundaries by design: the window key is
# (user_id, day), so the biggest window group is one user-day — the
# skew-bounded form of the per-user window (a zipf head user's history
# splits across days instead of serializing in one task; the same
# hazard class sessionize_events_auto dispatches around).

_NEXT_EVENT_ORACLE = """
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS step,
           LAG(event_type, 3) OVER w AS ctx1,
           LAG(event_type, 2) OVER w AS ctx2,
           LAG(event_type, 1) OVER w AS ctx3,
           event_type AS label
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts, event_id)
"""


@register("events_next_event_examples", oracle=_NEXT_EVENT_ORACLE)
def events_next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(3-event context -> next event) training examples per (user,
    day): the example generator for next-action sequence models. One
    window shuffle keyed by (user_id, day); lag contexts are NULL at
    the day start (the model's begin-of-sequence), matching SQL LAG."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .select(
            "user_id",
            "day",
            F.row_number().over(w).cast("long").alias("step"),
            F.lag("event_type", 3).over(w).alias("ctx1"),
            F.lag("event_type", 2).over(w).alias("ctx2"),
            F.lag("event_type", 1).over(w).alias("ctx3"),
            F.col("event_type").alias("label"),
        )
    )


# --------------------------------------------------------------------------
# cms_token_counts_stream — the CMS sketch as streaming state
# --------------------------------------------------------------------------


from example_beam_spark.operators.sketches import _CMS_ORACLE  # noqa: E402


def _cms_cells_stream(stream: DataFrame) -> DataFrame:
    """The streaming CMS cell aggregation over a documents stream —
    shared by the entry and the multi-batch test fixture so both run
    the identical pipeline."""
    from example_beam_spark.operators.sketches import CMS_D, cms_col_of

    rows = F.array(*[F.lit(i) for i in range(CMS_D)])
    return (
        stream.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .select("term", F.explode(rows).alias("r"))
        .select("r", cms_col_of(F.col("r"), F.col("term")).alias("c"))
        .groupBy("r", "c")
        .agg(F.count("*").alias("cnt"))
    )


@register("cms_token_counts_stream", oracle=_CMS_ORACLE)
def cms_token_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch build as a REAL Structured Streaming job:
    COUNT per (row, counter) cell is the canonical bounded streaming
    state (exactly d*w = 1024 rows, ever) — sketch-as-state like
    hll_distinct_users_stream. Update-mode drain; final cells are
    provably the batch cells (counts are order- and batch-boundary-
    insensitive), so the probe stage and the BATCH CMS oracle gate the
    result unchanged — the hll_distinct_users_stream pattern."""
    from example_beam_spark.operators.sketches import (
        CMS_D,
        cms_col_of,
    )
    from example_beam_spark.streaming.drain import bounded_drain_instances
    from example_beam_spark.streaming.entries import run_to_final, stage_dir

    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(stage_dir(sf_dir, "documents"))
    cells = run_to_final(
        _cms_cells_stream(stream), ["r", "c"], spark,
        instances=bounded_drain_instances(spark),
    )
    rows = F.array(*[F.lit(i) for i in range(CMS_D)])
    # probe stage (batch, identical to cms_token_counts' probe side)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    from example_beam_spark.operators.sketches import CMS_PROBES

    probes = (
        toks.groupBy("term")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "term")
        .limit(CMS_PROBES)
    )
    probe_cells = probes.select(
        "term", "n_exact", F.explode(rows).alias("r")
    ).select("term", "n_exact", "r", cms_col_of(F.col("r"), F.col("term")).alias("c"))
    return (
        F.broadcast(probe_cells)
        .join(cells, ["r", "c"])
        .groupBy("term", "n_exact")
        .agg(F.min("cnt").alias("mn"))
        .select(
            "term",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("mn").cast("long").alias("cms_estimate"),
            (F.col("mn") - F.col("n_exact")).cast("long").alias("overestimate"),
        )
    )


# --------------------------------------------------------------------------
# embedding_covariance — PCA/whitening preparation
# --------------------------------------------------------------------------
# The covariance matrix is THE aggregate behind embedding whitening and
# PCA projection (run before indexing / SemDeDup-style clustering).
# Exact cross-engine floats: every Σxᵢxⱼ and Σxᵢ is a quantized
# FLOOR(·1e12) integer sum; cov = E[xy] - E[x]E[y] is then two exact
# divisions, one product, one subtraction — identical op sequence both
# engines. Scale design: the upper triangle expands PER ROW as one
# array comprehension (d(d+1)/2 structs — no self-join, no second scan
# of the vector), then a partial+final SUM into exactly d(d+1)/2
# groups; the element-mean aggregate reuses the same scan shape. At
# 100 TB the map-side combine reduces every partition to <=2080 rows
# before the only shuffle.

_COV_ORACLE = f"""
    WITH elems AS ({{elems}}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    sums AS (
        SELECT i, SUM(CAST(FLOOR(x * {_SCALE}) AS BIGINT)) AS sx
        FROM elems GROUP BY i
    ),
    prods AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(FLOOR(a.x * b.x * {_SCALE}) AS BIGINT)) AS sxy
        FROM elems a JOIN elems b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    )
    SELECT CAST(p.i - 1 AS BIGINT) AS i, CAST(p.j - 1 AS BIGINT) AS j,
           (CAST(p.sxy AS DOUBLE) / {_SCALE}) / CAST(n.n AS DOUBLE)
           - ((CAST(si.sx AS DOUBLE) / {_SCALE}) / CAST(n.n AS DOUBLE))
             * ((CAST(sj.sx AS DOUBLE) / {_SCALE}) / CAST(n.n AS DOUBLE))
               AS cov
    FROM prods p
    JOIN sums si ON si.i = p.i
    JOIN sums sj ON sj.i = p.j
    CROSS JOIN n
"""


@register("embedding_covariance", oracle=_COV_ORACLE.format(elems=_ELEMS_SQL))
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding columns (0-based
    (i, j, cov), j >= i) — the whitening/PCA-prep aggregate (section
    comment). One array-comprehension expansion per row, partial+final
    integer sums into d(d+1)/2 groups, means broadcast back."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    n = emb.count()
    pairs = emb.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(embedding) - 1), i -> "
                "transform(sequence(i, size(embedding) - 1), j -> "
                "named_struct('i', i, 'j', j, 'p', "
                "CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * "
                f"CAST(embedding[j] AS DOUBLE) * {_SCALE}) AS BIGINT)))))"
            )
        ).alias("s")
    ).select("s.i", "s.j", "s.p")
    sxy = pairs.groupBy("i", "j").agg(F.sum("p").alias("sxy"))
    sums = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(
                F.expr(f"CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)")
            ).alias("sx")
        )
    )
    scale = float(_SCALE.rstrip("D"))
    nd = float(n)
    mean_of = lambda c: (F.col(c).cast("double") / scale) / nd  # noqa: E731
    return (
        sxy.join(F.broadcast(sums.withColumnRenamed("sx", "sx_i")), "i")
        .join(
            F.broadcast(
                sums.select(F.col("i").alias("j"), F.col("sx").alias("sx_j"))
            ),
            "j",
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            (
                (F.col("sxy").cast("double") / scale) / nd
                - mean_of("sx_i") * mean_of("sx_j")
            ).alias("cov"),
        )
    )


# --------------------------------------------------------------------------
# events_topk_types_stream — streaming windowed top-k
# --------------------------------------------------------------------------

TOPK_TYPES = 3

_TOPK_STREAM_ORACLE = f"""
    WITH counted AS (
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT hour_start, event_type, n_events, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY hour_start
                   ORDER BY n_events DESC, event_type
               ) AS BIGINT) AS rk
        FROM counted
    ) WHERE rk <= {TOPK_TYPES}
"""


@register("events_topk_types_stream", oracle=_TOPK_STREAM_ORACLE)
def events_topk_types_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{3} event types per 1-hour tumbling window, with the counting
    run as a REAL streaming job (watermarked windowed aggregation,
    update mode — the trending-now shape of a behavioral dashboard).
    The rank cut runs batch-side on the drained per-window counts
    (window_count x type_count summary rows, never events), so the
    stream's state is the open windows' count cells only and the final
    counts provably equal the batch counts (order/batch-boundary
    insensitive sums) — the same oracle gates both stages."""
    from example_beam_spark.streaming.drain import bounded_drain_instances
    from example_beam_spark.streaming.entries import (
        read_events_stream,
        run_to_final,
    )

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )
    # windowed count into few groups: store machinery dominates (r14
    # drain-sizing A/B class — OPTIMIZATION_r14.md §3)
    counted = run_to_final(
        agg, ["hour_start", "event_type"], spark,
        instances=bounded_drain_instances(spark),
    )
    w = Window.partitionBy("hour_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return counted.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= TOPK_TYPES)


# --------------------------------------------------------------------------
# kmv_distinct_users_stream — the bottom-k sketch as streaming state
# --------------------------------------------------------------------------
# Completes the streaming-sketch family (HLL registers, histogram bins,
# CMS cells — all bounded-state twins of their batch forms): KMV's
# bottom-k is NOT an algebraic aggregate, so the state is a custom
# per-bucket sorted array via applyInPandasWithState. Sharding the
# sketch by hash prefix (h mod 16) keeps the stateful work parallel and
# the merge EXACT: every member of the global bottom-k is inside its
# own bucket's bottom-k, so the union of per-bucket bottom-k arrays is
# a superset of the global bottom-k and the batch-side
# distinct-order-limit recovers it exactly. State: <= 16 rows x 64
# longs, forever — no watermark, nothing evicted (the HLL posture).
# Every emitted hash is a REAL distinct-user hash, so emissions from
# earlier micro-batches (possibly since displaced from a bucket's
# bottom-k) only widen the candidate pool, never corrupt it.

_KMV_BUCKETS = 16


def _kmv_bucket_fn(key, pdfs, state):
    import pandas as pd

    from example_beam_spark.operators.sketches import KMV_K

    cur = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        cur.update(int(h) for h in pdf["h"])
    new = sorted(cur)[:KMV_K]
    state.update((new,))
    yield pd.DataFrame({"bucket": [int(key[0])], "hashes": [new]})


from example_beam_spark.operators.sketches import _KMV_ORACLE  # noqa: E402


@register("kmv_distinct_users_stream", oracle=_KMV_ORACLE)
def kmv_distinct_users_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k cardinality estimate with the hash collection run
    as a REAL streaming job (section comment); final estimator and the
    exact twin run batch-side on the drained candidate pool, gated by
    the unchanged batch oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from example_beam_spark.operators.sketches import (
        _H_SPACE,
        _KMV_EST,
        KMV_K,
        _h60_spark,
    )
    from example_beam_spark.streaming.drain import bounded_drain_instances
    from example_beam_spark.streaming.entries import (
        read_events_stream,
        run_to_append,
    )

    ev = read_events_stream(spark, sf_dir)
    keyed = ev.select(
        _h60_spark(F.col("user_id").cast("string")).alias("h")
    ).withColumn("bucket", F.pmod("h", F.lit(_KMV_BUCKETS)))
    cand = keyed.groupBy("bucket").applyInPandasWithState(
        _kmv_bucket_fn,
        outputStructType="bucket long, hashes array<long>",
        stateStructType="hashes array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # bounded per-bucket state (k smallest hashes): few instances win
    # (r14 drain-sizing A/B class — OPTIMIZATION_r14.md §3)
    pool = run_to_append(cand, spark, instances=bounded_drain_instances(spark))
    bottomk = (
        pool.select(F.explode("hashes").alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )
    agg = bottomk.agg(F.max("h").alias("kth"), F.count("*").alias("got"))
    events = load_table(spark, sf_dir, "events")
    exact = events.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return agg.crossJoin(F.broadcast(exact)).select(
        F.lit(KMV_K).cast("long").alias("k"),
        F.col("got").cast("long").alias("k_found"),
        F.col("kth").cast("long").alias("kth_hash"),
        "n_exact",
        F.when(F.col("got") < KMV_K, F.col("got").cast("double"))
        .otherwise(F.expr(_KMV_EST))
        .alias("kmv_estimate"),
    )



# --------------------------------------------------------------------------
# docs_curriculum_order — curriculum phases + reproducible intra-phase order
# --------------------------------------------------------------------------
# Curriculum learning's data-side contract: documents grouped into
# quality quartile PHASES (train easy/clean first — Bengio 2009's
# curriculum, as practiced in staged pretraining mixes), with a
# deterministic pseudo-random order WITHIN each phase (the
# docs_shard_shuffle discipline, so the loader's order is reproducible).
# Built entirely from the round-11 two-phase machinery: the quality
# quartile is ntile_from_rank over a two-phase global rank, and the
# intra-phase position is a KEYED two-phase rank — no single-task
# window anywhere despite TWO global total orders in one operator.

_CURR_PHASES = 4

_CURRICULUM_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS quality,
               md5(CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    )
    , phased AS (
        SELECT doc_id, quality, k,
               NTILE({_CURR_PHASES}) OVER (ORDER BY quality DESC, doc_id)
                   AS phase
        FROM scored
    )
    SELECT doc_id, quality, CAST(phase AS BIGINT) AS phase,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY phase ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM phased
"""


@register("docs_curriculum_order", oracle=_CURRICULUM_ORACLE)
def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality, phase, pos): quality-quartile curriculum phase
    plus reproducible md5 order within the phase (section comment)."""
    from example_beam_spark.operators.scaleops import (
        ntile_from_rank,
        two_phase_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    quality = (
        F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("double")
        / F.size(F.split(F.col("text"), " "))
    )
    scored = docs.select(
        "doc_id",
        quality.alias("quality"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    ranked, n = two_phase_rank(scored, [F.desc("quality"), "doc_id"], "_qr")
    phased = ranked.withColumn(
        "phase", ntile_from_rank("_qr", n, _CURR_PHASES)
    )
    ordered, _ = two_phase_rank(
        phased, ["k", "doc_id"], "pos", key_cols=["phase"]
    )
    return ordered.select("doc_id", "quality", "phase", "pos")


# --------------------------------------------------------------------------
# ann_range_search_lsh — the bucketed scale path of threshold retrieval
# --------------------------------------------------------------------------
# The ann_topk_bruteforce / ann_topk_lsh division of labor applied to
# range search: the exact ann_range_search above is the oracle-twin
# full scan; this variant prunes candidates to the query's 8-bit
# hyperplane bucket (~|corpus|/256 per query) before the identical
# exact-cosine threshold filter. The oracle REPLICATES the bucket
# prefilter in SQL, so recall loss vs the exact twin is part of the
# CONTRACT (value-oracle-gated), not silent — the same honesty as
# ann_topk_lsh vs ann_topk_bruteforce.

from example_beam_spark.operators.similarity import (  # noqa: E402
    _bucket_expr_spark,
    _bucket_sql,
)

_RANGE_LSH_ORACLE = f"""
    WITH elems AS ({_ELEMS_SQL}),
    norms AS ({_NORMS_SQL}),
    buckets AS (
        SELECT vec_id, CAST({_bucket_sql()} AS BIGINT) AS bucket
        FROM elems GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               bq.bucket,
               CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE} AS dot
        FROM elems q JOIN elems d ON q.i = d.i AND q.vec_id <> d.vec_id
        JOIN buckets bq ON bq.vec_id = q.vec_id
        JOIN buckets bd ON bd.vec_id = d.vec_id AND bd.bucket = bq.bucket
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, d.vec_id, bq.bucket
    )
    SELECT t.query_id, t.neighbor_id, t.bucket,
           t.dot / (nq.nrm * nd.nrm) AS cosine
    FROM dots t
    JOIN norms nq ON nq.vec_id = t.query_id
    JOIN norms nd ON nd.vec_id = t.neighbor_id
    WHERE t.dot / (nq.nrm * nd.nrm) >= {RANGE_THRESHOLD}
"""


@register("ann_range_search_lsh", oracle=_RANGE_LSH_ORACLE)
def ann_range_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed threshold retrieval (section comment). CONTRAST RUNG,
    not the scale path: sign-LSH buckets only collide for near-identical
    vectors, so at the family's low threshold the measured recall vs the
    exact twin is 0.019 (sf0.1, t=0.2 — SURVEY §2.8). Kept because the
    recall loss is part of the value-oracle CONTRACT (the oracle
    replicates the prefilter) and the ladder documents WHY sign buckets
    fail here; the production path for threshold retrieval is
    ann_range_search_ivf (structures.py) — triangle-bounded cell
    probing, recall 1.0 by construction."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    base = emb.select(
        "vec_id",
        "embedding",
        norm_dec("embedding").alias("nrm"),
        _bucket_expr_spark().alias("bucket"),
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = base.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    cos = dot_dec("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))
    return cands.select(
        "query_id",
        "neighbor_id",
        F.col("q_bucket").alias("bucket"),
        cos.alias("cosine"),
    ).filter(F.col("cosine") >= RANGE_THRESHOLD)


# --------------------------------------------------------------------------
# ann_range_search_multiprobe — the recall fix for threshold retrieval
# --------------------------------------------------------------------------
# Single-bucket range search keeps the contract honest but the recall
# poor at low thresholds (at sf0.1 it returns 11 of the exact twin's
# 567 matches at threshold 0.2 — cosine-0.2 pairs agree on all 8 sign
# bits rarely, the same physics as ann_topk_lsh's measured recall 0.0).
# The standard remedy (Lv et al., Multi-Probe LSH, VLDB 2007) probes
# the 37 buckets within Hamming distance <= 2, exactly as
# ann_topk_lsh_multiprobe does for top-k. Each corpus vector lives in
# ONE bucket and the 37 probe masks are distinct, so no (query,
# neighbor) pair can arrive twice — no dedup stage needed.

from example_beam_spark.operators.ivf import _MASKS_SQL, _PROBE_MASKS  # noqa: E402

_RANGE_MP_ORACLE = f"""
    WITH elems AS ({_ELEMS_SQL}),
    norms AS ({_NORMS_SQL}),
    buckets AS (
        SELECT vec_id, CAST({_bucket_sql()} AS BIGINT) AS bucket
        FROM elems GROUP BY vec_id
    ),
    probes AS (
        SELECT b.vec_id AS query_id, xor(b.bucket, m.mask) AS bucket
        FROM buckets b CROSS JOIN (VALUES {_MASKS_SQL}) AS m(mask)
        WHERE b.vec_id < {N_QUERIES}
    ),
    dots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE} AS dot
        FROM elems q
        JOIN probes p ON p.query_id = q.vec_id
        JOIN buckets bd ON bd.bucket = p.bucket
        JOIN elems d ON d.vec_id = bd.vec_id AND d.i = q.i AND d.vec_id <> q.vec_id
        GROUP BY q.vec_id, d.vec_id
    )
    SELECT t.query_id, t.neighbor_id,
           t.dot / (nq.nrm * nd.nrm) AS cosine
    FROM dots t
    JOIN norms nq ON nq.vec_id = t.query_id
    JOIN norms nd ON nd.vec_id = t.neighbor_id
    WHERE t.dot / (nq.nrm * nd.nrm) >= {RANGE_THRESHOLD}
"""


@register("ann_range_search_multiprobe", oracle=_RANGE_MP_ORACLE)
def ann_range_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe threshold retrieval (section comment): per query,
    the 37 Hamming<=2 buckets (~14% of a uniform corpus) feed the exact
    quantized-cosine threshold — the measured middle ground between the
    exact scan and the 1-bucket prune (recall 0.293 at t=0.2/sf0.1 —
    still a contrast rung; see ann_range_search_ivf for the sound
    production path)."""
    from example_beam_spark.operators.similarity import _bucket_expr_spark

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    base = emb.select(
        "vec_id",
        "embedding",
        norm_dec("embedding").alias("nrm"),
        _bucket_expr_spark().alias("bucket"),
    )
    masks = F.array(*[F.lit(m) for m in _PROBE_MASKS])
    probes = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode(masks).alias("mask"),
            F.col("bucket").alias("q_bucket"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.col("q_bucket").bitwiseXOR(F.col("mask")).alias("probe_bucket"),
        )
    )
    cands = base.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe_bucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    cos = dot_dec("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))
    return cands.select(
        "query_id",
        F.col("neighbor_id"),
        cos.alias("cosine"),
    ).filter(F.col("cosine") >= RANGE_THRESHOLD)
