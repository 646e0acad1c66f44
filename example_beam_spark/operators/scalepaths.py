"""Scale-path variants of earlier operators, registered with their own
gates (round 13).

The repo's discipline for scale treatments is that they must be CODE
with a correctness contract, not comments: every bound that activates
above fixture scale gets either a full DuckDB value oracle replicating
the bounded semantics, or (where a fitted model intervenes) the
rows-only + measured-recall contract of the trained ANN rungs. This
module holds the round-13 members:

- ``dedup_exact_substring_capped`` — the frequency-capped, md5-keyed
  exact-substring pair join (``decontam.exact_substring_pairs`` with
  ``df_cap`` pinned to a value that BITES at fixture scale), with a
  full value oracle expressing the cap relationally. The registered
  production entries (``dedup_exact_substring``,
  ``dedup_longest_shared_span``) auto-activate the same code path
  above ``SUBSTR_CAP_AUTO_DOCS`` documents; this entry is the
  oracle-gated witness that the capped path computes exactly the
  "pairs over grams with doc-frequency <= F" relation. The md5 join
  key is not modeled in the oracle: a 16-byte hash equality differs
  from string equality only under an md5 collision, which no fixture
  (or corpus smaller than ~2^64 grams) exhibits — the oracle matching
  bit-for-bit IS the evidence the keying is lossless.

- ``ann_topk_ivfpq_sq8`` — the IVF,PQ+SQ8 composition (FAISS shape):
  the cell-partitioned IVFPQ index supplies the ADC shortlist (same
  directory-pruned probe as ``ann_topk_ivfpq_cellpart``), but the
  exact re-rank reads a PERSISTED int8 SQ8 codes table instead of the
  float corpus — at 100 TB the rerank side is the remaining full-width
  float read, and SQ8 cuts those bytes ~4x with the audit-measured
  reconstruction error (``embedding_sq8_audit``). Rows-only driver
  check like its trained siblings (two fitted quantizers feed the
  shortlist); quality gate = recall≥threshold on the planted lane
  (tools/stress_lane.py --mode ivfpq-sq8) plus the opened-bytes
  comparison recorded in NOTES.

- ``docs_decontaminate_13gram``, ``dedup_longest_shared_span_capped`` —
  see their section comments.

- ``ann_topk_ivf_dkmeans`` — IVF over the DISTRIBUTED full-corpus
  k-means trainer (ivf.train_coarse_centers_distributed): Lloyd
  refinement executed as Spark jobs with an order-invariant fixed-point
  reduction, so training needs no sample clamp and the fit is
  bit-deterministic under any partitioning.

- ``ann_topk_filtered`` / ``ann_topk_filtered_ivf`` — hybrid
  predicate + vector search: exact pre-filtered top-k with a full value
  oracle, and the same pre-filter composed with the trained IVF probe.

- ``ann_topk_ivfpq_append`` / ``ann_topk_ivfpq_append_stream`` — index
  maintenance: the FAISS train()/add() lifecycle in batch and as a
  stream; frozen-quantizer encoding makes both pinned EXACTLY equal to
  a one-pass rebuild (see their section comments).

Reference analog: none directly (the reference is an ad-event engine);
the cap discipline mirrors its repeater TTL bound
(RepeatDoFn.scala:89-114) — every unbounded blowup gets a bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from example_beam_spark.operators.corpus_ops import _SPLIT_ORACLE, docs_train_split
from example_beam_spark.operators.decontam import (
    SUBSTR_L,
    _EVAL_BCAST_MAX_DOCS,
    exact_substring_pairs,
)
from example_beam_spark.operators.dedup import shingles
from example_beam_spark.registry import register
from example_beam_spark.sources import load_table, spread_small_input

# A cap that bites at fixture scale: the fixtures' gram doc-frequency
# tops out at 3-4 (sf0.001 has 359 grams at df=4, sf0.1 has 314), so
# F=3 drops a real head there while sf0.01 happens to have max df 3 —
# the oracle encodes the semantics either way. Production default is
# decontam.SUBSTR_DF_CAP (64).
SUBSTR_CAP_FIXTURE = 3

_CAPPED_SUBSTR_ORACLE = f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, substr(text, i, {SUBSTR_L}) AS g
        FROM documents
        CROSS JOIN UNNEST(generate_series(1, GREATEST(len(text) - {SUBSTR_L - 1}, 0))) AS u(i)
    ),
    light AS (
        SELECT doc_id, g FROM (
            SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df_g
            FROM grams
        ) WHERE df_g <= {SUBSTR_CAP_FIXTURE}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM light a JOIN light b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""


@register("dedup_exact_substring_capped", oracle=_CAPPED_SUBSTR_ORACLE)
def dedup_exact_substring_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring pairs over the frequency-capped gram set (module
    doc): grams with doc-frequency > SUBSTR_CAP_FIXTURE are dropped
    before the self-join, join keys are 16-byte unhex(md5(g)). The
    value oracle proves the capped md5-keyed Spark path equals the
    capped raw-gram relation bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_pairs(docs, df_cap=SUBSTR_CAP_FIXTURE)


# --------------------------------------------------------------------------
# ann_topk_ivfpq_sq8 — IVF,PQ shortlist + SQ8-compressed exact rerank
# --------------------------------------------------------------------------
#
# The compression ladder composed with the persisted index (round-12
# verdict #6): in ann_topk_ivfpq_cellpart the probe side is already
# I/O-pruned (cell-partitioned PQ codes, ~nprobe/k of the index read),
# which leaves the RERANK side as the remaining full-width read — the
# shortlist join against the float32 corpus scans n × (4·d)-byte rows
# to fetch Q×R vectors. This entry persists the corpus ONCE as SQ8
# codes (d bytes/row — the embedding_sq8_audit quantizer, binary
# column) and reranks against the DECODED int8 vectors instead: the
# FAISS "IVF…,PQ… + SQVar rerank" shape. Queries stay float
# (asymmetric SQ — there is no reason to quantize the one vector you
# have exactly). Costs: rerank-side scan bytes drop ~4x (pinned by
# tests/test_scalepaths.py from the actual file sizes); the decode
# error perturbs only the final ordering of the R-row shortlist, and
# the planted-lane gate (tools/structures_lane.py --mode ivfpq-sq8)
# holds recall@10 >= 0.9 at 200k and 2M. Rows-only driver contract
# like every fitted-quantizer rung.

_SQ8_CODE_DIRS: dict[tuple, tuple] = {}


def sq8_codes_table(spark: SparkSession, sf_dir: str) -> tuple:
    """(codes_dir, lo (d,), step (d,)) — the corpus persisted once per
    session per source fingerprint as (vec_id long, codes binary), d
    bytes per row; quantizer = the per-dimension [lo, hi] -> [0,255]
    affine map of embedding_sq8_audit (d-row bounded artifact)."""
    import tempfile

    import numpy as np

    from example_beam_spark.operators.structures import _layout_key

    key = _layout_key(spark, sf_dir, "embeddings")
    hit = _SQ8_CODE_DIRS.get(key)
    if hit is not None:
        return hit

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    q_rows = sorted(
        (r.i, r.lo, r.hi)
        for r in emb.select(F.posexplode("embedding").alias("i", "x"))
        .select("i", F.col("x").cast("double").alias("x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    lo = np.array([r[1] for r in q_rows])
    rng_ = np.array([r[2] - r[1] for r in q_rows])
    step = rng_ / 256.0
    bc = spark.sparkContext.broadcast((lo, step))

    def encode(batches):
        import pandas as pd

        LO, ST = bc.value
        safe = np.where(ST > 0, ST, 1.0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.clip(
                np.floor((X - LO) / safe), 0, 255
            ).astype(np.uint8)
            codes[:, ST <= 0] = 0
            yield pd.DataFrame(
                {"vec_id": ids, "codes": [c.tobytes() for c in codes]}
            )

    out = tempfile.mkdtemp(prefix="ebs_sq8_codes_")
    emb.mapInPandas(encode, "vec_id long, codes binary").write.mode(
        "overwrite"
    ).parquet(out)
    hit = (out, lo, step)
    _SQ8_CODE_DIRS[key] = hit
    return hit


@register("ann_topk_ivfpq_sq8", oracle=None)
def ann_topk_ivfpq_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC shortlist from the cell-partitioned PQ index, exact-order
    rerank against the SQ8-decoded corpus (section comment): the rerank
    side reads the d-bytes/row codes table, never the float corpus.
    Returns (query_id, neighbor_id, cosine, rk), rk <= TOP_K by
    asymmetric float-query x decoded-corpus cosine."""
    import numpy as np

    from example_beam_spark.operators.similarity import N_QUERIES, TOP_K
    from example_beam_spark.operators.structures import ivfpq_cellpart_scan

    shortlist, _, _, _ = ivfpq_cellpart_scan(spark, sf_dir)
    codes_dir, lo, step = sq8_codes_table(spark, sf_dir)

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    q_pdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    Q = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((q_ids, Q, lo, step))

    # the d-bytes/row scan: broadcast the Q×R shortlist into the codes
    # read — the float corpus is never touched on this side
    matched = spark.read.parquet(codes_dir).join(
        F.broadcast(shortlist),
        F.col("vec_id") == F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "codes")

    def rerank(batches):
        import pandas as pd

        qids, QQ, LO, ST = bc.value
        qidx = {int(q): i for i, q in enumerate(qids)}
        qn = np.linalg.norm(QQ, axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["codes"]]
            ).astype(np.float64)
            Xh = LO + (C + 0.5) * ST  # decode; step==0 dims land on lo
            rows = pdf["query_id"].to_numpy()
            qi = np.array([qidx[int(r)] for r in rows])
            num = np.einsum("ij,ij->i", Xh, QQ[qi])
            den = qn[qi] * np.linalg.norm(Xh, axis=1)
            yield pd.DataFrame(
                {
                    "query_id": rows,
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine": num / np.maximum(den, 1e-300),
                }
            )

    scored = matched.mapInPandas(
        rerank, "query_id long, neighbor_id long, cosine double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# docs_decontaminate_13gram — the scrub at the PRODUCTION n
# --------------------------------------------------------------------------
#
# The registered docs_decontaminate shares the dedup family's
# SHINGLE_N=3 tokenization so "shares an n-gram" means the same thing
# across the whole hygiene family — but 3-word grams are a chance-hit
# magnet on any real corpus (the hygiene lane's synthetic 2M corpus
# saturates at ~99.6% contaminated purely from vocabulary collisions).
# Production scrubs use long grams for exactly this reason: GPT-3's
# appendix C filtered on 13-grams. This entry is the SAME manifest
# relation at n=13 — a doc is flagged only when THIRTEEN consecutive
# tokens occur verbatim in a held-out doc, which is vanishingly
# unlikely by chance and overwhelmingly likely for a true benchmark
# leak. Same composition (registered hash split + the dedup family's
# shingle machinery with its n parameter), same gated eval-side
# broadcast, full DuckDB value oracle. Scale shape identical to the
# n=3 entry: the gram join shuffles by gram, the eval side is a ~1%
# slice, counts are partial+final.

DECON_PROD_N = 13  # GPT-3 appendix C

_SHINGLES13_SQL = f"""
    SELECT DISTINCT doc_id, array_to_string(s[i:i+{DECON_PROD_N - 1}], ' ') AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) t
    CROSS JOIN UNNEST(generate_series(1, GREATEST(len(s) - {DECON_PROD_N - 1}, 0))) AS u(i)
"""

_DECON13_ORACLE = f"""
    WITH sh AS ({_SHINGLES13_SQL}),
    split AS ({_SPLIT_ORACLE}),
    shared AS (
        SELECT t.doc_id,
               COUNT(DISTINCT t.g) AS n_shared_grams,
               COUNT(DISTINCT e.doc_id) AS n_eval_docs
        FROM sh t
        JOIN split st ON st.doc_id = t.doc_id AND st.split = 'train'
        JOIN sh e ON e.g = t.g
        JOIN split se ON se.doc_id = e.doc_id AND se.split = 'test'
        GROUP BY t.doc_id
    )
    SELECT s.doc_id,
           CAST(COALESCE(x.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
           CAST(COALESCE(x.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
           COALESCE(x.n_shared_grams, 0) = 0 AS keep
    FROM split s
    LEFT JOIN shared x ON x.doc_id = s.doc_id
    WHERE s.split = 'train'
"""


@register("docs_decontaminate_13gram", oracle=_DECON13_ORACLE)
def docs_decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-train-doc decontamination manifest at the production gram
    length (section comment): 13-token grams, keep = no verbatim
    13-gram shared with the held-out test slice."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs_train_split(spark, sf_dir).select("doc_id", "split")
    sh = shingles(docs, DECON_PROD_N)
    train_sh = sh.join(
        split.filter(F.col("split") == "train").select("doc_id"), "doc_id"
    )
    eval_ids = split.filter(F.col("split") == "test").select("doc_id")
    eval_sh = sh.join(eval_ids, "doc_id").select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    if eval_ids.count() <= _EVAL_BCAST_MAX_DOCS:
        eval_sh = F.broadcast(eval_sh)
    shared = (
        train_sh.join(eval_sh, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_grams"),
            F.countDistinct("eval_id").cast("long").alias("n_eval_docs"),
        )
    )
    train_docs = split.filter(F.col("split") == "train").select("doc_id")
    return (
        train_docs.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias(
                "n_shared_grams"
            ),
            F.coalesce("n_eval_docs", F.lit(0)).cast("long").alias("n_eval_docs"),
            (F.coalesce("n_shared_grams", F.lit(0)) == 0).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# dedup_longest_shared_span_capped — the span operator's capped witness
# --------------------------------------------------------------------------
#
# Companion of dedup_exact_substring_capped: the SAME frequency cap on
# the POSITIONAL gram stream (doc frequency counted over DISTINCT
# (doc, gram), so in-doc repetition never inflates a gram into the
# cap), then the diagonal gaps-and-islands span extraction over only
# the surviving matches. The full value oracle proves the capped
# md5-keyed Spark path computes exactly the "islands over grams with
# doc-frequency <= F" relation — capped-out boilerplate contributes no
# islands, rare-gram spans are bit-identical to the raw path (pinned
# against the raw operator in tests/test_substring_cap.py).

from example_beam_spark.operators.decontam import longest_shared_span_pairs  # noqa: E402

_CAPPED_SPAN_ORACLE = f"""
    WITH g AS (
        SELECT doc_id, i, substr(text, i, {SUBSTR_L}) AS gr
        FROM documents
        CROSS JOIN UNNEST(generate_series(1, GREATEST(len(text) - {SUBSTR_L - 1}, 0))) AS u(i)
    ),
    f AS (
        SELECT gr, COUNT(DISTINCT doc_id) AS df_g FROM g GROUP BY gr
    ),
    light AS (
        SELECT g.doc_id, g.i, g.gr
        FROM g JOIN f ON f.gr = g.gr
        WHERE f.df_g <= {SUBSTR_CAP_FIXTURE}
    ),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
        FROM light a JOIN light b ON a.gr = b.gr AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, ia - ib AS diag,
               ia - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia
               ) AS isl
        FROM m
    ),
    spans AS (
        SELECT doc_a, doc_b, COUNT(*) AS run_len
        FROM runs GROUP BY doc_a, doc_b, diag, isl
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run_len) + {SUBSTR_L - 1} AS BIGINT) AS span_chars,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM spans GROUP BY doc_a, doc_b
"""


@register("dedup_longest_shared_span_capped", oracle=_CAPPED_SPAN_ORACLE)
def dedup_longest_shared_span_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest verbatim shared span over the frequency-capped positional
    gram set (section comment): F = SUBSTR_CAP_FIXTURE, md5-keyed
    matches, diagonal islands over survivors only."""
    docs = load_table(spark, sf_dir, "documents")
    return longest_shared_span_pairs(docs, df_cap=SUBSTR_CAP_FIXTURE)


# --------------------------------------------------------------------------
# ann_topk_ivf_dkmeans — IVF over the DISTRIBUTED full-corpus trainer
# --------------------------------------------------------------------------
#
# Every other trained rung fits its quantizer on a bounded driver-side
# sample — the honest 100-TB caveat being that centroid quality is
# capped by what a ~200k-row sketch can see, and k by the sample/budget
# clamp (the two-level quantizer lifts the CAPACITY limit but still
# trains on a sample). This entry uses
# ivf.train_coarse_centers_distributed: Lloyd iterations executed as
# Spark jobs over the FULL corpus (broadcast centers -> map-side GEMM
# assignment + fixed-point partial sums -> k-row reduce), so the
# training set is the corpus itself and k = ceil(sqrt(n)) needs NO
# clamp at any n. The fixed-point (floor(x*2^24) int64) reduction makes
# the fit bit-deterministic under any partitioning — closing the
# distributed-fit init nondeterminism documented in
# train_coarse_centers — which tests/test_dkmeans.py pins along with
# monotone objective improvement and the planted recall/scan gate.
# Rows-only driver contract like its trained siblings.

from example_beam_spark.operators.ivf import (  # noqa: E402
    IVF_COARSE_MIN_K,
    ivf_trained_frames,
    nprobe_for,
    train_coarse_centers_distributed,
)


# Trained dkmeans centers per (appId, sf_dir, embeddings fingerprint) —
# the same session-cache discipline as _APPEND_DIRS/_STREAM_INDEX (r13
# advice: the driver's rows-only repeat check was re-running the most
# expensive training job in the registry; the fit is bit-deterministic,
# so the cached centers are exactly what a re-run would produce).
_DKMEANS_CENTERS: dict[tuple, tuple] = {}


@register("ann_topk_ivf_dkmeans", oracle=None)
def ann_topk_ivf_dkmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid IVF whose coarse quantizer is refined over the
    FULL corpus by the distributed fixed-point Lloyd trainer (section
    comment): k = ceil(sqrt(n)) unclamped, nprobe = the standard 4%
    fraction, probed-cell exact cosine top-k."""
    import math

    from example_beam_spark.operators.structures import _layout_key

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    key = _layout_key(spark, sf_dir, "embeddings")
    hit = _DKMEANS_CENTERS.get(key)
    if hit is None:
        # n from the parquet footers (guide §6): the count only sizes
        # k = ceil(sqrt(n)) and the sample threshold, so the separate
        # pre-training count JOB (r14 verdict #6) is replaced by a
        # metadata read — exact, and one fewer job in the first fit.
        from example_beam_spark.sources.parquet import parquet_rowcount

        n = parquet_rowcount(sf_dir, "embeddings")
        k = max(IVF_COARSE_MIN_K, math.isqrt(max(n, 1) - 1) + 1)
        C, _hist = train_coarse_centers_distributed(emb, k, n_total=n)
        hit = (C,)
        _DKMEANS_CENTERS[key] = hit
    (C,) = hit
    return ivf_trained_frames(emb, centers=C, nprobe=nprobe_for(len(C)))[0]


# --------------------------------------------------------------------------
# ann_topk_filtered — predicate + vector search (hybrid retrieval)
# --------------------------------------------------------------------------
#
# The training-data shape "nearest neighbors AMONG documents matching a
# metadata predicate" (dedup within a language slice, per-source hard
# negatives, curated-subset retrieval). Two standard strategies:
#
# - PRE-filter (this exact entry + the IVF variant below): restrict the
#   candidate set before scoring, so selectivity CUTS scan work. The
#   predicate pushes to the documents parquet scan (PushedFilters,
#   doc_id-only ReadSchema — pinned in tests/test_scalepaths.py) and
#   joins the embedding scan as a left-semi on id; at 100 TB the
#   semijoin shuffles only ids, never vectors.
# - POST-filter (the naive alternative, deliberately not shipped):
#   top-k first, filter after — returns < k rows whenever the filter is
#   selective, which is why production vector stores treat it as a
#   recall bug, not a strategy.
#
# Exact scan here = full value oracle (the same decimal-quantized
# cosine as ann_topk_bruteforce, corpus restricted to lang = FILT_LANG
# documents); ann_topk_filtered_ivf composes the SAME pre-filter with
# the trained IVF probe (members semijoined before the exact dot) and
# carries the rows-only + measured-recall contract of the trained
# rungs.

from example_beam_spark.operators.similarity import (  # noqa: E402
    N_QUERIES,
    TOP_K,
    _SCALE,
    dot_dec,
    norm_dec,
)

FILT_LANG = "en"

_FELEMS_SQL = """
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
"""

_FILTERED_ORACLE = f"""
    WITH elems AS ({_FELEMS_SQL}),
    norms AS (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(FLOOR(x * x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE}) AS nrm
        FROM elems GROUP BY vec_id
    ),
    allowed AS (SELECT doc_id FROM documents WHERE lang = '{FILT_LANG}'),
    dots AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE} AS dot
        FROM elems q
        JOIN elems d ON q.i = d.i AND q.vec_id <> d.vec_id
        JOIN allowed al ON al.doc_id = d.vec_id
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, d.vec_id
    ),
    scored AS (
        SELECT t.query_id, t.neighbor_id,
               t.dot / (nq.nrm * nd.nrm) AS cosine
        FROM dots t
        JOIN norms nq ON nq.vec_id = t.query_id
        JOIN norms nd ON nd.vec_id = t.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS BIGINT) AS rk
        FROM scored
    ) WHERE rk <= {TOP_K}
"""


def _allowed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(neighbor_id) — documents passing the metadata predicate; the
    lang filter pushes to the parquet scan and only doc_id is read."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == FILT_LANG)
        .select(F.col("doc_id").alias("neighbor_id"))
    )


@register("ann_topk_filtered", oracle=_FILTERED_ORACLE)
def ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact filtered vector search (section comment): cosine top-k per
    query over only the documents with lang = FILT_LANG — pre-filter
    semijoin, then the bruteforce scan's decimal-quantized scoring."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    base = emb.select("vec_id", "embedding", norm_dec("embedding").alias("nrm"))
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = base.withColumnRenamed("vec_id", "neighbor_id").join(
        _allowed_ids(spark, sf_dir), "neighbor_id", "left_semi"
    )
    pairs = cand.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot_dec("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


@register("ann_topk_filtered_ivf", oracle=None)
def ann_topk_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN with the trained IVF index (section comment): the
    SAME pre-filter semijoin applied to the probed-cell members before
    the exact dot — candidates drop with predicate selectivity instead
    of post-truncating the top-k. Rows-only driver contract (fitted
    quantizer); soundness (every neighbor satisfies the predicate) and
    recall vs the exact filtered twin are gated by
    tests/test_scalepaths.py on the planted corpus."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    return ivf_trained_frames(
        emb, members_filter=_allowed_ids(spark, sf_dir)
    )[0]


# --------------------------------------------------------------------------
# ann_topk_ivfpq_append — index maintenance: ADD without RETRAIN
# --------------------------------------------------------------------------
#
# At 100 TB the vector index is never rebuilt per ingestion batch: the
# production lifecycle (FAISS train()/add(), every vector store's
# "insert") trains quantizers ONCE on the standing corpus and then
# APPENDS new vectors by encoding them with the FROZEN quantizers and
# writing new inverted-list files into the existing cell directories —
# no rewrite of standing lists, no retrain, ingestion cost linear in
# the delta only. This entry exercises exactly that: a deterministic
# hash split carves ~10% of the corpus out as the "arriving" delta;
# the cell-partitioned IVFPQ index is built on the base alone
# (training AND encoding), then the delta is encoded with the frozen
# (C, books) and appended via mode("append").partitionBy("cell") —
# new parquet files land inside existing (or new) cell directories,
# the layout the query path's PartitionFilters prune. The query path
# is byte-identical to ann_topk_ivfpq_cellpart's over the merged
# directory.
#
# Correctness contract: because pq_encode_frame is per-row
# deterministic given (C, books), appending the delta is PROVABLY
# equal to rebuilding the whole index with the same base-trained
# quantizers — tests/test_scalepaths.py pins the full topk frame equal
# between the appended index and a one-pass rebuild twin. Rows-only
# driver check (fitted quantizers), like every trained rung. The
# honest caveat is drift, not correctness: quantizers trained on the
# base stay frozen, so a delta from a shifted distribution degrades
# recall until a retrain — the audit for that is recall tracking
# (embedding_sq8_audit's pattern), not this entry's equality pin.

APPEND_SPLIT_DENOM = 10  # ~10% of rows arrive as the append delta
APPEND_SPLIT_SEED = 20260816

_APPEND_DIRS: dict[tuple, tuple] = {}


def _append_split(emb: DataFrame):
    """(base, delta) — deterministic hash split; delta = bucket 0."""
    bucket = F.pmod(
        F.xxhash64("vec_id", F.lit(APPEND_SPLIT_SEED)), F.lit(APPEND_SPLIT_DENOM)
    )
    return emb.filter(bucket != 0), emb.filter(bucket == 0)


_FROZEN_Q: dict[tuple, tuple] = {}


def _append_frozen_quantizers(spark: SparkSession, sf_dir: str) -> tuple:
    """(C, books, n_base) — coarse centers + PQ codebooks trained on
    the BASE slice only (the frozen-quantizer contract); shared by the
    batch-append and streamed-ingestion indexes so their equality pins
    compare like with like. Cached per session per source fingerprint."""
    import numpy as np

    from example_beam_spark.operators.ivf import (
        KMEANS_SAMPLE,
        coarse_plan_for,
        train_coarse_centers,
        train_two_level_centers,
    )
    from example_beam_spark.operators.structures import (
        PQ_TRAIN_SAMPLE,
        _layout_key,
        _train_pq_books,
    )

    key = _layout_key(spark, sf_dir, "embeddings")
    hit = _FROZEN_Q.get(key)
    if hit is not None:
        return hit

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    base, _ = _append_split(emb)
    n_base = base.count()
    mode, k_target = coarse_plan_for(n_base)
    if mode == "two_level":
        _, C, _ = train_two_level_centers(base, k_target, n_base)
    else:
        C = train_coarse_centers(base, k_target, KMEANS_SAMPLE, n_total=n_base)
    sample_pdf = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_TRAIN_SAMPLE)
        .toPandas()
    )
    Xs = np.stack(sample_pdf["embedding"].to_numpy()).astype(np.float64)
    Xs /= np.linalg.norm(Xs, axis=1, keepdims=True)
    books = _train_pq_books(Xs - C[(Xs @ C.T).argmax(axis=1)])
    hit = (C, books, n_base)
    _FROZEN_Q[key] = hit
    return hit


def _ivfpq_appended_index(spark: SparkSession, sf_dir: str) -> tuple:
    """(codes_dir, C, books, n_total) — index trained AND initially
    encoded on the base slice only, delta appended with frozen
    quantizers (section comment). Cached per session per source
    fingerprint like its cellpart sibling."""
    import tempfile

    from example_beam_spark.operators.structures import _layout_key, pq_encode_frame

    key = _layout_key(spark, sf_dir, "embeddings")
    hit = _APPEND_DIRS.get(key)
    if hit is not None:
        return hit

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    base, delta = _append_split(emb)
    C, books, _n_base = _append_frozen_quantizers(spark, sf_dir)

    out = tempfile.mkdtemp(prefix="ebs_ivfpq_append_")
    enc = lambda df: pq_encode_frame(df, C, books).repartition(F.col("cell"))  # noqa: E731
    enc(base).write.partitionBy("cell").mode("overwrite").parquet(out)
    # THE APPEND: new inverted-list files land in the cell directories;
    # standing base files are untouched (pinned by mtime/name in tests)
    enc(delta).write.partitionBy("cell").mode("append").parquet(out)

    hit = (out, C, books, emb.count())
    _APPEND_DIRS[key] = hit
    return hit


@register("ann_topk_ivfpq_append", oracle=None)
def ann_topk_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k over the appended index (section comment): same
    pruned-directory scan + ADC shortlist + exact rerank as
    ann_topk_ivfpq_cellpart, but the index was grown by a frozen-
    quantizer append instead of a rebuild — pinned equal to the
    rebuild twin in tests/test_scalepaths.py."""
    from example_beam_spark.operators.structures import (
        exact_rerank_topk,
        ivfpq_scan_codes,
    )

    codes_dir, C, books, n_total = _ivfpq_appended_index(spark, sf_dir)
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    shortlist, _, _, _ = ivfpq_scan_codes(spark, emb, codes_dir, C, books, n_total)
    return exact_rerank_topk(emb, shortlist)


# --------------------------------------------------------------------------
# ann_topk_ivfpq_append_stream — index ingestion as a STREAM
# --------------------------------------------------------------------------
#
# The streaming form of the add-without-retrain lifecycle: new vectors
# arrive on a stream and are encoded INSIDE the streaming graph (the
# same frozen-quantizer pq_encode_frame kernel, mapInPandas on a
# streaming DataFrame — a stateless Arrow transform, so no watermark or
# state store), and each micro-batch lands as its own cell-partitioned
# parquet directory through the repo's idempotent per-batch-id
# overwrite sink (drain()'s delivery discipline: a redelivered
# batch REPLACES its own output, giving exactly-once index growth under
# at-least-once foreachBatch). The queryable index is then the base
# directory plus the batch directories — ivfpq_scan_codes prunes
# probed-cell subdirectories under EVERY root, so the directory-pruning
# story survives ingestion (each batch dir is just another
# cell-partitioned lake segment; a compaction pass — the registered
# events_compact_small_files shape — folds batch dirs into the base on
# whatever cadence I/O fragmentation warrants).
#
# Correctness contract: same as the batch append — frozen-quantizer
# encoding is per-row deterministic, so the streamed index's topk frame
# is pinned EQUAL to the batch-appended index's (which is itself pinned
# equal to a one-pass rebuild): stream ingestion loses nothing. The
# delta stream is staged as multiple files with maxFilesPerTrigger=1,
# so the equality holds across REAL multi-micro-batch ingestion, not a
# single-batch degenerate. Rows-only driver contract (fitted
# quantizers).

_STREAM_INDEX: dict[tuple, tuple] = {}


def _ivfpq_streamed_index(spark: SparkSession, sf_dir: str) -> tuple:
    """(roots, C, books, n_total) — base encoded in batch, delta
    ingested through an availableNow stream (section comment)."""
    import tempfile

    from example_beam_spark.operators.structures import _layout_key, pq_encode_frame
    from example_beam_spark.streaming.drain import (
        batch_dirs,
        bounded_drain_instances,
        drain,
    )

    key = _layout_key(spark, sf_dir, "embeddings")
    hit = _STREAM_INDEX.get(key)
    if hit is not None:
        return hit

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    base, delta = _append_split(emb)
    C, books, _n_base = _append_frozen_quantizers(spark, sf_dir)

    base_dir = tempfile.mkdtemp(prefix="ebs_ivfpq_sbase_")
    (
        pq_encode_frame(base, C, books)
        .repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(base_dir)
    )

    # stage the arriving vectors as >= 3 files so maxFilesPerTrigger=1
    # drives a genuine multi-micro-batch ingestion
    stage_dir = tempfile.mkdtemp(prefix="ebs_ivfpq_sstage_")
    delta.repartition(3).write.mode("overwrite").parquet(stage_dir)

    def write_batch(bdf: DataFrame, bid: int, path: str) -> None:
        # an empty micro-batch (possible when the delta has fewer rows
        # than the 3-way staging repartition) must not write a dir: a
        # _SUCCESS-only dir still globs into roots and breaks schema
        # inference on the multi-root read
        if bdf.isEmpty():
            return
        (
            bdf.repartition(F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    out_dir = drain(
        pq_encode_frame(stream, C, books),
        instances=bounded_drain_instances(spark),
        output_mode="append",
        write_batch=write_batch,
    )
    roots = [base_dir] + batch_dirs(out_dir)
    hit = (roots, C, books, emb.count())
    _STREAM_INDEX[key] = hit
    return hit


@register("ann_topk_ivfpq_append_stream", oracle=None)
def ann_topk_ivfpq_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k over the STREAM-ingested index (section comment):
    identical scan/rerank to the batch-appended sibling, index roots =
    base dir + one cell-partitioned dir per ingestion micro-batch;
    pinned equal to the batch append in tests/test_scalepaths.py."""
    from example_beam_spark.operators.structures import (
        exact_rerank_topk,
        ivfpq_scan_codes,
    )

    roots, C, books, n_total = _ivfpq_streamed_index(spark, sf_dir)
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    shortlist, _, _, _ = ivfpq_scan_codes(spark, emb, roots, C, books, n_total)
    return exact_rerank_topk(emb, shortlist)


# --------------------------------------------------------------------------
# dedup_minhash_estimate_audit — how tight is the sketch?
# --------------------------------------------------------------------------
#
# The audit-family member for the MinHash sketch (the pattern of
# embedding_sq8_audit / embedding_matryoshka_audit: before trusting a
# lossy representation at scale, MEASURE what it loses on this corpus).
# dedup_minhash_lsh already verifies candidates with exact Jaccard —
# the production question this entry answers is the opposite one: if a
# 100-TB pipeline skipped the exact verify (pairs too hot to re-read),
# how far off would the signature-only estimate be? For every LSH
# candidate pair it emits the MinHash estimate (matching signature
# components / N_HASHES — the unbiased per-component P(match) = J
# estimator), the exact Jaccard, and the absolute error. E[err] ~
# sqrt(J(1-J)/12) ≈ 0.14 at J=0.5 for this 12-component family — the
# measured distribution on the fixtures is the evidence the repo's own
# LSH entries keep their exact-verify stage. Full DuckDB value oracle
# (the signature family is integer-exact in both engines, shared SQL
# fragments from operators/dedup.py).
#
# Scale shape: identical to dedup_minhash_lsh up to the candidate join
# (signature agg partial+final, banded candidates linear in n), then a
# 12-integer comparison per pair instead of a shingle-set intersect —
# strictly cheaper than the verified entry.

from example_beam_spark.operators.dedup import (  # noqa: E402
    N_HASHES,
    _SHINGLES_SQL,
    band_keys,
    minhash_band_rows_sql,
    minhash_sig_cols_sql,
    minhash_signatures,
    shingles_raw,
)

_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)

_MINHASH_AUDIT_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (
        SELECT doc_id, COUNT(DISTINCT g) AS n_shingles, {minhash_sig_cols_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, band, bk
        FROM sig CROSS JOIN LATERAL (VALUES {minhash_band_rows_sql()}) AS v(band, bk)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.g = x.g
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST({_EST_MATCH_SQL} AS BIGINT) AS n_sig_match,
           CAST({_EST_MATCH_SQL} AS DOUBLE) / {N_HASHES} AS jaccard_est,
           CAST(COALESCE(v.n_shared, 0) AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - COALESCE(v.n_shared, 0))
               AS jaccard,
           ABS(CAST({_EST_MATCH_SQL} AS DOUBLE) / {N_HASHES}
               - CAST(COALESCE(v.n_shared, 0) AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - COALESCE(v.n_shared, 0)))
               AS abs_err
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    LEFT JOIN verified v ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
"""


@register("dedup_minhash_estimate_audit", oracle=_MINHASH_AUDIT_ORACLE)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LSH-candidate sketch-quality audit (section comment):
    MinHash estimate (matching components / N_HASHES) vs exact Jaccard
    vs absolute error — the measured cost of skipping the exact-verify
    stage."""
    docs = spread_small_input(load_table(spark, sf_dir, "documents"), spark)
    sig = minhash_signatures(shingles_raw(docs)).cache()
    from example_beam_spark.registry import defer_cleanup

    defer_cleanup(lambda: sig.unpersist())
    bands = band_keys(sig)
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band2"),
        F.col("bk").alias("bk2"),
    )
    cand = (
        bands.join(
            b2,
            (F.col("band") == F.col("band2"))
            & (F.col("bk") == F.col("bk2"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_shingles").alias("n_a"),
        F.col("gset").alias("gs_a"),
        *[F.col(f"s{i}").alias(f"sa{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_shingles").alias("n_b"),
        F.col("gset").alias("gs_b"),
        *[F.col(f"s{i}").alias(f"sb{i}") for i in range(N_HASHES)],
    )
    match_expr = None
    for i in range(N_HASHES):
        term = F.when(F.col(f"sa{i}") == F.col(f"sb{i}"), 1).otherwise(0)
        match_expr = term if match_expr is None else match_expr + term
    joined = cand.join(sa, "doc_a").join(sb, "doc_b")
    shared = F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
    exact = shared / (F.col("n_a") + F.col("n_b") - shared)
    est = match_expr.cast("double") / F.lit(float(N_HASHES))
    return joined.select(
        "doc_a",
        "doc_b",
        match_expr.cast("long").alias("n_sig_match"),
        est.alias("jaccard_est"),
        exact.alias("jaccard"),
        F.abs(est - exact).alias("abs_err"),
    )
