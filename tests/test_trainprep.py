"""Round-11 trainprep pins: properties the oracle sweep can't see —
the CMS stream twin's bounded state (cells == batch cells, rows <= d*w)
and the hard-negative label exclusion on a constructed corpus."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from example_beam_spark.operators.trainprep import (
    NEG_K,
    ann_hard_negatives,
    cms_token_counts_stream,
)


def test_cms_stream_state_is_bounded_by_cells(spark):
    """The CMS stream's state row count equals the number of OCCUPIED
    (row, counter) cells — at most d*w = 1024 regardless of corpus size
    (the sketch-as-state bound, measured from the progress metrics)."""
    from pyspark.sql import functions as F

    from example_beam_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        cms_col_of,
    )
    from example_beam_spark.sources import load_table
    from example_beam_spark.streaming.drain import state_rows_series

    sf = "/root/testdata/sf0.001"
    out = cms_token_counts_stream(spark, sf)
    assert out.count() == 10  # probe rows
    series = state_rows_series()
    assert series, "no progress captured"
    final_state = series[-1]["state_rows"]
    occupied = (
        load_table(spark, sf, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .select(
            F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("r"),
            "term",
        )
        .select("r", cms_col_of(F.col("r"), F.col("term")).alias("c"))
        .distinct()
        .count()
    )
    assert final_state == occupied, (final_state, occupied, series)
    assert final_state <= CMS_D * CMS_W


def test_hard_negatives_exclude_query_label(spark, tmp_path):
    """Constructed corpus: the nearest vector shares the query's label
    and must be SKIPPED; the top negative is the nearest different-label
    vector. Also pins the exact K cut."""
    d = tmp_path / "corpus"
    d.mkdir()
    # query 0 (label 0); vec 1 identical but SAME label (excluded);
    # vecs 2..9 progressively farther, label 1
    base = np.array([1.0, 0.0, 0.0, 0.0], dtype=np.float32)
    vecs = [base, base]
    for i in range(8):
        v = np.array([1.0, 0.1 * (i + 1), 0.0, 0.0], dtype=np.float32)
        vecs.append(v)
    labels = [0, 0] + [1] * 8
    flat = np.asarray(vecs, dtype=np.float32).reshape(-1)
    offsets = pa.array(np.arange(0, (len(vecs) + 1) * 4, 4, dtype=np.int32))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.ListArray.from_arrays(offsets, pa.array(flat)),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    got = {
        (r.query_id, r.neighbor_id): r.rk
        for r in ann_hard_negatives(spark, str(d)).collect()
        if r.query_id == 0
    }
    assert len(got) == NEG_K
    assert (0, 1) not in got  # same-label near-identical vector skipped
    # nearest different-label vector (vec 2, smallest angle) ranks first
    assert got[(0, 2)] == 1


def test_kmv_stream_state_bounded_and_kernel_displacement(spark):
    """(a) The KMV stream's state is <= 16 bucket rows (the sharded
    sketch bound, measured from progress metrics). (b) Direct kernel
    check: a later batch of SMALLER hashes displaces larger ones from
    the bucket's bottom-k, and displaced values can never re-enter."""
    from example_beam_spark.operators.sketches import KMV_K
    from example_beam_spark.operators.trainprep import (
        _KMV_BUCKETS,
        _kmv_bucket_fn,
        kmv_distinct_users_stream,
    )
    from example_beam_spark.streaming.drain import state_rows_series

    out = kmv_distinct_users_stream(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 1 and out[0]["k"] == KMV_K
    series = state_rows_series()
    assert series and series[-1]["state_rows"] <= _KMV_BUCKETS, series

    import pandas as pd

    class _St:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = _St()
    big = list(range(1000, 1000 + KMV_K))
    list(_kmv_bucket_fn((0,), iter([pd.DataFrame({"h": big})]), st))
    assert list(st.get[0]) == big
    small = list(range(KMV_K // 2))
    list(_kmv_bucket_fn((0,), iter([pd.DataFrame({"h": small})]), st))
    kept = list(st.get[0])
    assert kept == small + big[: KMV_K - len(small)]  # k smallest overall
    assert len(kept) == KMV_K


def test_cms_stream_two_microbatch_equals_single(spark, tmp_path):
    """The CMS cells must be identical whether the documents arrive as
    ONE batch or as two time-ordered staged files with
    maxFilesPerTrigger=1 — counts are batch-boundary-insensitive sums
    and the state carries partial cells across the boundary (measured,
    not argued: the same chunked-drain contract as the events-based
    streams in tools/multibatch.py)."""
    import os
    import time

    from pyspark.sql import functions as F

    from example_beam_spark.operators.trainprep import _cms_cells_stream
    from example_beam_spark.sources import load_table
    from example_beam_spark.streaming.entries import run_to_final

    def cells(stream):
        return run_to_final(
            _cms_cells_stream(stream), ["r", "c"], spark, instances=8
        ).select("r", "c", "cnt")

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    d = str(tmp_path / "two_files")
    os.makedirs(d)
    n = docs.count()
    for i, (lo, hi) in enumerate(((0, n // 2), (n // 2, n + 1))):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(f"{d}/f{i}")
        part = [p for p in os.listdir(f"{d}/f{i}") if p.endswith(".parquet")][0]
        os.rename(f"{d}/f{i}/{part}", f"{d}/chunk{i}.parquet")
        os.utime(f"{d}/chunk{i}.parquet", (time.time() + i, time.time() + i))

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    two_stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    two = sorted(tuple(r) for r in cells(two_stream).collect())
    one_stream = spark.readStream.schema(schema).parquet(d)
    one = sorted(tuple(r) for r in cells(one_stream).collect())
    assert len(one) > 0
    assert two == one
