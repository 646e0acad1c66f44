"""Correctness gate: row count plus an order-independent checksum of a
result table, compared with the registered DuckDB oracle on the same
generated input.

Both engines' Arrow results are brought to one canonical form before
hashing: columns sorted by name, timestamps as UTC epoch microseconds,
integers and booleans as int64, decimals and floats as float64, the rest
as strings. The checksum is the sum, modulo 2**64, of one 64-bit hash per
row, so it ignores row order but counts duplicate rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


def _canonical(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
    if pa.types.is_date(t):
        return col.cast(pa.int32()).cast(pa.int64())
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return col.cast(pa.int64())
    if pa.types.is_decimal(t) or pa.types.is_floating(t):
        # + 0.0 folds -0.0 into 0.0
        return pc.add(col.cast(pa.float64()), 0.0)
    return col.cast(pa.large_string())


def digest(table: pa.Table) -> dict:
    """``{"rows", "checksum", "columns"}`` of a result table."""
    names = sorted(table.column_names)
    frame = pd.DataFrame(
        {f"c{i}": _canonical(table.column(n)).to_pandas() for i, n in enumerate(names)}
    )
    if len(frame) == 0:
        checksum = 0
    else:
        hashes = pd.util.hash_pandas_object(frame, index=False).to_numpy()
        checksum = int(hashes.sum(dtype=np.uint64))
    return {"rows": table.num_rows, "checksum": checksum, "columns": names}


def run_oracle(sql: str, sf_dir: str) -> pa.Table:
    import duckdb

    events = os.path.join(sf_dir, "events.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        return con.execute(sql).arrow()
    finally:
        con.close()


def expected(sql: str, sf_dir: str, cache_dir: str) -> dict:
    """Digest of the oracle's result, cached on disk per (input bytes,
    oracle text): the heavier oracles take far longer than the query they
    check."""
    h = hashlib.sha256()
    with open(os.path.join(sf_dir, "events.parquet"), "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    h.update(sql.encode())
    key = h.hexdigest()[:32]
    path = os.path.join(cache_dir, f"{key}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        pass
    result = digest(run_oracle(sql, sf_dir))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, path)
    return result
