"""Result checks: an order-insensitive hash of a result frame, and the
DuckDB oracle over the analytics tables."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def frame_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, hash) of a frame, independent of row and column order.
    Numbers compare by value (ints as float64, exact below 2**53),
    timestamps by nanosecond, everything else by repr."""
    cols = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            cols[c] = s.astype("float64")
        elif pd.api.types.is_numeric_dtype(s):
            cols[c] = pd.to_numeric(s, errors="coerce").astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            cols[c] = s.astype("datetime64[ns]").astype("int64")
        else:
            cols[c] = s.map(repr)
    canon = pd.DataFrame(cols, columns=sorted(df.columns))
    h = hashlib.sha256(",".join(sorted(df.columns)).encode())
    if len(canon):
        rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
        h.update(rows.tobytes())
    return len(df), h.hexdigest()


class DuckOracle:
    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def result(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()
