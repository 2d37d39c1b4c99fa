"""DuckDB oracles and the order-insensitive result comparison.

Every check runs outside the timed window. Registry operations are
checked against their own registry oracle SQL over the generated tables;
the window pipeline is checked against DuckDB over the on-time rows,
restricted to the windows the final watermark has closed.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from gen import DELAY_MS, SLIDE_MS, WINDOW_MS

WINDOW_COLUMNS = [
    "window_start", "window_end", "user_id", "sum_value", "max_value", "min_value", "count",
]


def connect(inputs_dir: str, temp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with a view per generated table; spills (if any)
    go to ``temp_dir``."""
    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": threads})
    for name in ("events", "documents", "embeddings"):
        path = os.path.join(inputs_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def window_oracle(con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """Sliding 60 s / 20 s window sum/max/min/count per key over the on-time
    rows, keeping the windows whose end the final watermark has passed."""
    nk = WINDOW_MS // SLIDE_MS
    return con.sql(
        f"""
        WITH a AS (
          SELECT (epoch_ms(ts) // {SLIDE_MS}) * {SLIDE_MS} - k.k * {SLIDE_MS} AS ws, t.*
          FROM events t CROSS JOIN range({nk}) k(k)
        )
        SELECT ws AS window_start, ws + {WINDOW_MS} AS window_end, user_id,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value,
               MAX(value) AS max_value, MIN(value) AS min_value,
               COUNT(*) AS "count"
        FROM a GROUP BY ws, user_id
        HAVING ws + {WINDOW_MS} <= (SELECT epoch_ms(MAX(ts)) FROM events) - {DELAY_MS}
        """
    ).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison (floats compared bit-exactly,
    NaN equal to NaN). Returns the problems found; empty means equal."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            ga, wa = gv.astype(float).to_numpy(), wv.astype(float).to_numpy()
            bad = ~((ga == wa) | (np.isnan(ga) & np.isnan(wa)))
        else:
            bad = (gv.astype(str) != wv.astype(str)).to_numpy()
        if bad.any():
            i = int(bad.argmax())
            problems.append(f"{c}: {int(bad.sum())} diffs, first {gv.iloc[i]!r} vs {wv.iloc[i]!r}")
    return problems
