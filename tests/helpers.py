from __future__ import annotations

import numpy as np
import pandas as pd


def normalized(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def _type_kind(series: pd.Series) -> str:
    """Coarse type kind for strict comparison: float/int/bool/str/other.
    Mirrors the driver's type-sensitive hash -- a Spark DECIMAL (object of
    decimal.Decimal) vs a DuckDB DOUBLE must FAIL here, not be coerced."""
    import decimal

    if series.dtype.kind in "fiub":
        return {"f": "float", "i": "int", "u": "int", "b": "bool"}[series.dtype.kind]
    sample = series.dropna()
    if len(sample) and isinstance(sample.iloc[0], decimal.Decimal):
        return "decimal"
    return "str"


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, atol: float = 0.0):
    assert len(spark_pdf) == len(oracle_pdf), f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    # Type-strict: compare representation kinds BEFORE value coercion, like
    # the driver's hash gate (caught the round-1 DECIMAL-vs-DOUBLE red).
    for c in sorted(spark_pdf.columns):
        sk, dk = _type_kind(spark_pdf[c]), _type_kind(oracle_pdf[c])
        assert sk == dk, f"col {c}: type kind {sk} (spark) != {dk} (oracle)"
    s, d = normalized(spark_pdf), normalized(oracle_pdf)
    for c in s.columns:
        if s[c].dtype.kind == "f" or d[c].dtype.kind == "f":
            sa = s[c].astype(float).to_numpy()
            da = d[c].astype(float).to_numpy()
            assert np.allclose(sa, da, rtol=0, atol=atol, equal_nan=True), f"col {c} differs"
        else:
            assert s[c].astype(str).equals(d[c].astype(str)), f"col {c} differs"


def run_query_vs_oracle(spark, duck, sf_dir, name: str, atol: float = 0.0):
    from rlink_rs_spark.queries import REGISTRY

    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    assert q.oracle is not None, f"{name} has no oracle"
    oracle_pdf = duck.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, atol=atol)
    return spark_pdf


def fail_once(monkeypatch, name: str, should_fail, message: str, after: bool = False) -> list:
    """Patch streaming.deltas.<name> so that the first call whose positional
    arguments satisfy ``should_fail`` raises RuntimeError(message) -- before
    the real call, or right after it with ``after=True``. The sinks call
    deltas' functions through the module, so the patch reaches their epoch
    handlers. Returns the list the failing call's arguments land in."""
    from rlink_rs_spark.streaming import deltas

    real = getattr(deltas, name)
    fired: list = []

    def patched(*args):
        hit = not fired and should_fail(*args)
        if hit and not after:
            fired.append(args)
            raise RuntimeError(message)
        out = real(*args)
        if hit:
            fired.append(args)
            raise RuntimeError(message)
        return out

    monkeypatch.setattr(deltas, name, patched)
    return fired
