"""Local mirror of the driver's correctness gate.

Runs a declared query on Spark and its oracle SQL on DuckDB over the same
parquet fixtures, then compares row-count + column set + values
order-insensitively. Used by tests/test_oracle_parity.py so every
registered query is validated locally before the driver ever sees it.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
import pandas as pd

from .io_utils import TABLES

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-9


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con.execute(sql).df()


def _canon_value(v: Any) -> Any:
    """Canonicalize one cell for the sort key (not for comparison)."""
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return ""
        return f"{v:.6f}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _canon_frame(df: pd.DataFrame, float_in_key: bool = True) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    # timestamps → naive datetime64[us]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    if len(df):
        # per-column map + reduce-join is ~10× faster than a per-row
        # apply at sf1 result sizes (same key bytes, same ordering).
        # Tolerant compares (rtol) exclude float columns from the sort
        # key: approximate values differ per engine and would misalign
        # rows whose non-float key columns match exactly.
        key_cols = [
            c
            for c in df.columns
            if float_in_key or not pd.api.types.is_float_dtype(df[c].dtype)
        ] or list(df.columns)
        parts = [df[c].map(_canon_value).to_numpy(dtype=object) for c in key_cols]
        key = parts[0]
        for p in parts[1:]:
            # separator must be a NON-NUL control char: numpy converts a
            # str scalar through its fixed-width unicode type, which
            # strips trailing "\x00" — a NUL separator silently becomes
            # "" and digit-boundary keys collide (("23","9239") vs
            # ("239","239") both → "239239"), misaligning rows into
            # FALSE mismatches (found at sf1 on connected components)
            key = key + "\x1f" + p
        df = df.iloc[np.argsort(key, kind="stable")].reset_index(drop=True)
    return df


def _cells_equal(a: Any, b: Any, rtol: float = FLOAT_RTOL) -> bool:
    a_null = a is None or (isinstance(a, float) and math.isnan(a)) or a is pd.NaT or a is pd.NA
    b_null = b is None or (isinstance(b, float) and math.isnan(b)) or b is pd.NaT or b is pd.NA
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        a_l, b_l = list(a), list(b)
        return len(a_l) == len(b_l) and all(
            _cells_equal(x, y, rtol) for x, y in zip(a_l, b_l)
        )
    if isinstance(a, float) or isinstance(b, float):
        try:
            return bool(np.isclose(float(a), float(b), rtol=rtol, atol=FLOAT_ATOL))
        except (TypeError, ValueError):
            return False
    if isinstance(a, (pd.Timestamp, np.datetime64)) or isinstance(b, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(a) == pd.Timestamp(b)
    return a == b


def compare_frames(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, rtol: float | None = None
) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = pass).

    ``rtol`` widens the float relative tolerance for queries whose
    output is a principled approximation (QueryDef.rtol, e.g. an HLL
    estimate compared against the oracle's exact count); default is the
    near-bit-exact FLOAT_RTOL."""
    tolerant = rtol is not None
    rtol = FLOAT_RTOL if rtol is None else rtol
    errors: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return [f"column mismatch: spark={s_cols} oracle={o_cols}"]
    if len(spark_pdf) != len(oracle_pdf):
        errors.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        return errors
    s = _canon_frame(spark_pdf, float_in_key=not tolerant)
    o = _canon_frame(oracle_pdf, float_in_key=not tolerant)
    bad = 0
    for c in s.columns:
        # Vectorized prefilter per column; only cells that FAIL the fast
        # equality re-run through _cells_equal, so semantics are exactly
        # the per-cell comparison (the fast path can only produce false
        # negatives, never false positives: np.isclose here is the same
        # rtol/atol _cells_equal uses, and elementwise == failures fall
        # through to the tolerant/null-aware per-cell check).
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc.dtype) and pd.api.types.is_float_dtype(oc.dtype):
            # na_value handles pandas nullable Float64 with pd.NA (which
            # to_numpy(dtype=float) would otherwise raise on); NaN↔NaN
            # then matches in the null branch below. Any other failure
            # degrades to the per-cell path like the object branch.
            try:
                a = sc.to_numpy(dtype=float, na_value=float("nan"))
                b = oc.to_numpy(dtype=float, na_value=float("nan"))
                with np.errstate(invalid="ignore"):
                    fast_eq = np.isclose(a, b, rtol=rtol, atol=FLOAT_ATOL) | (
                        np.isnan(a) & np.isnan(b)
                    )
            except Exception:
                fast_eq = np.zeros(len(s), dtype=bool)
        else:
            try:
                fast_eq = np.asarray(sc.to_numpy(dtype=object) == oc.to_numpy(dtype=object))
                if fast_eq.dtype != bool or fast_eq.shape != (len(s),):
                    fast_eq = np.zeros(len(s), dtype=bool)
            except Exception:
                fast_eq = np.zeros(len(s), dtype=bool)
        for i in np.flatnonzero(~fast_eq):
            i = int(i)
            if not _cells_equal(s.at[i, c], o.at[i, c], rtol):
                bad += 1
                if bad <= 5:
                    errors.append(f"row {i} col {c}: spark={s.at[i, c]!r} oracle={o.at[i, c]!r}")
    if bad > 5:
        errors.append(f"... {bad} mismatched cells total")
    return errors


def check_query(name: str, spark, sf_dir: str) -> list[str]:
    """Run one registered query against its oracle; [] means pass."""
    from .plans import load_all

    qd = load_all()[name]
    spark_pdf = qd.fn(spark, sf_dir).toPandas()
    if qd.oracle is None:
        return []
    oracle_pdf = run_oracle(qd.oracle, sf_dir)
    return compare_frames(spark_pdf, oracle_pdf, rtol=qd.rtol)
