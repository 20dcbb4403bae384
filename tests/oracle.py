"""Pure NumPy/pandas golden oracle implementing SURVEY.md §1.4 verbatim.

Stands in for the unavailable Julia test suite (SURVEY.md §0): the same
documented Julia-stdlib semantics (Statistics.mean/cov corrected=true,
StatsBase.zscore, LinearAlgebra.eigen) expressed in NumPy.  Every engine
kernel is allclose-checked (rtol=1e-8, atol=1e-10) against these.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

RTOL, ATOL = 1e-8, 1e-10
EPS = 1e-12


def mean(x: np.ndarray) -> np.ndarray:
    return np.asarray(x, dtype=np.float64).mean(axis=0)


def cov(x: np.ndarray) -> np.ndarray:
    """Bessel-corrected sample covariance (Julia Statistics.cov default)."""
    x = np.asarray(x, dtype=np.float64)
    return np.cov(x, rowvar=False, ddof=1)


def zscore(x: np.ndarray) -> np.ndarray:
    """(x - mu)/sigma, corrected sigma; sigma==0 -> 0.0 (§1.4.3)."""
    x = np.asarray(x, dtype=np.float64)
    mu = x.mean(axis=0)
    sd = x.std(axis=0, ddof=1)
    z = np.zeros_like(x)
    nz = sd != 0.0
    z[:, nz] = (x[:, nz] - mu[nz]) / sd[nz]
    return z


def sign_fix(v: np.ndarray) -> np.ndarray:
    idx = np.argmax(np.abs(v), axis=0)
    signs = np.sign(v[idx, np.arange(v.shape[1])])
    signs[signs == 0] = 1.0
    return v * signs


def pca_fit(x: np.ndarray, k: int | None = None):
    """Returns (mu, V_k (p,k) desc + sign-fixed, lam_k, total_variance)."""
    sigma = cov(x)
    lam, vec = np.linalg.eigh(sigma)
    order = np.argsort(lam)[::-1]
    lam = np.clip(lam[order], 0.0, None)
    vec = sign_fix(vec[:, order])
    if k is None:
        k = sigma.shape[0]
    return mean(x), vec[:, :k], lam[:k], float(np.trace(sigma))


def pca_project(x: np.ndarray, mu, v_k) -> np.ndarray:
    return (np.asarray(x, np.float64) - mu) @ v_k


def pca_whiten_project(x: np.ndarray, mu, v_k, lam_k) -> np.ndarray:
    return (np.asarray(x, np.float64) - mu) @ (v_k / np.sqrt(lam_k + EPS))


def zca_project(x: np.ndarray, mu, v, lam) -> np.ndarray:
    w = (v / np.sqrt(lam + EPS)) @ v.T
    return (np.asarray(x, np.float64) - mu) @ w


# ---------------------------------------------------------------------------
# Temporal oracles (pandas) — cross-checks for Group C operators
# ---------------------------------------------------------------------------

def asof_backward(left: pd.DataFrame, right: pd.DataFrame, key: str,
                  left_ts: str, right_ts: str,
                  tolerance: pd.Timedelta | None = None) -> pd.DataFrame:
    """pandas merge_asof cross-check (per-key backward as-of)."""
    lo = left.sort_values([left_ts, key]).reset_index(drop=True)
    ro = right.sort_values([right_ts, key]).reset_index(drop=True)
    return pd.merge_asof(lo, ro, left_on=left_ts, right_on=right_ts,
                         by=key, direction="backward", tolerance=tolerance)


def sessionize(ts: pd.Series, gap_seconds: float) -> pd.Series:
    """Session ids within one ordered conversation: 0-based cumulative sum."""
    gaps = ts.diff().dt.total_seconds().fillna(0.0)
    return (gaps > gap_seconds).cumsum()


def forward_fill(s: pd.Series) -> pd.Series:
    return s.ffill()


def asof_join_pandas(left: DataFrame, right: DataFrame, on: str,
                     left_ts: str = "ts", right_ts: str = "ts",
                     direction: str = "backward",
                     tolerance_seconds: float | None = None) -> DataFrame:
    """Cogrouped ``pandas.merge_asof`` cross-check implementation (C1b).

    Both sides shuffle once on the key; each key's rows land in one pandas
    frame (cogroup), merged with the library asof.  O(key group) memory.
    """
    right_cols = [c for c in right.columns if c != on and c != right_ts]
    # Mirror asof_join's plan-time collision check (round-5 review): without
    # it a duplicate payload name builds a schema with two same-named fields
    # and dies mid-job inside the Python worker with an opaque
    # RESULT_COLUMN_NAMES_MISMATCH — a cross-check that crashes differently
    # from the path it checks.
    overlap = set(right_cols) & set(left.columns)
    if overlap:
        raise ValueError(
            f"right payload columns collide with left: {sorted(overlap)}")
    fields = []
    for c in left.schema.fields:
        fields.append(f"{c.name} {c.dataType.simpleString()}")
    rtypes = dict((f.name, f.dataType.simpleString()) for f in right.schema.fields)
    for c in right_cols:
        fields.append(f"{c} {rtypes[c]}")
    schema = ", ".join(fields)
    # `is not None`, not falsy: tolerance_seconds=0.0 means exact-ts-only
    # matches (the production path's semantics at asof_join), not unbounded
    tol = (pd.Timedelta(seconds=tolerance_seconds)
           if tolerance_seconds is not None else None)

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0:
            return pd.DataFrame(columns=list(lpdf.columns) + right_cols)
        # Null-ts handling mirrors the production sweep (_union_sweep):
        # right rows with NULL ts can never be an as-of match -> dropped;
        # left rows with NULL ts pass through unmatched.  Without this,
        # pd.merge_asof raises ValueError("Merge keys contain null values")
        # on a single NaT on EITHER side, killing the task — a cross-check
        # that dies on inputs the primary path tolerates checks nothing.
        null_left = lpdf[lpdf[left_ts].isna()]
        lpdf = lpdf[lpdf[left_ts].notna()]
        rpdf = rpdf[rpdf[right_ts].notna()]
        parts = []
        if len(null_left):
            nl = null_left.copy()
            for c in right_cols:
                nl[c] = None
            parts.append(nl)
        if len(lpdf):
            lo = lpdf.sort_values(left_ts, kind="stable")
            if len(rpdf) == 0:
                out = lo.copy()
                for c in right_cols:
                    out[c] = None
                parts.append(out)
            else:
                ro = (rpdf.sort_values(right_ts, kind="stable")
                      [[right_ts] + right_cols])
                merged = pd.merge_asof(lo, ro, left_on=left_ts,
                                       right_on=right_ts,
                                       direction=direction, tolerance=tol,
                                       suffixes=("", "__r"))
                drop = [c for c in (f"{right_ts}__r", right_ts)
                        if c in merged.columns and c not in lpdf.columns]
                parts.append(merged.drop(columns=drop))
        # parts is never empty here: the len(lpdf)==0 early return above
        # guarantees at least one of null_left / filtered lpdf is non-empty
        return parts[0] if len(parts) == 1 else pd.concat(parts,
                                                          ignore_index=True)

    return left.groupBy(on).cogroup(right.groupBy(on)).applyInPandas(merge, schema)
