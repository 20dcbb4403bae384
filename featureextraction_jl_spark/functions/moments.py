"""Streaming mean/covariance moment accumulation (SURVEY.md §2 op A3/A4).

The reference accumulates (mean, covariance) over dense Float64 matrices with
Julia ``Statistics.mean`` / ``Statistics.cov`` semantics (Bessel-corrected,
n-1).  Here the accumulator is the *mergeable* centered-moment triple

    (n, mean, M2)    with    M2 = sum_i (x_i - mean)(x_i - mean)^T

merged pairwise with the Chan/Golub/LeVeque update (SURVEY.md §1.4.4), which
is associative and commutative up to float round-off — this exactness under
arbitrary splits is what makes skew salting (plans/salting.py) and
treeAggregate partials correct.

Distributed accumulation, Arrow-vectorized (no per-row Python):

* :func:`compute_moments` — the mapInArrow worker Chan-merges every Arrow
  batch of its partition in-worker and emits ONE partial row per PARTITION
  (1 + p + p*p doubles); those partials are collected and Chan-merged on
  the driver when the partition count is small, and reduced through
  :func:`compute_moments_bucketed` above ``_BUCKETED_THRESHOLD`` partitions
  so driver traffic is O(buckets * p^2) — constant in input size — at any
  scale (VERDICT r03 #1: the per-batch collect was ~10^8 rows ≈ 500 GB at
  the 10^12-turn design point; the per-partition worker merge plus the
  bucketed reduce removes both the batch and the partition factor).
* :func:`compute_moments_bucketed` — two-level DataFrame reduction: partials
  -> groupBy(partition_id % buckets) applyInPandas Chan-merge on executors
  -> collect <= buckets rows.  One tiny shuffle of O(partitions * p^2)
  bytes, never row data: the executor-side, treeAggregate-style reduce.

No JVM-expression form: raw-sum aggregate expressions lose the Chan
update's cancellation protection and measured slower than the Arrow
partials (25.8 s vs 19.4 s at local[8], ``BENCH/moments_ab.log``).

Grouped/windowed variant: :func:`compute_grouped_moments` emits one moment
row per group key via ``applyInPandas`` (feeds windowed PCA features).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Moments:
    """Mergeable centered moments: count, mean vector, comoment matrix."""

    n: int
    mean: np.ndarray  # shape (p,)
    m2: np.ndarray    # shape (p, p); sum of outer products of deviations

    @property
    def cov(self) -> np.ndarray:
        """Bessel-corrected sample covariance (Julia Statistics.cov default)."""
        if self.n < 2:
            return np.full_like(self.m2, np.nan)
        return self.m2 / (self.n - 1)

    @property
    def std(self) -> np.ndarray:
        """Corrected per-feature standard deviation."""
        return np.sqrt(np.clip(np.diag(self.cov), 0.0, None))

    @property
    def corr(self) -> np.ndarray:
        """Correlation matrix R = D^{-1/2} Sigma D^{-1/2}; zero-variance -> 0."""
        sd = self.std
        with np.errstate(divide="ignore", invalid="ignore"):
            r = self.cov / np.outer(sd, sd)
        r[~np.isfinite(r)] = 0.0
        return r


def batch_moments(x: np.ndarray) -> Moments:
    """Moments of one dense batch (rows = observations). One BLAS GEMM."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n == 0:
        p = x.shape[1] if x.ndim == 2 else 0
        return Moments(0, np.zeros(p), np.zeros((p, p)))
    mean = x.mean(axis=0)
    xc = x - mean
    return Moments(n, mean, xc.T @ xc)


def merge_moments(a: Moments, b: Moments) -> Moments:
    """Chan/Golub/LeVeque pairwise merge — associative, numerically stable."""
    if a.n == 0:
        return b
    if b.n == 0:
        return a
    n = a.n + b.n
    delta = b.mean - a.mean
    mean = a.mean + delta * (b.n / n)
    m2 = a.m2 + b.m2 + np.outer(delta, delta) * (a.n * b.n / n)
    return Moments(n, mean, m2)


# ---------------------------------------------------------------------------
# Distributed accumulation
# ---------------------------------------------------------------------------

_PARTIAL_SCHEMA = "n long, mean array<double>, m2 array<double>"


def _batch_to_matrix(col) -> "np.ndarray | None":
    """Arrow list column -> (n, p) float64 matrix via the flat values buffer
    (~5x faster than np.stack over per-row object arrays, measured
    in-sandbox).  None when no valid rows remain.

    Null semantics (shared with the scalar-column path): rows that are NULL
    or contain a null OR NaN element are DROPPED
    before accumulation.  Element nulls are invisible to the list-level
    ``null_count`` and np.asarray would render them as NaN, silently
    poisoning every downstream moment — they must be masked via the child
    validity.  Ragged batches raise: the old ``flat.size % n == 0``
    heuristic silently mis-reshaped any ragged batch whose total element
    count happened to divide the row count, mixing values across rows.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        col = col.drop_null()
    if len(col) == 0:
        return None
    flat = pc.list_flatten(col)
    if flat.null_count:
        child_null = np.asarray(pc.is_null(flat))
        bad = np.unique(np.asarray(pc.list_parent_indices(col))[child_null])
        mask = np.ones(len(col), dtype=bool)
        mask[bad] = False
        col = col.filter(pa.array(mask))
        if len(col) == 0:
            return None
        flat = pc.list_flatten(col)
    lens = np.asarray(pc.list_value_length(col))
    if not (lens == lens[0]).all():
        raise ValueError(
            f"ragged vector batch: lengths {sorted(set(lens.tolist()))[:5]} "
            "— moments require fixed-dimension vectors (filter or pad "
            "upstream)")
    m = np.asarray(flat, dtype=np.float64).reshape(len(col), int(lens[0]))
    # genuine NaN VALUES (Arrow-valid, not null) poison moments exactly like
    # masked nulls would — drop those rows too, so every moments path
    # (Arrow, grouped/salted/streaming pandas kernels, where NaN and null
    # are indistinguishable anyway) shares ONE contract: rows with a null
    # OR NaN element never contribute.
    m = m[~np.isnan(m).any(axis=1)]
    return m if len(m) else None


def _emit_partial(m: "Moments | None"):
    """One (n, mean, flattened m2) RecordBatch, or nothing for an empty/
    all-null partition (the reduce side treats absence as the zero moment)."""
    import pyarrow as pa

    if m is None or m.n == 0:
        return
    yield pa.RecordBatch.from_pydict({
        "n": pa.array([m.n], pa.int64()),
        "mean": pa.array([m.mean.tolist()], pa.list_(pa.float64())),
        "m2": pa.array([m.m2.ravel().tolist()], pa.list_(pa.float64())),
    })


def _arrow_partials(batches, col_idx: int = 0):
    """mapInArrow worker: Chan-merge every Arrow batch of this partition
    in-worker, emit ONE (n, mean, flattened m2) row per PARTITION.

    The in-worker merge keeps worker state at O(p^2) regardless of
    partition size and cuts downstream partial rows from O(batches) to
    O(partitions) — the first level of the two-level reduction that keeps
    the flagship's moment pass off the driver at design scale."""
    acc = None
    for b in batches:
        if b.num_rows == 0:
            continue
        x = _batch_to_matrix(b.column(col_idx))
        if x is None:          # batch had no valid (non-null) vectors
            continue
        m = batch_moments(x)
        acc = m if acc is None else merge_moments(acc, m)
    yield from _emit_partial(acc)


def _arrow_partials_cols(batches):
    """mapInArrow worker over p scalar double columns — column_stack is
    zero-copy per column (no per-row array objects anywhere).

    Null semantics mirror the array-column path (_batch_to_matrix): rows
    containing any null are dropped before the moments are computed —
    np.asarray alone would render Arrow nulls as NaN and silently poison
    every moment (pinned in tests/test_kernels.py).
    """
    import pyarrow as pa

    acc = None
    for b in batches:
        if b.num_rows == 0:
            continue
        cols = [b.column(i) for i in range(b.num_columns)]
        if any(c.null_count for c in cols):
            keep = np.ones(b.num_rows, dtype=bool)
            for c in cols:
                keep &= np.asarray(c.is_valid())
            cols = [c.filter(pa.array(keep)) for c in cols]
            if len(cols[0]) == 0:
                continue
        x = np.column_stack([np.asarray(c, dtype=np.float64) for c in cols])
        m = batch_moments(x)
        acc = m if acc is None else merge_moments(acc, m)
    yield from _emit_partial(acc)


def _partials_df(df: DataFrame, vec_col) -> DataFrame:
    # Select-before-map: column pruning can't see inside the UDF, so prune
    # explicitly (SURVEY.md §4 column-pruning caveat).  A list of scalar
    # double columns takes the fully-columnar path (preferred: the plan
    # never builds a per-row array); a single array<double> column reshapes
    # the flat Arrow values buffer.
    if isinstance(vec_col, (list, tuple)):
        return df.select(*vec_col).mapInArrow(_arrow_partials_cols,
                                              schema=_PARTIAL_SCHEMA)
    return df.select(vec_col).mapInArrow(_arrow_partials, schema=_PARTIAL_SCHEMA)


def _row_to_moments(row) -> Moments:
    mean = np.asarray(row["mean"], dtype=np.float64)
    p = mean.shape[0]
    return Moments(int(row["n"]), mean, np.asarray(row["m2"], dtype=np.float64).reshape(p, p))


def merge_moment_rows(rows) -> Moments:
    """Chan-fold (n, mean, m2) partial rows into one Moments.

    Accepts a (small) DataFrame of partial rows — collected on the driver —
    or any iterable of rows that index by field name (Spark Rows, pandas
    rows).  THE one decode+fold for partial-moment rows, shared by the
    driver collect path, the bucketed-reduce kernel, and the salted
    re-merge (round-5 review: three hand-rolled copies of the 'read
    n/mean/m2, reshape by p, merge' loop had appeared — a partial-row
    format change must land everywhere at once).  Exact under any grouping
    because the Chan merge is associative/commutative."""
    if isinstance(rows, DataFrame):
        rows = rows.select("n", "mean", "m2").collect()
    acc = Moments(0, np.zeros(0), np.zeros((0, 0)))
    for row in rows:
        acc = merge_moments(acc, _row_to_moments(row))
    return acc


#: partition count above which compute_moments inserts the executor-side
#: bucketed reduce instead of collecting per-partition partials straight to
#: the driver.  Below it the collect is < ~2048 * 5 KB ≈ 10 MB (p=25) and
#: the extra shuffle stage would only add latency; above it the bucketed
#: path keeps driver traffic at O(buckets * p^2) no matter how many
#: partitions the 10^12-turn scan has.
_BUCKETED_THRESHOLD = 2048


def compute_moments(df: DataFrame, vec_col) -> Moments:
    """Scale-adaptive moment accumulation: Arrow partials -> Chan-merge.

    The mapInArrow worker already merges its partition's batches in-worker,
    so the partial frame has ONE row per partition.  With at most
    ``_BUCKETED_THRESHOLD`` source partitions those rows are collected and
    merged on the driver (O(partitions * p^2) driver bytes, no extra
    stage); above it they go through the executor-side
    :func:`compute_moments_bucketed` (O(buckets * p^2) driver bytes — the
    design-scale path).  The probe is ``df.rdd.getNumPartitions()``.  It is
    NOT free when ``df`` ends in a shuffle: under AQE, building the RDD
    runs the map stages below the last exchange as a Spark job (on
    ``feature_job``'s chain that is the as-of exchange: 0.23–0.33 s warm
    at perfbench seed 61 on a 4-core VM), and the partials' collect then
    runs that stage again.

    ``vec_col``: an array<double> column name, or a list of scalar double
    column names (faster — fully columnar Arrow transfer).
    """
    if df.rdd.getNumPartitions() > _BUCKETED_THRESHOLD:
        return compute_moments_bucketed(df, vec_col)
    return merge_moment_rows(_partials_df(df, vec_col).collect())


def compute_moments_bucketed(df: DataFrame, vec_col,
                             buckets: int = 64) -> Moments:
    """Two-level executor-side reduction of the per-partition partials.

    Level 1: each partial row is keyed by ``spark_partition_id() % buckets``
    (locality-preserving, no hash needed) and the <= ``buckets`` groups are
    Chan-merged on executors via applyInPandas — the shuffle moves only
    O(partitions * p^2) bytes of moments.  Level 2: the driver collects the
    <= ``buckets`` bucket rows and finishes the merge — O(buckets * p^2)
    driver traffic, independent of both row and partition count.  Exact
    under any grouping because the Chan merge is associative/commutative.
    """
    partials = _partials_df(df, vec_col).withColumn(
        "_b", F.spark_partition_id() % F.lit(buckets))

    def _merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = merge_moment_rows(row for _, row in pdf.iterrows())
        return pd.DataFrame({"n": [acc.n], "mean": [acc.mean.tolist()],
                             "m2": [acc.m2.ravel().tolist()]})

    merged = partials.groupBy("_b").applyInPandas(
        _merge_bucket, schema=_PARTIAL_SCHEMA)
    return merge_moment_rows(merged.collect())


def pandas_clean_stack(vals: "pd.Series") -> "np.ndarray | None":
    """pandas twin of ``_batch_to_matrix`` for applyInPandas group kernels:
    drop NULL rows AND rows containing a null element, raise on ragged
    groups.  Returns None when no valid rows remain.

    Without the element mask, a single ``[1.0, null, ...]`` vector arrives
    as NaN and silently poisons its group's mean/M2 (NaN covariance ->
    eigh LinAlgError or a NaN model in the windowed-PCA fit) — the exact
    hazard _batch_to_matrix documents and masks on the global path.
    Genuine NaN VALUES are dropped under the same rule: every moments path
    (Arrow, pandas kernels) shares the contract "rows with a null or
    NaN element never contribute", so the pinned cross-path equivalences
    hold on NaN-bearing data too.  Both group kernels (grouped + salted
    partial) share this helper, so their equivalence is by construction.
    """
    vals = vals.dropna()
    if len(vals) == 0:
        return None
    arrs = vals.to_numpy()
    lens = np.fromiter((len(v) for v in arrs), dtype=np.int64,
                       count=len(arrs))
    if not (lens == lens[0]).all():
        raise ValueError(
            f"ragged vector group: lengths "
            f"{sorted(set(lens.tolist()))[:5]} — moments require "
            "fixed-dimension vectors (filter or pad upstream)")
    x = np.stack(arrs).astype(np.float64)
    x = x[~np.isnan(x).any(axis=1)]
    return x if len(x) else None


def masked_vector_apply(s: "pd.Series", fn) -> "pd.Series":
    """Apply ``fn`` (matrix -> matrix) to the valid rows of an array-column
    pandas Series, emitting NULL for NULL vectors AND for vectors carrying
    a null/NaN element.

    The transform twin of :func:`pandas_clean_stack`'s drop rule, shared by
    every vectorized projection/standardization UDF (project_udf,
    inverse_udf, zscore_vec_udf): the fit side drops null-element rows from
    the moments, so the serving side must map them to NULL rather than
    emitting a NaN-bearing feature vector that passes an
    ``IS NOT NULL`` filter and poisons downstream aggregates (round-5
    review: the global path disagreed with project_windowed's mask on
    identical input).
    """
    mask = s.notna().to_numpy()
    out = pd.Series([None] * len(s), dtype=object, index=s.index)
    if not mask.any():
        return out
    x = np.stack(s[mask].to_numpy()).astype(np.float64)
    good = ~np.isnan(x).any(axis=1)
    if not good.any():
        return out
    idx = s.index[mask][good]
    out[idx] = pd.Series(list(fn(x[good])), index=idx)
    return out


def compute_grouped_moments(df: DataFrame, group_cols: list[str], vec_col: str) -> DataFrame:
    """Per-group moments via applyInPandas: one (group, n, mean, m2) row each.

    Feeds windowed PCA/whitening (group = (conv_id, window) or a time bucket).
    Group state is O(p^2), not O(group rows): the incoming group frame is
    reduced immediately.  Mega-groups should be pre-salted (plans/salting.py)
    because applyInPandas materializes each group in memory (SURVEY.md §4
    spill row).
    """
    out_schema = ", ".join(f"{c} {t}" for c, t in
                           [(c, dict(df.dtypes)[c]) for c in group_cols]) \
        + ", n long, mean array<double>, m2 array<double>"

    def reduce_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # pandas_clean_stack: NULL vectors AND vectors with a null element
        # dropped, ragged groups raise — the same semantics as every other
        # moments path; a group with no valid vectors emits nothing.
        x = pandas_clean_stack(pdf[vec_col])
        if x is None:
            # object dtype: Arrow cannot convert an empty float64 ndarray
            # column to list<double>
            return pd.DataFrame({c: pd.Series([], dtype=object) for c in
                                 [*group_cols, "n", "mean", "m2"]})
        m = batch_moments(x)
        row = {c: [k] for c, k in zip(group_cols, key)}
        row.update({"n": [m.n], "mean": [m.mean.tolist()], "m2": [m.m2.ravel().tolist()]})
        return pd.DataFrame(row)

    return (
        df.select(*group_cols, vec_col)
        .groupBy(*group_cols)
        .applyInPandas(reduce_group, schema=out_schema)
    )


