"""Z-score standardization (SURVEY.md §2 op A2; centering, A1, is the
mean subtraction inside every projection and z-score below).

Julia StatsBase.zscore semantics: (x - mu)/sigma with Bessel-corrected sigma;
sigma == 0 -> output 0.0 (guard pinned in SURVEY.md §1.4.3).

Two shapes:

* global over scalar columns — pure Catalyst expressions (stays in
  whole-stage codegen; no UDF at all);
* per-group — a single Window chain sharing the group partitioner, or the
  SQL-oracle-checkable equivalent.
Vector (array<double>) columns standardize through the moments kernel +
an Arrow UDF over the vector codec (``vector_udf``, the same shape as the
PCA projection).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import Moments, vector_udf


def _guarded(col: Column, mu: Column, sigma: Column) -> Column:
    # NULL input stays NULL even in the zero-sigma branch: a blanket 0.0
    # there would fabricate observed-looking z-scores for missing rows,
    # flipping the library's null-propagation contract on and off with the
    # column's variance.
    return (F.when(col.isNull(), F.lit(None).cast("double"))
            .when(sigma == 0.0, F.lit(0.0))
            .otherwise((col - mu) / sigma))


def zscore_global(df: DataFrame, cols: list[str]) -> DataFrame:
    """Global z-score of scalar columns, two-pass: agg(mean, stddev) -> select.

    The aggregate is a Catalyst partial+final HashAggregate (map-side
    combine); the transform is pure codegen — no Python in either pass.
    """
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"__mu_{c}"), F.stddev_samp(c).alias(f"__sd_{c}")]
    stats = df.agg(*aggs).collect()[0]
    out = df
    for c in cols:
        mu, sd = stats[f"__mu_{c}"], stats[f"__sd_{c}"]
        sd = 0.0 if sd is None or sd != sd else sd
        # sd==0 maps observed values to 0.0 but must keep NULLs NULL (see
        # _guarded) — a bare lit(0.0) would fabricate data for missing rows.
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(), F.lit(0.0)) if sd == 0.0
            else (F.col(c) - F.lit(mu)) / F.lit(sd)
        )
    return out


def zscore_by_group(df: DataFrame, group_cols: list[str], cols: list[str]) -> DataFrame:
    """Per-group z-score via an unbounded Window — one shuffle on the group key.

    All columns share one Window spec, so Catalyst plans a single Exchange +
    Sort for the whole chain.
    """
    w = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = df
    for c in cols:
        out = out.withColumn(
            c, _guarded(F.col(c), F.avg(c).over(w),
                        F.coalesce(F.stddev_samp(c).over(w), F.lit(0.0)))
        )
    return out


def zscore_vec_udf(moments: Moments, col) -> Column:
    """Standardize an array<double> column with precomputed global moments."""
    mu = moments.mean
    sd = moments.std
    safe = np.where(sd == 0.0, 1.0, sd)
    zero_mask = sd == 0.0

    def _standardize(x: np.ndarray) -> np.ndarray:
        z = (x - mu) / safe
        z[:, zero_mask] = 0.0
        return z

    # NULL vectors AND vectors with a null/NaN element standardize to NULL
    # (the fit side dropped them from the moments) instead of emitting NaN
    # features (VERDICT r04 #1 + round-5 review).
    return vector_udf(_standardize)(col)
