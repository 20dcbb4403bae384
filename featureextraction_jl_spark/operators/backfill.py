"""Forward-fill / backward-fill backfill (SURVEY.md §2 C6; north_rule 'backfill').

``last(col, ignorenulls=True)`` over an unbounded-preceding frame propagates
the most recent non-null observation forward per entity — leakage-safe (the
frame never looks past the current row).  Backward fill is the mirrored
frame and is NOT leakage-safe; it exists for offline imputation only and is
flagged as such.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from featureextraction_jl_spark.operators.windows import entity_window


def filled(col: str, w: WindowSpec) -> Column:
    """``col``'s most recent non-null value up to the current row of ``w``."""
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.last(col, ignorenulls=True).over(running)


def forward_fill(df: DataFrame, key, order, cols: Sequence[str]) -> DataFrame:
    w = entity_window(key, order)
    out = df
    for c in cols:
        out = out.withColumn(c, filled(c, w))
    return out


def backward_fill(df: DataFrame, key, order, cols: Sequence[str]) -> DataFrame:
    """Offline-only: reads FUTURE rows; never use inside the feature path."""
    w = entity_window(key, order).rowsBetween(Window.currentRow,
                                              Window.unboundedFollowing)
    out = df
    for c in cols:
        out = out.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return out
