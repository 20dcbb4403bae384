"""Gap-based sessionization (SURVEY.md §2 C5; north_rule 'sessionize').

A new session starts when the gap to the previous turn exceeds
``gap_seconds``.  Pure Window chain: lag -> boolean -> running sum — shares
the entity partitioner with the lag/backfill chain (no extra shuffle).
The streaming twin is ``F.session_window`` (streaming/ingest.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.timeutil import epoch_seconds
from featureextraction_jl_spark.operators.windows import entity_window


def ts_gap(ts_col: str, w: WindowSpec) -> Column:
    """Seconds since the previous row of ``w`` (NULL on its first row)."""
    return epoch_seconds(ts_col) - F.lag(epoch_seconds(ts_col)).over(w)


def session_ids(gap: Column, w: WindowSpec, gap_seconds: float) -> Column:
    """0-based session id: the running count over ``w`` of rows whose
    ``gap`` (:func:`ts_gap` over ``w``) exceeds ``gap_seconds``."""
    new_session = F.when(gap > F.lit(float(gap_seconds)), 1).otherwise(0)
    # the running frame derives from the SAME spec — a second hand-built
    # spec can drift (an order tweak applied to one silently misnumbers
    # sessions)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(new_session).over(running).cast("long")


def sessionize(df: DataFrame, key="conv_id", ts_col: str = "ts",
               gap_seconds: float = 1800.0, order=None,
               out_col: str = "session_id") -> DataFrame:
    """Add a 0-based ``session_id`` per entity.

    ``order`` defaults to the timestamp itself; pass e.g. ``[ts_col,
    "turn_idx"]`` for a deterministic total order under duplicate ts.
    """
    w = entity_window(key, [ts_col] if order is None else order)
    return df.withColumn(out_col,
                         session_ids(ts_gap(ts_col, w), w, gap_seconds))


def session_bounds(df: DataFrame, key="conv_id", ts_col: str = "ts",
                   session_col: str = "session_id") -> DataFrame:
    """Collapse sessionized rows to one row per session with bounds + size."""
    key = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*key, session_col).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
    )
