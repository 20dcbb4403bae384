"""The flagship point-in-time feature job (SURVEY.md §3.2).

scan -> char_len projection (text bytes never shuffle in the fit pass)
     -> as-of join feature snapshots        [Window 1; shuffle #1, union-
        trick — the ONLY full-data exchange and the ONLY sort; both
        Windows after it reuse its hash(conv_id) partitioning and order]
     -> one (conv_id; ts, turn_idx) spec: lag(ts), lag(char_len), trailing
        avg(char_len), forward-filled tool  [Window 2], then the session
        count over that lag(ts)             [Window 3]
     -> assemble numeric raw feature vector (pure JVM exprs)
     -> global moment accumulation          [Arrow partials: one row per
        partition (in-worker Chan merge); auto-switches to the executor-side
        bucketed reduce above 2048 partitions, so driver traffic is
        O(buckets * p^2) at the 10^12-turn design point]
     -> driver-side PCA/whitening fit (p x p eigh); the model rides the
        projection's closure
     -> Arrow UDF projection (the list buffer decodes straight to a matrix
        through the vector codec, one GEMM per batch; NULL for the rows the
        codec drops) -> features + byte-equal text passthrough

Measured plan decisions (local[32], 6.6M-turn fixture):

* As-of join FIRST: its union window must shuffle both sides anyway, so a
  prior ``bucket_and_sort`` exchange was pure waste — one full shuffle+sort
  of every turn, thrown away.  Partition count is governed by
  ``spark.sql.shuffle.partitions`` (the Spark-idiomatic bucket knob); the
  explicit ``bucket(n, conv_id)`` layout lives at the SINK
  (sources/tables.py write path) where it persists for the next reader.
* ``char_len`` is computed below the shuffle: the fit pass reads only
  ``raw_vec``, so Catalyst prunes the text column out of the exchange
  entirely — the fit pass shuffles ~25 doubles/row instead of the text
  payload.  The projection pass still carries text (byte-equal passthrough).
* Window functions that share a partition and order key share one
  operator (Leis et al., VLDB 2015): each WindowExec buffers every conv_id
  group, with the text in the transform pass.  Only ``sum(new_session)``
  reads another window's output, so the chain needs two Windows after the
  as-of, and ``lag(ts)`` feeds both the gap component and the session
  count.
* Recompute beats cache: persisting the prepared frame between the two
  passes measured 365s vs 197s recompute (text-heavy rows defeat the
  cache; codegen fusion is lost), so the chain is never persisted.
* Arrow-batched projection: one BLAS GEMM per Arrow batch beat a p*k
  codegen multiply-add expression, 4.6s vs 7.7s (5 reps, 1.26M turns,
  local[32]) and 38.3s vs 69.6s at local[8] (``BENCH/proj_ab.log``; the
  batch side was then a pandas UDF, since replaced by an Arrow UDF that
  skips the per-row NumPy objects).

Zero temporal leakage by construction: every input to the vector at
(conv_id, ts) is a backward-looking Window (rowsBetween ... currentRow), the
backward as-of match, or the row itself.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import compute_moments
from featureextraction_jl_spark.functions.pca import PCAModel, fit_pca, project_udf
from featureextraction_jl_spark.operators.sessionize import session_ids, ts_gap
from featureextraction_jl_spark.operators.backfill import filled
from featureextraction_jl_spark.operators.asof import asof_join
from featureextraction_jl_spark.operators.windows import entity_window
from featureextraction_jl_spark.plans.windowed_pca import (
    WindowedPCA,
    _duration_seconds,
    fit_windowed_pca,
    project_windowed,
)


@dataclass
class FeatureJobConfig:
    gap_seconds: float = 1800.0
    num_buckets: int = 64
    k: int = 8                      # PCA components
    mode: str = "pca_whiten"        # pca | pca_whiten | zca
    snap_dim: int = 16              # dim of snapshot vectors
    rolling_turns: int = 8
    #: fit one model PER TUMBLING WINDOW of this duration (e.g. "1 hour")
    #: instead of one global model — the "windowed PCA/whitening features"
    #: path (plans/windowed_pca.py).  None = global model (default).
    window_duration: str | None = None
    #: with window_duration: project through the model fitted ``n`` windows
    #: EARLIER (strict point-in-time serving; first windows -> NULL).
    window_lag_models: int = 0

    def __post_init__(self):
        # fail here, not after the moment pass wrote model.npz and fit.json
        if self.mode not in ("pca", "pca_whiten", "zca"):
            raise ValueError(f"unknown mode {self.mode!r}")
        if min(self.rolling_turns, self.window_lag_models) < 0:
            raise ValueError("rolling_turns and window_lag_models must be >= 0")
        if self.window_duration is not None:
            _duration_seconds(self.window_duration)


ORDER = ["ts", "turn_idx"]  # deterministic total order under duplicate ts


def _windows(w: WindowSpec, cfg: FeatureJobConfig) -> dict[str, Column]:
    """The lag and trailing-mean values ``raw_vec`` reads, over ``w``."""
    return {"_gap": ts_gap("ts", w),
            "_prev_len": F.lag("char_len", 1).over(w),
            "_mean_len": F.avg("char_len").over(
                w.rowsBetween(-cfg.rolling_turns, 0))}


def _raw_vec(df: DataFrame, cfg: FeatureJobConfig) -> DataFrame:
    """``df`` with ``raw_vec``, the backward-looking numeric vector per turn:
    log1p(char len), gap seconds to previous turn, session id, turn_idx,
    lag-1 char len, rolling mean char len, role flags, plus the as-of
    snapshot vector (zeros when no snapshot preceded this turn).  Reads the
    columns :func:`_windows` adds and drops them with ``char_len``."""
    base = F.array(
        F.log1p("char_len"),
        F.coalesce(F.log1p("_gap"), F.lit(0.0)),
        F.col("session_id").cast("double"),
        F.log1p(F.col("turn_idx").cast("double")),
        F.coalesce(F.log1p("_prev_len"), F.lit(0.0)),
        F.log1p("_mean_len"),
        F.when(F.col("role") == "assistant", 1.0).otherwise(0.0),
        F.when(F.col("role") == "tool", 1.0).otherwise(0.0),
        F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0),
    )
    zeros = F.array(*[F.lit(0.0)] * cfg.snap_dim)
    snap = F.coalesce(F.col("snap_vec"), zeros)
    return df.withColumn("raw_vec", F.concat(base, snap)) \
        .drop("char_len", "_gap", "_prev_len", "_mean_len")


def assemble_raw_vector(df: DataFrame, cfg: FeatureJobConfig) -> DataFrame:
    """``raw_vec`` of a sessionized, forward-filled frame — pure Catalyst
    exprs.  ``char_len`` arrives precomputed from below the shuffle so the
    fit pass's pruned plan never carries text bytes through the exchange."""
    w = entity_window("conv_id", ORDER)
    return _raw_vec(df.withColumns(_windows(w, cfg)), cfg)


def build_turn_features(transcripts: DataFrame, snapshots: DataFrame | None,
                        cfg: FeatureJobConfig) -> DataFrame:
    """Everything before the statistical kernels — JVM-only plan.

    Operator order is chosen for shuffle reuse (see module docstring): the
    as-of union window performs the single hash(conv_id) exchange and the
    one sort, and the two Windows of the (conv_id; ts, turn_idx) spec
    inherit that clustering and order.
    """
    # coalesce: a NULL text (legal per the schema) must yield char_len 0.0,
    # not a null raw_vec element — the Arrow moments path would render that
    # null as NaN and one such turn would poison the global covariance and
    # the fitted model for the entire run.
    df = transcripts.withColumn(
        "char_len", F.coalesce(F.length("text").cast("double"), F.lit(0.0)))
    if snapshots is not None:
        # Prune the snapshot side to the columns this job consumes BEFORE
        # the join (round-5 review): the as-of sweep carries the whole
        # right payload in one struct through the job's single full-data
        # Exchange+Sort, and the window aggregate blocks Catalyst
        # struct-field pruning — unused snapshot columns (snap_score)
        # would be shuffled for every row and then dropped.
        snapshots = snapshots.select("conv_id", "snapshot_ts", "snap_vec")
        # left_order=ORDER[1:]: fold turn_idx into the sweep's sort so the
        # chain's (ts, turn_idx) ordering is already delivered — Catalyst
        # elides the Windows' Sort (one sort per pass, not two; pinned by
        # test_flagship_plan_invariants).
        df = asof_join(df, snapshots, on="conv_id", left_ts="ts",
                       right_ts="snapshot_ts", direction="backward",
                       left_order=tuple(ORDER[1:]))
    else:
        df = df.withColumn("snap_vec", F.lit(None).cast("array<double>"))
    w = entity_window("conv_id", ORDER)
    # one Window operator for every function of the input (tool replaced in
    # place, as forward_fill does); the session count reads the gap, so it
    # is the next one
    df = df.withColumns({"tool": filled("tool", w), **_windows(w, cfg)})
    df = df.withColumn("session_id",
                       session_ids(F.col("_gap"), w, cfg.gap_seconds))
    return _raw_vec(df, cfg)


def fit_model(prepared: DataFrame,
              cfg: FeatureJobConfig) -> tuple[PCAModel | WindowedPCA, dict]:
    """``cfg``'s model fitted on a built chain (a WindowedPCA when
    ``cfg.window_duration`` is set, else a global PCAModel) and the
    statistics the fit manifest records."""
    if cfg.window_duration is not None:
        model = fit_windowed_pca(prepared, "raw_vec", "ts",
                                 cfg.window_duration, k=cfg.k, mode=cfg.mode)
        return model, {"windowed": True,
                       "window_duration": cfg.window_duration,
                       "n_rows": int(sum(model.counts.values())
                                     + sum(model.skipped.values())),
                       "windows_fitted": len(model.models),
                       "windows_skipped": len(model.skipped)}
    moments = compute_moments(prepared, "raw_vec")
    model = fit_pca(moments, k=cfg.k, mode=cfg.mode)
    return model, {"n_rows": int(moments.n), "p": int(moments.mean.shape[0]),
                   "moment_checksum": hashlib.sha256(
                       moments.mean.tobytes() + moments.m2.tobytes()
                   ).hexdigest()[:16],
                   "explained_variance_ratio": [
                       round(float(r), 8)
                       for r in model.explained_variance_ratio]}


def project_features(prepared: DataFrame, model,
                     cfg: FeatureJobConfig) -> DataFrame:
    """The job's output over a built chain: the passthrough columns plus
    ``feature_vec``, projected through ``model``, a global PCAModel, or a
    WindowedPCA when ``cfg.window_duration`` is set (every row projects
    through its own window's model, or one ``cfg.window_lag_models``
    earlier).  A model of the other kind raises TypeError."""
    if cfg.window_duration is not None:
        if not isinstance(model, WindowedPCA):
            raise TypeError(
                "window_duration is set but the pre-fitted model is a "
                f"global {type(model).__name__}; pass a WindowedPCA")
        prepared = project_windowed(prepared, model, "raw_vec", "ts",
                                    out_col="feature_vec",
                                    lag_models=cfg.window_lag_models)
        vec = F.col("feature_vec")
    elif isinstance(model, WindowedPCA):
        # without it project_udf dies with an opaque AttributeError
        # instead of pointing at the missing window_duration
        raise TypeError(
            "pre-fitted model is a WindowedPCA but window_duration is not "
            "set; set cfg.window_duration to the duration it was fitted "
            "with (or pass a global PCAModel)")
    else:
        vec = project_udf(model, "raw_vec").alias("feature_vec")
    return prepared.select("conv_id", "turn_idx", "ts", "role", "text",
                           "tool", "session_id", vec)


def run_features(transcripts: DataFrame, snapshots: DataFrame | None = None,
                 cfg: FeatureJobConfig | None = None,
                 model=None) -> tuple[DataFrame, "PCAModel"]:
    """Full flagship job; returns (features DataFrame, fitted model).

    Pass a pre-fitted ``model`` to skip the moment pass (transform-only mode,
    e.g. on resume or on a new day's partition).  With
    ``cfg.window_duration`` set, the fitted model is a
    :class:`~featureextraction_jl_spark.plans.windowed_pca.WindowedPCA`
    (one model per tumbling window) instead of a global PCAModel.
    """
    cfg = cfg or FeatureJobConfig()
    prepared = build_turn_features(transcripts, snapshots, cfg)
    # the projection recomputes the chain with the text (module docstring:
    # recompute wins)
    if model is None:
        model, _stats = fit_model(prepared, cfg)
    return project_features(prepared, model, cfg), model
