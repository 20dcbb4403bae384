"""Per-window PCA/whitening models, end-to-end (VERDICT r04 next #1).

The flagship (plans/feature_job.py) fits ONE global model; this module
delivers the "windowed PCA/whitening features" phrase of the north star as a
per-window fit -> keyed projection pipeline:

    bucket rows into tumbling time windows (C7, optionally x extra keys)
        -> per-(keys, window) moment accumulation      [A3 grouped path]
        -> per-group eigh fit on the driver            [A5, p x p each]
        -> broadcast the model map, project each row
           through ITS OWN window's model              [A6, Arrow-batched]

Scale shape (the 100 TB argument):

* the grouped moment pass is the one moments core
  (``compute_grouped_moments``): every partition emits one (n, mean, m2)
  partial per (keys, window) it holds and only those partials are shuffled
  to the per-group re-merge.  The partition id is the salt, so a pure time
  window of millions of rows is never materialized in one task and keeps
  the scan's full parallelism;
* what reaches the driver is ONE (n, mean, m2) row per group — O(groups *
  p^2) bytes, never row data.  The eigh per group is p x p (p ~ tens), so
  10^4 windows fit in well under a second; ``max_models`` guards the driver
  against a mis-bucketed explosion (10^12 distinct groups) by raising with
  the count instead of OOMing mid-collect;
* projection ships the model map as one broadcast per (fitted object, lag)
  (``session.broadcast_once``: once per executor, not per task — at 10^5
  windows the map is ~100 MB) and runs ONE GEMM per (window, Arrow batch)
  slice — an Arrow UDF decodes the batch with the vector codec and groups
  its rows by key in NumPy, never per-row Python.

Leakage property (test-pinned): a row's features depend ONLY on rows in its
own (keys, window) group — perturbing every other window leaves them
byte-identical.  Fit-and-project-within-window is the standard windowed-
model semantics; for strict point-in-time serving use the PREVIOUS window's
model (``lag_models=1``), which makes every input strictly older than the
row's window start (zero temporal leakage in the as-of sense).

Windows whose group has n < 2 rows have no covariance; their rows project
to NULL (SQL null semantics — poisoning or crashing are the alternatives,
and both are worse; count them via the returned manifest).  Rows with NULL
ts have no window: excluded from the fit, projected to NULL.

Group keys are computed as window-start EPOCH SECONDS with the same JVM
expression on the fit and projection sides (``epoch_seconds``), so the
model match is independent of both the driver OS timezone and the Spark
session timezone; the datetime in each model key is the naive-UTC label of
that epoch (see ``_win_dt``).  NULL extra keys (e.g. NULL conv_id) are real
groups on both sides: the fit keeps them (Spark groupBy semantics) and the
projection groups with the moments core's own key index, where NULL is a
group of its own.  A float NaN key looks up the NULL-key model, since the
fit's re-merge emits NaN keys as NULL.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from featureextraction_jl_spark import manifest
from featureextraction_jl_spark.functions.moments import (
    _canonical,
    _group_index,
    _split_by_code,
    compute_grouped_moments,
    decode_vectors,
    encode_vectors,
    merge_moment_rows,
)
from featureextraction_jl_spark.functions.pca import PCAModel, fit_pca
from featureextraction_jl_spark.functions.timeutil import epoch_seconds
from featureextraction_jl_spark.session import broadcast_once

#: driver-side guard: refuse to collect more per-group moment rows than this
#: (a mis-bucketed group key at design scale would otherwise stream 10^12
#: tiny rows at the driver).  4 bytes * p^2 * 100k is still < 1 GB at p=50.
DEFAULT_MAX_MODELS = 100_000

_WIN = "__win_epoch"


def _win_dt(epoch: float):
    """Canonical model-key datetime for a window-start epoch: the naive-UTC
    rendering, derived ON THE DRIVER from the JVM-computed epoch seconds.

    Never derived from a ``collect()``-ed TimestampType value: Spark renders
    those via ``datetime.fromtimestamp`` in the DRIVER OS timezone, while the
    projection UDF sees the SESSION-timezone rendering — on any host whose OS
    timezone differs from the session's, keys built from collected timestamps
    would miss every UDF-side lookup and silently NULL the whole output.
    Keying both sides off ``epoch_seconds(...)`` (the same JVM expression)
    removes the timezone from the contract entirely; the datetime here is a
    human-facing label whose round-trip back to epoch
    (``pd.Timestamp(dt).value / 1e9``) is exact at microsecond granularity.
    """
    import datetime as _dt

    return _dt.datetime.fromtimestamp(
        epoch, _dt.timezone.utc).replace(tzinfo=None)


@dataclass
class WindowedPCA:
    """Fitted per-window models keyed by (extra keys..., window start).

    ``models``: dict mapping the group key tuple to a PCAModel; ``skipped``:
    groups with n < 2 (no covariance — their rows project to NULL).
    """

    models: dict
    skipped: dict
    duration: str
    key_cols: tuple
    #: rows accumulated per fitted group (manifests/metrics; not required
    #: for projection)
    counts: dict = None

    def save(self, dir_path: str) -> None:
        """Persist as a directory: one ``.npz`` per window model plus an
        ``index.json`` manifest (duration, key_cols, skipped, key->file map)
        — the windowed twin of ``PCAModel.save`` so a transform-only rerun
        (``run_features(model=WindowedPCA.load(...))``) skips the fit pass.

        Group-key serialization: JSON list, window start as ISO-8601.
        """
        import os

        os.makedirs(dir_path, exist_ok=True)
        counts = self.counts or {}
        index = {"duration": self.duration,
                 "key_cols": list(self.key_cols),
                 "skipped": [[_key_to_json(gk), n]
                             for gk, n in self.skipped.items()],
                 "models": []}
        for i, (gk, model) in enumerate(sorted(self.models.items(),
                                               key=lambda kv: str(kv[0]))):
            fname = f"model_{i:06d}.npz"
            model.save(os.path.join(dir_path, fname))
            index["models"].append([_key_to_json(gk), fname,
                                    counts.get(gk)])
        manifest.write_atomic(os.path.join(dir_path, "index.json"), index)

    @staticmethod
    def load(dir_path: str) -> "WindowedPCA":
        import os

        index = manifest.read(os.path.join(dir_path, "index.json"))
        if index is None:
            raise FileNotFoundError(
                f"no windowed model index.json under {dir_path!r}")
        models, counts = {}, {}
        for jk, fname, n in index["models"]:
            gk = _key_from_json(jk)
            models[gk] = PCAModel.load(os.path.join(dir_path, fname))
            if n is not None:
                counts[gk] = n
        skipped = {_key_from_json(jk): n for jk, n in index["skipped"]}
        return WindowedPCA(models, skipped, index["duration"],
                           tuple(index["key_cols"]), counts)


def _key_to_json(gk: tuple) -> list:
    """Group key -> JSON-safe list; the trailing window start becomes ISO."""
    import datetime as _dt

    out = []
    for v in gk:
        if isinstance(v, _dt.datetime):
            out.append({"ts": v.isoformat()})
        else:
            out.append(v)
    return out


def _key_from_json(jk: list) -> tuple:
    import datetime as _dt

    return tuple(_dt.datetime.fromisoformat(v["ts"])
                 if isinstance(v, dict) and "ts" in v else v
                 for v in jk)


def _window_epoch(ts_col: str, duration: str) -> Column:
    """Window-start EPOCH SECONDS (double) — the timezone-free group key the
    fit AND the projection both compute with the same JVM expression.

    Computed ARITHMETICALLY (``floor(epoch / W) * W``), not via
    ``F.window(...)["start"]``: Spark's TimeWindowing analyzer rule injects
    an implicit ``Filter isnotnull(ts)`` into any plan containing a window
    expression — even wrapped in ``when()`` — which silently DROPPED every
    NULL-ts row from the projection output instead of projecting it to NULL
    (round-5 review, verified live).  The arithmetic form is NULL-preserving
    (epoch_seconds(NULL) -> NULL) and produces bit-identical window starts
    to ``F.window`` for fixed durations, including pre-1970 timestamps
    (mathematical floor; equivalence test-pinned).  Calendar durations
    (months) are not fixed-length and raise in ``_duration_seconds`` — a
    loud limit where the old path had a silent row-drop.
    """
    w = _duration_seconds(duration)
    e = epoch_seconds(F.col(ts_col) if isinstance(ts_col, str) else ts_col)
    return (F.floor(e / F.lit(w)) * F.lit(w)).cast("double")


def fit_windowed_pca(df: DataFrame, vec_col: str, ts_col: str, duration: str,
                     key_cols: tuple | list = (), k: int | None = None,
                     mode: str = "pca_whiten",
                     max_models: int = DEFAULT_MAX_MODELS) -> WindowedPCA:
    """Fit one PCA/whitening model per (key_cols..., tumbling window).

    Only MOMENTS are distributed: ``compute_grouped_moments`` shuffles one
    (n, mean, m2) partial per (partition, group) and re-merges them, so one
    row per group reaches the driver; each group's p x p eigh runs
    driver-side, mirroring the global fit (functions/pca.py).  Groups with
    n < 2 are recorded in ``skipped`` instead of fitted.
    """
    key_cols = tuple(key_cols)
    # Group on the window-start EPOCH (double, JVM-computed) — never on a
    # collected TimestampType, whose driver rendering is OS-timezone-local
    # (see _win_dt).  Rows with NULL ts have no window: they are excluded
    # from the fit here and project to NULL (the family's null convention).
    bucketed = df.select(*key_cols,
                         _window_epoch(ts_col, duration).alias(_WIN),
                         vec_col).filter(F.col(_WIN).isNotNull())
    grouped = compute_grouped_moments(bucketed, [*key_cols, _WIN], vec_col)
    # Bound the collect BEFORE it happens: limit(max_models + 1) makes the
    # guard itself O(max_models), not a second full count pass.
    rows = grouped.limit(max_models + 1).collect()
    if len(rows) > max_models:
        raise ValueError(
            f"fit_windowed_pca: more than max_models={max_models} "
            f"(key, window) groups — the driver-side per-group fit is "
            f"designed for time buckets (10^2-10^5 models), not per-entity "
            f"grouping at full cardinality; widen the window, drop key_cols, "
            f"or raise max_models explicitly")
    models, skipped, counts = {}, {}, {}
    seen = set()
    for r in rows:
        gk = tuple(r[c] for c in key_cols) + (_win_dt(r[_WIN]),)
        if gk in seen:
            # Two groups collapsed to one key: the moments core keeps a
            # float NaN key apart from NULL but emits it as NULL — a corpus
            # with BOTH in one window would silently overwrite one group's
            # model with the other's.  (NaN-only float keys are fine: they
            # collapse to the NULL group consistently on the fit AND
            # projection sides.)  Fail loudly.
            raise ValueError(
                f"fit_windowed_pca: duplicate group key {gk!r} after key "
                f"normalization — typically a float key column containing "
                f"BOTH NULL and NaN in one window (indistinguishable in "
                f"the moment rows); filter or recode such keys "
                f"upstream")
        seen.add(gk)
        m = merge_moment_rows([r])
        if m.n < 2:
            skipped[gk] = m.n
            continue
        models[gk] = fit_pca(m, k=k, mode=mode)
        counts[gk] = m.n
    return WindowedPCA(models, skipped, duration, key_cols, counts)


def project_windowed(df: DataFrame, fitted: WindowedPCA, vec_col: str,
                     ts_col: str, out_col: str = "feature_vec",
                     lag_models: int = 0) -> DataFrame:
    """Project each row through ITS window's model (Arrow-batched).

    One Arrow UDF over (key cols..., window start, vec): each batch's
    vectors decode to one matrix, its kept rows are grouped by (keys...,
    window) and each group is projected with one GEMM.  Rows the codec
    drops, rows with NULL ts and rows whose group has no model (n < 2,
    or — with ``lag_models`` — a window with no predecessor) get NULL.

    ``lag_models=n``: use the model fitted on the window n steps EARLIER
    (strict point-in-time serving: every model input is older than the
    row's window start).  Requires a fixed-duration window (e.g. "1 hour",
    not calendar months).
    """
    key_cols = fitted.key_cols
    if lag_models < 0:
        raise ValueError(
            f"lag_models must be >= 0, got {lag_models}: a negative lag "
            f"serves each row through a FUTURE window's model — exactly "
            f"the temporal leakage the lag exists to prevent")
    lag_s = 0.0
    if lag_models:
        lag_s = lag_models * _duration_seconds(fitted.duration)

    # Model lookup keyed by (keys..., window-start epoch seconds).  The
    # model-key datetime is naive-UTC BY CONSTRUCTION (_win_dt derives it
    # from the JVM epoch), so pd.Timestamp(...).value recovers that epoch
    # exactly; the UDF receives the SAME JVM expression's value as a double
    # — no timezone, OS or session, participates in the match.
    def lut() -> dict:
        return {gk[:-1] + (pd.Timestamp(gk[-1]).value / 1e9 + lag_s,):
                (model.mu, model.projection)
                for gk, model in fitted.models.items()}

    # An explicit broadcast, NOT the closure: a closure-captured map is
    # re-serialized into every task binary, so at max_models=10^5 windows
    # (~10^5 * p*k doubles ~ 100 MB) every task would ship the whole map.
    # The broadcast moves it once per EXECUTOR; repeated projections of
    # one fitted object with one lag share it.
    bc = broadcast_once(df.sparkSession.sparkContext, fitted, lag_s, lut)

    @F.arrow_udf(ArrayType(DoubleType()))
    def _project(*cols: pa.Array) -> pa.Array:
        models = bc.value
        *keys, win, vecs = cols
        n = len(vecs)
        x, kept = decode_vectors(vecs)
        if x is None:
            return encode_vectors(None, None, n)
        rows = np.arange(n) if kept is None else kept
        gcols = [_canonical(c if kept is None else c.take(kept))
                 for c in [*keys, win]]
        codes, first = _group_index(gcols)
        # NULL is a group of its own; a float NaN key looks up the NULL-key
        # model, as the fit's re-merge emits it.  A NULL window (NULL ts)
        # matches no model.
        gks = zip(*[[None if v != v else v for v in c.take(first).to_pylist()]
                    for c in gcols])
        got, ys = [], []
        for gk, ix in zip(gks, _split_by_code(codes, len(first))):
            mw = models.get(gk)
            if mw is not None:
                got.append(rows[ix])
                ys.append((x[ix] - mw[0]) @ mw[1])
        if not got:
            return encode_vectors(None, None, n)
        pos = np.concatenate(got)
        order = np.argsort(pos)
        return encode_vectors(np.concatenate(ys)[order], pos[order], n)

    win_col = _window_epoch(ts_col, fitted.duration)
    args = [F.col(c) for c in key_cols] + [win_col, F.col(vec_col)]
    return df.withColumn(out_col, _project(*args))


def _duration_seconds(duration: str) -> float:
    """Seconds in a fixed-length window duration string.

    Accepts everything fixed-length that ``F.window`` does (round-5 review:
    the old two-token parser crashed on compound strings like
    '1 hour 30 minutes' and mis-reported capitalized units): any sequence
    of ``<int> <unit>`` pairs, case-insensitive, optional plural, down to
    microseconds.  Calendar units (month, year) are not fixed-length and
    raise — per-window models key on a fixed window width."""
    mult = {"microsecond": 1e-6, "millisecond": 1e-3, "second": 1.0,
            "minute": 60.0, "hour": 3600.0, "day": 86400.0,
            "week": 604800.0}
    toks = duration.split()
    if not toks or len(toks) % 2:
        raise ValueError(
            f"windowed models need a fixed-duration window like "
            f"'30 minutes' or '1 hour 30 minutes', got {duration!r}")
    total = 0.0
    for qty, unit in zip(toks[::2], toks[1::2]):
        u = unit.lower().rstrip("s")
        if u not in mult:
            raise ValueError(
                f"windowed models need a fixed-duration window "
                f"(second/minute/hour/day/week...), got {duration!r} — "
                f"calendar units are not fixed-length")
        total += float(qty) * mult[u]
    if not math.isfinite(total):
        # float() parses 'inf', 'nan' and '1e400': a non-finite width would
        # project every row to NULL instead of failing here
        raise ValueError(f"window duration must be finite, got "
                         f"{duration!r}")
    if total <= 0:
        raise ValueError(f"window duration must be positive, got "
                         f"{duration!r}")
    return total


def run_windowed_features(df: DataFrame, vec_col: str, ts_col: str,
                          duration: str, key_cols: tuple | list = (),
                          k: int | None = None, mode: str = "pca_whiten",
                          out_col: str = "feature_vec",
                          lag_models: int = 0,
                          max_models: int = DEFAULT_MAX_MODELS
                          ) -> tuple[DataFrame, WindowedPCA]:
    """Fit per-window models and project every row through its own window's
    (or, with ``lag_models``, a strictly earlier window's) model.

    Returns (df + out_col, fitted) — the fitted map doubles as the model
    manifest (persist each PCAModel via .save / plans/checkpoint.py).
    """
    fitted = fit_windowed_pca(df, vec_col, ts_col, duration, key_cols,
                              k=k, mode=mode, max_models=max_models)
    out = project_windowed(df, fitted, vec_col, ts_col, out_col,
                           lag_models=lag_models)
    return out, fitted
