"""Per-window PCA/whitening end-to-end gates (VERDICT r04 next #1).

The judged contract: each window's output equals an INDEPENDENT NumPy fit on
that window's rows — compared via the Mahalanobis invariant (the squared
norm of the full-rank whitened projection equals (x-mu)' Sigma^{-1} (x-mu),
invariant to eigenvector sign/order, the q35 trick) — and the per-window
leakage property holds: perturbing every other window leaves a window's
features byte-identical.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from featureextraction_jl_spark.plans.windowed_pca import (
    fit_windowed_pca,
    project_windowed,
    run_windowed_features,
)

T0 = dt.datetime(2025, 3, 1, 0, 0, 0)


def _utc_label(t: dt.datetime, floor_s: int = 3600) -> dt.datetime:
    """The engine's model-key label for a naive driver-side datetime, OS-tz
    independent: PySpark interprets naive datetimes in the OS timezone
    (t.timestamp() applies the same rule), windows align on the epoch, and
    model keys are the naive-UTC rendering of the window-start epoch
    (windowed_pca._win_dt).  Lets these gates pass under any whole-hour OS
    timezone (TZ=Asia/Tokyo spot-run), not just the UTC the driver uses."""
    epoch = int(t.timestamp()) // floor_s * floor_s
    return dt.datetime.fromtimestamp(
        epoch, dt.timezone.utc).replace(tzinfo=None)
P = 4


def _rows(rng, n_windows=4, per_window=40):
    """Deterministic rows: window w gets a DIFFERENT covariance structure so
    a cross-window model mixup cannot cancel out."""
    rows = []
    for w in range(n_windows):
        base = rng.normal(size=(per_window, P))
        scale = np.linspace(1.0, 2.0 + w, P)
        x = base * scale + w * 3.0
        for i in range(per_window):
            ts = T0 + dt.timedelta(hours=w, minutes=int(59 * i / per_window))
            rows.append((f"c{i % 3}", ts, [float(v) for v in x[i]]))
    return rows


@pytest.fixture(scope="module")
def windowed_df(spark):
    rng = np.random.default_rng(42)
    rows = _rows(rng)
    return spark.createDataFrame(
        rows, "conv_id string, ts timestamp, vec array<double>")


def _numpy_window_models(pdf: pd.DataFrame, duration_h=1):
    """Independent per-window oracle: plain NumPy mean/cov per hour bucket."""
    out = {}
    floor = pdf["ts"].dt.floor(f"{duration_h}h")
    for w, grp in pdf.groupby(floor):
        X = np.stack(grp["vec"].to_numpy())
        out[w] = (X.mean(axis=0), np.cov(X, rowvar=False, ddof=1))
    return out


def test_windowed_fit_matches_independent_numpy_fit(spark, windowed_df):
    out, fitted = run_windowed_features(
        windowed_df, "vec", "ts", "1 hour", k=None, mode="pca_whiten")
    assert not fitted.skipped
    pdf = out.toPandas()
    oracle = _numpy_window_models(pdf)
    assert len(fitted.models) == len(oracle) == 4
    eps = 1e-12
    for _, r in pdf.iterrows():
        w = pd.Timestamp(r["ts"]).floor("1h")
        mu, cov = oracle[w]
        x = np.asarray(r["vec"])
        y = np.asarray(r["feature_vec"])
        # Mahalanobis invariant: ||whiten(x)||^2 == (x-mu)' Sigma^{-1} (x-mu)
        want = float((x - mu) @ np.linalg.solve(cov + eps * np.eye(P), x - mu))
        np.testing.assert_allclose(y @ y, want, rtol=1e-6, atol=1e-8)


def test_windowed_leakage_only_own_window(spark, windowed_df):
    """Perturbing EVERY row outside window w must leave w's features
    byte-identical — the per-window leakage property."""
    out, _ = run_windowed_features(windowed_df, "vec", "ts", "1 hour",
                                   mode="pca_whiten")
    target_lo, target_hi = T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=2)
    in_w = (F.col("ts") >= F.lit(target_lo)) & (F.col("ts") < F.lit(target_hi))
    poisoned = windowed_df.withColumn(
        "vec",
        F.when(in_w, F.col("vec"))
         .otherwise(F.transform("vec", lambda x: x * 1000.0 + 7.0)))
    out2, _ = run_windowed_features(poisoned, "vec", "ts", "1 hour",
                                    mode="pca_whiten")
    key = ["conv_id", "ts"]
    a = out.filter(in_w).toPandas().sort_values(key).reset_index(drop=True)
    b = out2.filter(in_w).toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == 40
    np.testing.assert_array_equal(np.stack(a["feature_vec"].to_numpy()),
                                  np.stack(b["feature_vec"].to_numpy()))


def test_windowed_lag_models_strict_point_in_time(spark, windowed_df):
    """lag_models=1: every row projects through the PREVIOUS window's model
    (strictly-older inputs only); the first window has no predecessor ->
    NULL."""
    out, fitted = run_windowed_features(
        windowed_df, "vec", "ts", "1 hour", mode="pca_whiten", lag_models=1)
    pdf = out.toPandas()
    oracle = _numpy_window_models(pdf)
    eps = 1e-12
    # toPandas renders LTZ in the SESSION tz (UTC); compare against the
    # OS-tz-independent UTC label of T0, not T0's naive form
    first = pdf["ts"] < _utc_label(T0) + dt.timedelta(hours=1)
    assert pdf.loc[first, "feature_vec"].isna().all()
    rest = pdf.loc[~first]
    assert rest["feature_vec"].notna().all()
    for _, r in rest.iterrows():
        prev_w = (pd.Timestamp(r["ts"]) - pd.Timedelta(hours=1)).floor("1h")
        mu, cov = oracle[prev_w]
        x = np.asarray(r["vec"])
        y = np.asarray(r["feature_vec"])
        want = float((x - mu) @ np.linalg.solve(cov + eps * np.eye(P), x - mu))
        np.testing.assert_allclose(y @ y, want, rtol=1e-6, atol=1e-8)


def test_windowed_per_key_models(spark, windowed_df):
    """key_cols=(conv_id,): each (conv, window) group fits its own model —
    verified against the NumPy fit of exactly that group's rows."""
    out, fitted = fit_and_project = run_windowed_features(
        windowed_df, "vec", "ts", "1 hour", key_cols=("conv_id",),
        mode="pca_whiten")
    pdf = out.toPandas()
    eps = 1e-12
    assert len(fitted.models) == 12  # 3 convs x 4 windows
    for (conv, w), grp in pdf.groupby(
            ["conv_id", pdf["ts"].dt.floor("1h")]):
        X = np.stack(grp["vec"].to_numpy())
        mu, cov = X.mean(axis=0), np.cov(X, rowvar=False, ddof=1)
        for _, r in grp.iterrows():
            x, y = np.asarray(r["vec"]), np.asarray(r["feature_vec"])
            want = float((x - mu) @ np.linalg.solve(cov + eps * np.eye(P),
                                                    x - mu))
            np.testing.assert_allclose(y @ y, want, rtol=1e-6, atol=1e-8)


def test_windowed_small_groups_skip_to_null(spark):
    """Groups with n < 2 have no covariance: recorded in .skipped, rows
    project to NULL instead of crashing eigh or poisoning output."""
    rows = [("a", T0, [1.0, 2.0]),  # lone row in window 0
            ("a", T0 + dt.timedelta(hours=1), [1.0, 2.0]),
            ("a", T0 + dt.timedelta(hours=1, minutes=5), [3.0, 1.0]),
            ("a", T0 + dt.timedelta(hours=1, minutes=10), [2.0, 5.0])]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, vec array<double>")
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour", mode="pca")
    assert len(fitted.skipped) == 1 and list(fitted.skipped.values()) == [1]
    got = {r["ts"]: r["feature_vec"] for r in out.collect()}
    assert got[T0] is None
    assert all(v is not None for ts, v in got.items() if ts != T0)


def test_windowed_null_vec_projects_to_null(spark):
    rows = [("a", T0 + dt.timedelta(minutes=m), [float(m), 1.0 / (m + 1)])
            for m in range(5)] + [("a", T0 + dt.timedelta(minutes=6), None)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, vec array<double>")
    out, _ = run_windowed_features(df, "vec", "ts", "1 hour")
    got = out.toPandas()
    assert got["feature_vec"].isna().sum() == 1


def test_windowed_max_models_guard(spark, windowed_df):
    with pytest.raises(ValueError, match="max_models"):
        fit_windowed_pca(windowed_df, "vec", "ts", "1 hour",
                         key_cols=("conv_id",), max_models=3)


def test_windowed_moments_strategies_equivalent(spark, windowed_df):
    """The windowed fit must give identical models however its rows are
    partitioned: one partition (every window one partial) and 8 round-robin
    partitions (each window split over several partials, the re-merge
    folding them), with and without an extra key — the Chan merge is exact
    under any partial split."""
    for key_cols, n_models in (((), 4), (("conv_id",), 12)):
        a = fit_windowed_pca(windowed_df.coalesce(1), "vec", "ts", "1 hour",
                             key_cols=key_cols)
        b = fit_windowed_pca(windowed_df.repartition(8), "vec", "ts",
                             "1 hour", key_cols=key_cols)
        assert a.models.keys() == b.models.keys()
        assert len(a.models) == n_models
        for gk in a.models:
            np.testing.assert_allclose(a.models[gk].mu, b.models[gk].mu,
                                       rtol=1e-10, atol=1e-12)
            np.testing.assert_allclose(a.models[gk].eigenvalues,
                                       b.models[gk].eigenvalues,
                                       rtol=1e-8, atol=1e-10)


def test_windowed_model_save_load_roundtrip(spark, windowed_df, tmp_path):
    """WindowedPCA.save/load: a transform-only rerun with the loaded model
    map must produce byte-identical features (the windowed twin of the
    PCAModel .npz manifest — enables skip-the-fit resumes)."""
    out, fitted = run_windowed_features(windowed_df, "vec", "ts", "1 hour",
                                        mode="pca_whiten")
    d = str(tmp_path / "wmodels")
    fitted.save(d)
    from featureextraction_jl_spark.plans.windowed_pca import WindowedPCA

    back = WindowedPCA.load(d)
    assert back.duration == fitted.duration
    assert back.key_cols == fitted.key_cols
    assert back.models.keys() == fitted.models.keys()
    assert back.skipped == fitted.skipped
    out2 = project_windowed(windowed_df, back, "vec", "ts")
    key = ["conv_id", "ts"]
    a = out.toPandas().sort_values(key).reset_index(drop=True)
    b = out2.toPandas().sort_values(key).reset_index(drop=True)
    np.testing.assert_array_equal(np.stack(a["feature_vec"].to_numpy()),
                                  np.stack(b["feature_vec"].to_numpy()))


def test_windowed_model_save_load_keyed_and_skipped(spark, tmp_path):
    """Round-trip with extra key cols AND a skipped (n<2) group — the
    manifest must preserve both."""
    rows = [("a", T0, [1.0, 2.0])]  # skipped: lone row
    rows += [("b", T0 + dt.timedelta(minutes=m), [float(m), float(m % 3)])
             for m in range(6)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, vec array<double>")
    _, fitted = run_windowed_features(df, "vec", "ts", "1 hour",
                                      key_cols=("conv_id",), mode="pca")
    assert fitted.skipped
    d = str(tmp_path / "wk")
    fitted.save(d)
    from featureextraction_jl_spark.plans.windowed_pca import WindowedPCA

    back = WindowedPCA.load(d)
    assert back.models.keys() == fitted.models.keys()
    assert back.skipped == fitted.skipped
    for gk in fitted.models:
        np.testing.assert_array_equal(back.models[gk].mu, fitted.models[gk].mu)
        np.testing.assert_array_equal(back.models[gk].components,
                                      fitted.models[gk].components)
        assert back.models[gk].mode == fitted.models[gk].mode


# ---------------------------------------------------------------------------
# Property gate: random window layouts / dimensions vs an independent NumPy
# per-window fit (same rigor the as-of/sessionize operators get).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def windowed_case(draw):
    p = draw(st.integers(2, 4))
    n_windows = draw(st.integers(2, 4))
    sizes = [draw(st.integers(1, 12)) for _ in range(n_windows)]
    seed = draw(st.integers(0, 2**16))
    return p, sizes, seed


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(windowed_case())
def test_windowed_property_matches_numpy(spark, case):
    p, sizes, seed = case
    rng = np.random.default_rng(seed)
    rows = []
    for w, size in enumerate(sizes):
        x = rng.normal(size=(size, p)) * (1.0 + w) + w
        for i in range(size):
            ts = T0 + dt.timedelta(hours=w, minutes=i)
            rows.append((ts, [float(v) for v in x[i]]))
    schema = "ts timestamp, vec array<double>"
    df = spark.createDataFrame(rows, schema)
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour",
                                        mode="pca_whiten")
    pdf = out.toPandas()
    eps = 1e-12
    # windows with one row are skipped -> NULL; others match the NumPy fit
    assert len(fitted.skipped) == sum(1 for s in sizes if s < 2)
    for w, grp in pdf.groupby(pdf["ts"].dt.floor("1h")):
        X = np.stack(grp["vec"].to_numpy())
        if len(X) < 2:
            assert grp["feature_vec"].isna().all()
            continue
        mu = X.mean(axis=0)
        cov = np.cov(X, rowvar=False, ddof=1)
        for _, r in grp.iterrows():
            x = np.asarray(r["vec"])
            y = np.asarray(r["feature_vec"])
            want = float((x - mu) @ np.linalg.solve(cov + eps * np.eye(p),
                                                    x - mu))
            np.testing.assert_allclose(y @ y, want, rtol=1e-5, atol=1e-6)


def test_windowed_session_timezone_independent(spark, windowed_df):
    """The model match is keyed off JVM-computed epoch seconds on BOTH the
    fit and projection sides, so changing the Spark session timezone (the
    rendering the pandas UDF sees for TIMESTAMP_LTZ) must not change a
    single output value.  Before the fix, driver-collected model keys were
    rendered in the DRIVER OS timezone while the UDF saw the SESSION
    timezone — any mismatch silently NULLed the whole windowed output."""
    out_utc, _ = run_windowed_features(windowed_df, "vec", "ts", "1 hour",
                                       mode="pca_whiten")
    a = out_utc.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    tz_conf = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_conf)
    try:
        spark.conf.set(tz_conf, "America/New_York")
        out_ny, fitted = run_windowed_features(windowed_df, "vec", "ts",
                                               "1 hour", mode="pca_whiten")
        b = (out_ny.toPandas().sort_values(["conv_id", "ts"])
             .reset_index(drop=True))
    finally:
        spark.conf.set(tz_conf, prev)
    assert len(fitted.models) == 4 and not fitted.skipped
    assert b["feature_vec"].notna().all()  # the old bug NULLed everything
    np.testing.assert_array_equal(np.stack(a["feature_vec"].to_numpy()),
                                  np.stack(b["feature_vec"].to_numpy()))


def test_windowed_null_extra_key_rows_use_their_model(spark):
    """A NULL extra key (NULL conv_id) is a real group: the fit records its
    model (Spark groupBy keeps NULL groups) and the projection must reach it
    (pandas groupby dropna=False + NaN->None normalization) — before the
    fix those rows silently projected to NULL while the manifest claimed
    their model existed."""
    rng = np.random.default_rng(7)
    rows = [(None if i % 2 else "a", T0 + dt.timedelta(minutes=i),
             [float(v) for v in rng.normal(size=3)]) for i in range(20)]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, vec array<double>")
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour",
                                        key_cols=("conv_id",),
                                        mode="pca_whiten")
    assert {gk[0] for gk in fitted.models} == {None, "a"}
    pdf = out.toPandas()
    assert pdf["feature_vec"].notna().all()
    eps = 1e-12
    null_grp = pdf[pdf["conv_id"].isna()]
    X = np.stack(null_grp["vec"].to_numpy())
    mu, cov = X.mean(axis=0), np.cov(X, rowvar=False, ddof=1)
    for _, r in null_grp.iterrows():
        x, y = np.asarray(r["vec"]), np.asarray(r["feature_vec"])
        want = float((x - mu) @ np.linalg.solve(cov + eps * np.eye(3), x - mu))
        np.testing.assert_allclose(y @ y, want, rtol=1e-6, atol=1e-8)


def test_windowed_null_ts_rows_excluded_and_null(spark):
    """Rows with NULL ts have no window: excluded from the fit (no phantom
    model, no manifest entry), PRESERVED in the output, and projected to
    NULL.  The row-count assertion is load-bearing (round-5 review): the
    F.window-based projection key dropped NULL-ts rows entirely via the
    TimeWindowing analyzer's implicit isnotnull filter, and the NULL-slice
    assertion below passed vacuously on the empty selection."""
    rows = [("a", T0 + dt.timedelta(minutes=m), [float(m), float(m % 3)])
            for m in range(6)] + [("a", None, [9.0, 9.0])]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, vec array<double>")
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour")
    assert len(fitted.models) == 1 and not fitted.skipped
    assert sum(fitted.counts.values()) == 6
    pdf = out.toPandas()
    assert len(pdf) == 7                       # NULL-ts row NOT dropped
    assert pdf["ts"].isna().sum() == 1
    assert pdf.loc[pdf["ts"].isna(), "feature_vec"].isna().all()
    assert pdf.loc[pdf["ts"].notna(), "feature_vec"].notna().all()


def test_windowed_epoch_key_matches_f_window_starts(spark):
    """The arithmetic window key (floor(epoch/W)*W — NULL-preserving) must
    produce the exact F.window start epoch for every non-null ts, including
    pre-1970 and fractional-second timestamps and compound durations —
    the fit/projection key contract after the round-5 row-drop fix."""
    from pyspark.sql import functions as F

    from featureextraction_jl_spark.functions.timeutil import epoch_seconds
    from featureextraction_jl_spark.plans.windowed_pca import (
        _duration_seconds,
        _window_epoch,
    )

    rows = [("2024-01-01 10:17:23.123456",), ("1969-12-31 23:59:59.5",),
            ("1970-01-01 00:00:00",), ("2004-03-01 00:29:59.999999",)]
    df = spark.createDataFrame(rows, "s string") \
        .select(F.to_timestamp("s").alias("ts"))
    for dur in ("30 minutes", "1 hour 30 minutes", "2 Hours"):
        got = df.select(
            _window_epoch("ts", dur).alias("a"),
            epoch_seconds(
                F.window("ts", f"{int(_duration_seconds(dur))} seconds"
                         )["start"]).alias("b")).collect()
        for r in got:
            assert r["a"] == r["b"], (dur, r)
    # calendar durations are not fixed-length: loud error, not a silent drop
    import pytest
    with pytest.raises(ValueError, match="fixed-duration"):
        _duration_seconds("1 month")
    # non-finite widths would project every row to NULL
    for dur in ("inf seconds", "nan seconds", "1e400 seconds"):
        with pytest.raises(ValueError, match="finite"):
            _duration_seconds(dur)


def test_windowed_null_element_vec_projects_null_not_nan(spark):
    """A vector with a null ELEMENT is excluded from the fit
    (decode_vectors) — the projection must give it NULL too, never NaN
    features that pass a feature_vec IS NULL filter downstream."""
    rows = [("a", T0 + dt.timedelta(minutes=m), [float(m), 1.0 + m % 3])
            for m in range(6)]
    rows.append(("a", T0 + dt.timedelta(minutes=7), [1.0, None]))
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, vec array<double>")
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour")
    assert sum(fitted.counts.values()) == 6  # poisoned row not fitted
    pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
    assert pdf.loc[6, "feature_vec"] is None or pd.isna(
        pdf.loc[6, "feature_vec"])
    clean = pdf.loc[:5, "feature_vec"]
    assert clean.notna().all()
    assert not any(np.isnan(np.asarray(v)).any() for v in clean)


def test_windowed_projection_broadcast_reused_across_calls(spark, windowed_df):
    """project_windowed on the same fitted object reuses ONE broadcast per
    (application, lag): a caller that projects the same fitted model more
    than once (per input slice, per serving batch) must not re-broadcast a
    ~100 MB model map each time and pile never-destroyed broadcast blocks
    onto the block manager."""
    from featureextraction_jl_spark.session import _BROADCASTS

    def entries():
        return [k for k in _BROADCASTS if k[1] == id(fitted)]

    _, fitted = run_windowed_features(windowed_df, "vec", "ts", "1 hour")
    assert len(entries()) == 1  # run_windowed_features projected once
    a = project_windowed(windowed_df, fitted, "vec", "ts")
    b = project_windowed(windowed_df, fitted, "vec", "ts")
    assert len(entries()) == 1  # same broadcast object, not three
    lagged = project_windowed(windowed_df, fitted, "vec", "ts", lag_models=1)
    assert len(entries()) == 2  # distinct lag -> distinct lut
    # and the reuse changes nothing about the output
    x = a.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    y = b.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    np.testing.assert_array_equal(np.stack(x["feature_vec"].to_numpy()),
                                  np.stack(y["feature_vec"].to_numpy()))


def test_windowed_nan_float_key_semantics(spark):
    """Float-key edge cases: NaN keys collapse to the NULL group
    CONSISTENTLY on the fit and projection sides (the re-merge emits NaN
    keys as NULL, and the projection looks a NaN key up under the NULL
    key), so NaN-only corpora work; a window holding
    BOTH a NULL and a NaN key group would silently overwrite one model
    with the other — that collision raises instead."""
    # NaN-only float key: collapses to the None group, rows still project
    rows = [(float("nan"), T0 + dt.timedelta(minutes=m), [float(m), 2.0 - m])
            for m in range(4)]
    df = spark.createDataFrame(
        rows, "grp double, ts timestamp, vec array<double>")
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour",
                                        key_cols=("grp",))
    assert list(fitted.models) == [(None, _utc_label(T0))]
    assert out.toPandas()["feature_vec"].notna().all()

    # NULL + NaN key groups in ONE window: dict collision -> loud error
    rows += [(None, T0 + dt.timedelta(minutes=m), [float(m), 1.0 + m])
             for m in range(4)]
    df2 = spark.createDataFrame(
        rows, "grp double, ts timestamp, vec array<double>")
    with pytest.raises(ValueError, match="duplicate group key"):
        fit_windowed_pca(df2, "vec", "ts", "1 hour", key_cols=("grp",))


def test_windowed_negative_lag_models_raises(spark, windowed_df):
    """lag_models < 0 would serve each row through a FUTURE window's model
    — the exact leakage the lag exists to prevent; loud error (round-5
    review), not a silent sign flip."""
    from featureextraction_jl_spark.plans.windowed_pca import (
        fit_windowed_pca,
        project_windowed,
    )

    fitted = fit_windowed_pca(windowed_df, "vec", "ts", "1 hour")
    with pytest.raises(ValueError, match="lag_models"):
        project_windowed(windowed_df, fitted, "vec", "ts", lag_models=-1)
