"""Kernel golden + property tests (SURVEY.md §5.2.1–2): A1–A8 vs tests/oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from featureextraction_jl_spark.functions import (
    Moments,
    batch_moments,
    merge_moments,
    compute_moments,
    compute_grouped_moments,
    fit_pca,
    project_udf,
    inverse_udf,
    zscore_global,
    zscore_by_group,
)
from featureextraction_jl_spark.functions.moments import merge_moment_rows
from featureextraction_jl_spark.functions.zscore import zscore_vec_udf

from tests import oracle

RNG = np.random.default_rng(42)
X = RNG.normal(size=(400, 6)) @ RNG.normal(size=(6, 6)) + RNG.normal(size=6) * 3


def close(a, b):
    np.testing.assert_allclose(a, b, rtol=oracle.RTOL, atol=oracle.ATOL)


def vec_df(spark, x):
    pdf = pd.DataFrame({"vec": list(np.asarray(x, dtype=np.float64))})
    return spark.createDataFrame(pdf).repartition(5)


# -- moments ---------------------------------------------------------------

def test_batch_moments_matches_numpy():
    m = batch_moments(X)
    close(m.mean, oracle.mean(X))
    close(m.cov, oracle.cov(X))


def test_merge_invariance_arbitrary_splits():
    # moments(concat(X1,X2,X3)) == merge(moments(Xi)) for arbitrary splits
    for cuts in [(50,), (1, 399), (100, 250, 399)]:
        parts = np.split(X, list(cuts))
        acc = Moments(0, np.zeros(0), np.zeros((0, 0)))
        for p in parts:
            acc = merge_moments(acc, batch_moments(p))
        close(acc.mean, oracle.mean(X))
        close(acc.cov, oracle.cov(X))


def test_merge_property_random_splits_and_magnitudes():
    """Property-based Chan-merge gate (hypothesis): arbitrary split points,
    row counts, dimensions, and value magnitudes (1e-3..1e6 scale mix) —
    merged moments must equal the single-batch computation within the
    engine's allclose gate.  Pure NumPy, no Spark session."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        n=st.integers(min_value=3, max_value=120),
        p=st.integers(min_value=1, max_value=8),
        scale=st.sampled_from([1e-3, 1.0, 1e3, 1e6]),
        shift=st.floats(min_value=-1e4, max_value=1e4),
        seed=st.integers(min_value=0, max_value=2**16),
        n_cuts=st.integers(min_value=0, max_value=5),
    )
    def check(n, p, scale, shift, seed, n_cuts):
        rng = np.random.default_rng(seed)
        x = rng.normal(size=(n, p)) * scale + shift
        cuts = sorted(rng.integers(0, n + 1, size=n_cuts).tolist())
        acc = Moments(0, np.zeros(0), np.zeros((0, 0)))
        for part in np.split(x, cuts):
            acc = merge_moments(acc, batch_moments(part))
        ref = batch_moments(x)
        assert acc.n == ref.n == n
        np.testing.assert_allclose(acc.mean, ref.mean, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(acc.cov, ref.cov, rtol=1e-7,
                                   atol=1e-9 * scale * scale)

    check()


def test_merge_permutation_invariance():
    parts = np.split(X, [100, 250])
    a = batch_moments(parts[0])
    b = batch_moments(parts[1])
    c = batch_moments(parts[2])
    m1 = merge_moments(merge_moments(a, b), c)
    m2 = merge_moments(c, merge_moments(b, a))
    close(m1.mean, m2.mean)
    close(m1.m2, m2.m2)


def test_distributed_moments_both_strategies(spark):
    df = vec_df(spark, X)
    m = compute_moments(df, "vec")
    assert m.n == 400
    close(m.mean, oracle.mean(X))
    close(m.cov, oracle.cov(X))


def test_moments_empty_and_all_null_input(spark, monkeypatch):
    """Both reduce routes return the zero moment (n=0) on an empty or
    all-null source instead of crashing — the degenerate partition case the
    per-partition worker merge must emit nothing for."""
    import featureextraction_jl_spark.functions.moments as M

    empty = spark.createDataFrame([], "vec array<double>")
    nulls = spark.createDataFrame([(None,), (None,)], "vec array<double>")
    for threshold in (2048, 0):          # driver fold, then the re-merge
        monkeypatch.setattr(M, "_BUCKETED_THRESHOLD", threshold)
        for df in (empty, nulls):
            assert compute_moments(df, "vec").n == 0


def test_moments_auto_switch_routes_to_bucketed(spark, monkeypatch):
    """compute_moments must route the partials through the executor-side
    re-merge once the source partition count exceeds the threshold (the
    design-scale path); below it, the driver merge is chosen.  Threshold
    lowered via monkeypatch so the test doesn't need 2048 real
    partitions."""
    import featureextraction_jl_spark.functions.moments as M

    calls = {"remerge": 0}
    real = M._remerge

    def spy(partials, keys):
        calls["remerge"] += 1
        return real(partials, keys)

    monkeypatch.setattr(M, "_remerge", spy)
    df = vec_df(spark, X)                      # 5 partitions
    monkeypatch.setattr(M, "_BUCKETED_THRESHOLD", 4)
    m = M.compute_moments(df, "vec")
    assert calls["remerge"] == 1 and m.n == 400
    close(m.cov, oracle.cov(X))
    monkeypatch.setattr(M, "_BUCKETED_THRESHOLD", 2048)
    m = M.compute_moments(df, "vec")
    assert calls["remerge"] == 1 and m.n == 400   # driver path, no new call


def test_moments_probe_reuses_the_collected_exchange(spark, spark_jobs):
    """The partition probe reads the partials' own RDD, so under AQE the
    map stage below the frame's last exchange runs once, shared by the
    probe and the collect: 2 jobs, not 3.  The frame must be fresh, since
    ``DataFrame.rdd`` is cached per object."""
    pdf = pd.DataFrame({"k": np.arange(len(X)) % 7, "vec": list(X)})
    df = spark.createDataFrame(pdf).repartition(8, "k")
    out = []
    assert spark_jobs(lambda: out.append(compute_moments(df, "vec"))) == 2
    assert out[0].n == len(X)
    close(out[0].cov, oracle.cov(X))


def test_moments_partials_one_row_per_partition(spark):
    """In-worker Chan merge: the partial frame emits ONE row per non-empty
    partition even when Arrow splits each partition into many batches —
    driver/reduce traffic is O(partitions), not O(batches) (VERDICT r03 #1:
    per-batch partials were ~500 GB of driver traffic at design scale)."""
    from featureextraction_jl_spark.functions.moments import _partials_df

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")          # 400 rows / 5 partitions -> 5 batches each
    try:
        df = vec_df(spark, X)
        assert _partials_df(df, "vec").count() == 5
        m = compute_moments(df, "vec")   # still exact under batch splitting
        assert m.n == 400
        close(m.cov, oracle.cov(X))
    finally:
        spark.conf.set(key, old)


def test_grouped_moments(spark):
    pdf = pd.DataFrame({
        "g": ["a"] * 150 + ["b"] * 250,
        "vec": list(X.astype(np.float64)),
    })
    df = spark.createDataFrame(pdf).repartition(4)
    rows = {r["g"]: r for r in compute_grouped_moments(df, ["g"], "vec").collect()}
    close(np.asarray(rows["a"]["mean"]), oracle.mean(X[:150]))
    close(np.asarray(rows["b"]["mean"]), oracle.mean(X[150:]))
    p = X.shape[1]
    close(np.asarray(rows["a"]["m2"]).reshape(p, p) / 149, oracle.cov(X[:150]))


def test_merge_moment_rows_equals_global(spark):
    pdf = pd.DataFrame({"g": RNG.integers(0, 7, size=400), "vec": list(X)})
    df = spark.createDataFrame(pdf)
    partials = compute_grouped_moments(df, ["g"], "vec")
    m = merge_moment_rows(partials)
    close(m.mean, oracle.mean(X))
    close(m.cov, oracle.cov(X))


# -- the moments core: partials + re-merge vs a NumPy oracle ---------------

_CORE_KEYS = [(), ("g",), ("g", "w")]
_CORE_LAYOUTS = ["p1", "p7", "mega", "bucketed", "empty", "all_null",
                 "ragged"]


def _core_rows(layout: str) -> list:
    """(g, w, vec) rows: a mega-key "m" with most rows, NULL g and w keys,
    and vectors that are NULL, carry a null element or a NaN element."""
    if layout == "empty":
        return []
    rng = np.random.default_rng(7)
    rows = []
    for i in range(600):
        g = "m" if i % 5 else [None, "a", "b", "c"][i // 5 % 4]
        w = None if i % 7 == 0 else int(i % 3)
        vec = [float(v) for v in rng.normal(size=3) * (1 + i % 4) + 10]
        if layout == "all_null" or i % 11 == 0:
            vec = None
        elif i % 13 == 0:
            vec[1] = None
        elif i % 17 == 0:
            vec[2] = float("nan")
        rows.append((g, w, vec))
    if layout == "ragged":
        # each new group is fixed-dimension on its own; the batch is not
        rows += [("r2", 1, [1.0, 2.0]), ("r4", 1, [1.0, 2.0, 3.0, 4.0])]
    return rows


def _core_oracle(rows: list, keys: tuple) -> dict:
    """Per-key (n, mean, m2) by NumPy over the rows that contribute."""
    groups = {}
    for g, w, vec in rows:
        if vec is None or any(v is None or np.isnan(v) for v in vec):
            continue
        k = tuple({"g": g, "w": w}[c] for c in keys)
        groups.setdefault(k, []).append(vec)
    out = {}
    for k, vs in groups.items():
        x = np.asarray(vs, dtype=np.float64)
        mean = x.mean(axis=0)
        out[k] = (len(x), mean, (x - mean).T @ (x - mean))
    return out


@pytest.mark.parametrize("keys,layout", [
    pytest.param(k, lay, id=f"{'_'.join(k) or 'nokey'}-{lay}")
    for k in _CORE_KEYS for lay in _CORE_LAYOUTS
    # the bucketed route is the keyless reduce; a mega-key needs a key
    if not (lay == "bucketed" and k) and not (lay == "mega" and not k)])
def test_moments_core_matches_numpy(spark, monkeypatch, keys, layout):
    """Every moments caller goes through the partial worker and the
    re-merge: per-group n, mean and m2 equal a NumPy oracle whatever the
    partitioning — one partition, 7 partitions, a mega-key hashed into a
    single partition, the keyless re-merge above _BUCKETED_THRESHOLD — and
    NULL / null-element / NaN-element vectors never contribute.  A NULL key
    is a group.  A ragged batch raises even when its groups differ in
    dimension."""
    import featureextraction_jl_spark.functions.moments as M

    rows = _core_rows(layout)
    df = spark.createDataFrame(rows, "g string, w long, vec array<double>")
    if layout == "p1":
        df = df.coalesce(1)
    elif layout == "mega":
        df = df.repartition(7, "g")
    elif layout == "bucketed":
        monkeypatch.setattr(M, "_BUCKETED_THRESHOLD", 0)
        df = df.repartition(7)
    elif layout == "ragged":
        df = df.coalesce(1)
    else:
        df = df.repartition(7)
    if keys:
        run = lambda: compute_grouped_moments(df, list(keys), "vec").collect()
    else:
        run = lambda: [compute_moments(df, "vec")]
    if layout == "ragged":
        with pytest.raises(Exception, match="ragged"):
            run()
        return
    want = _core_oracle(rows, keys)
    if keys:
        got = {tuple(r[c] for c in keys):
               (r["n"], np.asarray(r["mean"]), np.asarray(r["m2"]))
               for r in run()}
        if want:
            assert any(None in k for k in got)     # a NULL key is a group
    else:
        m = run()[0]
        got = {(): (m.n, m.mean, m.m2)} if m.n else {}
    assert got.keys() == want.keys()
    for k, (n, mean, m2) in want.items():
        assert got[k][0] == n, k
        np.testing.assert_allclose(got[k][1], mean, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(np.reshape(got[k][2], m2.shape), m2,
                                   rtol=1e-8, atol=1e-8)


def test_grouped_moments_plan_shuffles_only_partials(spark):
    """The grouped fit runs no pandas group kernel, and its only new
    Exchange sits directly above the partial MapInArrow: only (n, mean,
    m2) partials are shuffled, never row data."""
    df = spark.createDataFrame(_core_rows("p7"),
                               "g string, w long, vec array<double>")
    df = df.repartition(4)
    out = compute_grouped_moments(df, ["g", "w"], "vec")
    plan = out._jdf.queryExecution().executedPlan().toString()
    base = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == base.count("Exchange") + 1, plan
    lines = plan.splitlines()
    ex = [i for i, ln in enumerate(lines)
          if "Exchange hashpartitioning(g" in ln]
    assert len(ex) == 1, plan
    assert "MapInArrow" in lines[ex[0] - 1], plan
    assert "MapInArrow" in lines[ex[0] + 1], plan


# -- correlation -----------------------------------------------------------

def test_correlation():
    m = batch_moments(X)
    close(m.corr, np.corrcoef(X, rowvar=False))


# -- PCA / whitening -------------------------------------------------------

def test_pca_fit_matches_oracle():
    m = batch_moments(X)
    model = fit_pca(m, k=4)
    mu, v, lam, total = oracle.pca_fit(X, k=4)
    close(model.mu, mu)
    close(model.eigenvalues, lam)
    close(model.components, v)
    close(model.explained_variance_ratio, lam / total)


def test_pca_var_threshold():
    model = fit_pca(batch_moments(X), var_threshold=0.9)
    assert model.explained_variance_ratio.sum() >= 0.9
    smaller = fit_pca(batch_moments(X), k=model.components.shape[1] - 1)
    assert smaller.explained_variance_ratio.sum() < 0.9


def test_projection_udf(spark):
    model = fit_pca(batch_moments(X), k=3)
    df = vec_df(spark, X)
    got = np.stack([r["y"] for r in df.select(project_udf(model, "vec").alias("y")).collect()])
    # order-insensitive compare: sort rows lexicographically
    mu, v, lam, _ = oracle.pca_fit(X, k=3)
    want = oracle.pca_project(X, mu, v)
    close(np.sort(got, axis=0), np.sort(want, axis=0))


def test_whitening_identity_cov(spark):
    model = fit_pca(batch_moments(X), k=6, mode="pca_whiten")
    df = vec_df(spark, X)
    y = np.stack([r["y"] for r in df.select(project_udf(model, "vec").alias("y")).collect()])
    close(np.cov(y, rowvar=False, ddof=1), np.eye(6))


def test_zca_identity_cov_and_oracle(spark):
    model = fit_pca(batch_moments(X), mode="zca")
    df = vec_df(spark, X)
    y = np.stack([r["y"] for r in df.select(project_udf(model, "vec").alias("y")).collect()])
    close(np.cov(y, rowvar=False, ddof=1), np.eye(6))
    mu, v, lam, _ = oracle.pca_fit(X)
    want = oracle.zca_project(X, mu, v, lam)
    close(np.sort(y, axis=0), np.sort(want, axis=0))


def test_inverse_roundtrip(spark):
    model = fit_pca(batch_moments(X), k=6)  # full rank => exact reconstruction
    df = vec_df(spark, X)
    out = df.select("vec", project_udf(model, "vec").alias("y"))
    out = out.select("vec", inverse_udf(model, "y").alias("xhat"))
    rows = out.collect()
    got_x = np.stack([r["vec"] for r in rows])
    got_hat = np.stack([r["xhat"] for r in rows])
    close(got_hat, got_x)


def test_model_save_load(tmp_path):
    from featureextraction_jl_spark.functions.pca import PCAModel
    model = fit_pca(batch_moments(X), k=3, mode="pca_whiten")
    p = str(tmp_path / "model.npz")
    model.save(p)
    loaded = PCAModel.load(p)
    close(loaded.projection, model.projection)
    assert loaded.mode == "pca_whiten"


# -- z-score ---------------------------------------------------------------

def test_zscore_global(spark):
    pdf = pd.DataFrame(X, columns=[f"c{i}" for i in range(6)])
    pdf["const"] = 7.0  # sigma == 0 guard
    df = spark.createDataFrame(pdf)
    out = zscore_global(df, [f"c{i}" for i in range(6)] + ["const"]).toPandas()
    out = out.sort_values("c0").reset_index(drop=True)
    want = oracle.zscore(X)
    want = want[np.argsort(want[:, 0])]
    close(out[[f"c{i}" for i in range(6)]].to_numpy(), want)
    assert (out["const"] == 0.0).all()


def test_zscore_by_group(spark):
    g = np.repeat(["a", "b"], 200)
    pdf = pd.DataFrame(X, columns=[f"c{i}" for i in range(6)])
    pdf["g"] = g
    df = spark.createDataFrame(pdf)
    out = zscore_by_group(df, ["g"], ["c0"]).toPandas()
    for grp, lo, hi in [("a", 0, 200), ("b", 200, 400)]:
        got = np.sort(out.loc[out.g == grp, "c0"].to_numpy())
        want = np.sort(oracle.zscore(X[lo:hi, :1]).ravel())
        close(got, want)


def test_zscore_vec_udf(spark):
    m = batch_moments(X)
    df = vec_df(spark, X)
    z = np.stack([r["z"] for r in df.select(zscore_vec_udf(m, "vec").alias("z")).collect()])
    close(np.sort(z, axis=0), np.sort(oracle.zscore(X), axis=0))


def test_moments_element_null_and_ragged(spark, monkeypatch):
    """Element-level nulls are invisible to the list-level null_count —
    np.asarray would render them NaN and silently poison every moment.
    Both reduce routes drop such rows; ragged batches raise loudly instead
    of the old divisible-length mis-reshape."""
    import featureextraction_jl_spark.functions.moments as M

    good = [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    rows = [(v,) for v in good] + [([7.0, None],), (None,)]
    df = spark.createDataFrame(rows, "vec array<double>").coalesce(1)
    want_mean = np.mean(good, axis=0)
    for threshold in (2048, 0):          # driver fold, then the re-merge
        monkeypatch.setattr(M, "_BUCKETED_THRESHOLD", threshold)
        m = compute_moments(df, "vec")
        assert m.n == 3
        np.testing.assert_allclose(m.mean, want_mean, rtol=1e-12)
    # ragged: lengths {1, 3} with total 4 elements over 2 rows would have
    # satisfied the old flat.size % n == 0 heuristic and silently reshaped
    ragged = spark.createDataFrame([([1.0],), ([2.0, 3.0, 4.0],)],
                                   "vec array<double>").coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        compute_moments(ragged, "vec")


def test_grouped_moments_null_vectors_dropped(spark):
    from featureextraction_jl_spark.functions.moments import compute_grouped_moments

    rows = [("a", [1.0, 2.0]), ("a", None), ("a", [3.0, 4.0]),
            ("b", None)]                       # group b: nothing valid
    df = spark.createDataFrame(rows, "k string, vec array<double>")
    got = {r["k"]: r for r in compute_grouped_moments(df, ["k"], "vec").collect()}
    assert set(got) == {"a"}                   # all-null group emits nothing
    assert got["a"]["n"] == 2
    np.testing.assert_allclose(got["a"]["mean"], [2.0, 3.0], rtol=1e-12)


def test_fit_pca_rejects_degenerate_n():
    from featureextraction_jl_spark.functions.moments import Moments
    from featureextraction_jl_spark.functions.pca import fit_pca

    for n in (0, 1):
        with pytest.raises(ValueError, match="n >= 2"):
            fit_pca(Moments(n, np.zeros(3), np.zeros((3, 3))), k=2)


def test_projection_udfs_propagate_nulls(spark):
    from featureextraction_jl_spark.functions.moments import Moments, batch_moments
    from featureextraction_jl_spark.functions.pca import (
        fit_pca, inverse_udf, project_udf)

    rng = np.random.default_rng(3)
    X = rng.normal(size=(50, 4))
    model = fit_pca(batch_moments(X), k=4)
    # one NULL vector + one vector with a null ELEMENT: BOTH must serve as
    # NULL — the fit side drops null-element rows from the moments
    # (pandas_clean_stack contract), so emitting NaN features for them
    # would silently diverge from the windowed path's mask (round-5
    # review: project_windowed NULLs them, the global path emitted NaN).
    rows = ([([float(v) for v in x],) for x in X[:5]]
            + [(None,), ([1.0, None, 2.0, 3.0],)])
    df = spark.createDataFrame(rows, "vec array<double>")
    out = df.select(project_udf(model, "vec").alias("pc"))
    got = out.withColumn("back", inverse_udf(model, "pc")).collect()
    assert sum(r["pc"] is None for r in got) == 2
    assert sum(r["back"] is None for r in got) == 2
    for r in got:
        if r["back"] is not None:
            assert np.isfinite(r["back"]).all()


def test_moments_empty_cols_raise(spark):
    """The scalar-column streaming moment builder must reject an empty
    column list with a clear error, not crash in filter(None) (round-5
    review)."""
    import pytest
    from featureextraction_jl_spark.streaming.ingest import (
        streaming_windowed_moments)

    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="non-empty"):
        streaming_windowed_moments(df, [])


def test_zscore_vec_udf_propagates_null_vectors(spark):
    """VERDICT r04 "what's wrong" #1 + round-5 review: a NULL vector AND a
    vector with a null element must standardize to NULL (like
    project_udf/inverse_udf) — no np.stack crash, no NaN-bearing output
    that passes an IS NOT NULL filter downstream."""
    m = batch_moments(X)
    rows = ([([float(v) for v in x],) for x in X[:6]]
            + [(None,),
               ([float(v) for v in X[6][:-1]] + [None],)])
    df = spark.createDataFrame(rows, "vec array<double>")
    got = df.select(zscore_vec_udf(m, "vec").alias("z")).collect()
    assert sum(r["z"] is None for r in got) == 2
    for r in got:
        if r["z"] is not None:
            assert np.isfinite(r["z"]).all()


def test_grouped_moments_mask_null_elements(spark):
    """A vector with a null ELEMENT must be dropped from its group, not
    NaN-poison the group's mean/M2 (the partial worker masks these via
    child validity, the same _batch_to_matrix rule as the global path)."""
    rows = [("a", [1.0, 2.0]), ("a", [3.0, 6.0]), ("a", [1.0, None]),
            ("a", None), ("b", [5.0, 5.0]), ("b", [None, None])]
    df = spark.createDataFrame(rows, "g string, vec array<double>")
    got = {r["g"]: r for r in
           compute_grouped_moments(df, ["g"], "vec").collect()}
    assert got["a"]["n"] == 2
    np.testing.assert_allclose(got["a"]["mean"], [2.0, 4.0])
    assert not any(np.isnan(got["a"]["m2"]))
    assert got["b"]["n"] == 1
    np.testing.assert_allclose(got["b"]["mean"], [5.0, 5.0])


def test_grouped_moments_ragged_group_raises(spark):
    """Ragged vectors raise the explicit fixed-dimension error (the global
    path's _batch_to_matrix contract), never a silent mis-stack."""
    import pytest
    from py4j.protocol import Py4JJavaError

    rows = [("a", [1.0, 2.0]), ("a", [3.0])]
    df = spark.createDataFrame(rows, "g string, vec array<double>")
    with pytest.raises(Exception) as ei:
        compute_grouped_moments(df, ["g"], "vec").collect()
    assert "ragged" in str(ei.value)


def test_zscore_null_inputs_stay_null_in_zero_sigma_branch(spark):
    """sd==0 maps observed values to 0.0 but must NOT fabricate 0.0 for
    NULL inputs — null propagation cannot flip with the column variance."""
    pdf = pd.DataFrame({"c": [7.0, 7.0, None, 7.0]})
    df = spark.createDataFrame(pdf)
    out = zscore_global(df, ["c"]).toPandas()
    assert out["c"].isna().sum() == 1
    assert (out["c"].dropna() == 0.0).all()

    pdf2 = pd.DataFrame({"g": ["a"] * 3 + ["b"] * 3,
                         "c": [7.0, None, 7.0, 1.0, 2.0, None]})
    out2 = zscore_by_group(spark.createDataFrame(pdf2), ["g"], ["c"]).toPandas()
    za = out2.loc[out2.g == "a", "c"]
    assert za.isna().sum() == 1 and (za.dropna() == 0.0).all()
    zb = out2.loc[out2.g == "b", "c"]
    assert zb.isna().sum() == 1 and not (zb.dropna() == 0.0).any()


def test_moment_paths_share_nan_row_contract(spark):
    """ONE contract across every moments path: rows with a null OR NaN
    element never contribute.  Genuine NaN values are Arrow-VALID (not
    null), so without the explicit mask the Arrow core would fold them in
    while the streaming pandas kernel (where NaN and null are
    indistinguishable) dropped them."""
    rows = [("a", [1.0, 2.0]), ("a", [3.0, 6.0]),
            ("a", [float("nan"), 1.0]), ("a", [2.0, None])]
    df = spark.createDataFrame(rows, "g string, vec array<double>")
    g = compute_moments(df, "vec")
    assert g.n == 2
    np.testing.assert_allclose(g.mean, [2.0, 4.0])
    grp = {r["g"]: r for r in
           compute_grouped_moments(df, ["g"], "vec").collect()}
    assert grp["a"]["n"] == 2
    np.testing.assert_allclose(grp["a"]["mean"], [2.0, 4.0])
