"""End-to-end flagship job gates (SURVEY.md §5.2.2, §5.2.4):
leakage-free, byte-equal text passthrough, plan shape, skewed-key moments."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import compute_grouped_moments
from featureextraction_jl_spark.plans import FeatureJobConfig, run_features
from featureextraction_jl_spark.plans.feature_job import build_turn_features
from featureextraction_jl_spark.sources import generate_transcripts, generate_snapshots
from tests import oracle

CFG = FeatureJobConfig(snap_dim=4, k=5)


@pytest.fixture(scope="module")
def data(spark):
    t = generate_transcripts(spark, num_convs=40, seed=42, max_turns=200,
                             mega_turns=600).cache()
    s = generate_snapshots(spark, num_convs=40, seed=42, dim=4).cache()
    t.count(), s.count()
    return t, s


def text_digest(pdf: pd.DataFrame) -> str:
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    h = hashlib.sha256()
    for t in pdf["text"]:
        h.update(t.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


def test_flagship_runs_and_passthrough(spark, data):
    t, s = data
    out, model = run_features(t, s, CFG)
    out_pdf = out.select("conv_id", "turn_idx", "text").toPandas()
    in_pdf = t.select("conv_id", "turn_idx", "text").toPandas()
    # byte-equal text passthrough under stable (conv_id, turn_idx) order
    assert text_digest(out_pdf) == text_digest(in_pdf)
    assert out.count() == t.count()
    assert model.components.shape[1] == CFG.k
    first = out.select("feature_vec").first()[0]
    assert len(first) == CFG.k


def test_flagship_whitened_cov_identity(spark, data):
    t, s = data
    out, _ = run_features(t, s, CFG)
    y = np.stack(out.select("feature_vec").toPandas()["feature_vec"].to_numpy())
    np.testing.assert_allclose(np.cov(y, rowvar=False, ddof=1), np.eye(CFG.k),
                               rtol=1e-6, atol=1e-8)


def test_flagship_leakage_free(spark, data):
    """§1.4.10: truncate input to ts <= cut, refit nothing (reuse model),
    recompute — vectors at surviving (conv_id, ts) must be identical."""
    t, s = data
    out, model = run_features(t, s, CFG)
    cut = t.agg(F.percentile_approx("ts", 0.6)).collect()[0][0]

    t_cut = t.filter(F.col("ts") <= F.lit(cut))
    s_cut = s.filter(F.col("snapshot_ts") <= F.lit(cut))
    out_cut, _ = run_features(t_cut, s_cut, CFG, model=model)

    key = ["conv_id", "turn_idx"]
    full = out.filter(F.col("ts") <= F.lit(cut)).select(
        *key, "feature_vec").toPandas().set_index(key).sort_index()
    trunc = out_cut.select(*key, "feature_vec").toPandas().set_index(key).sort_index()
    assert len(full) == len(trunc)
    a = np.stack(full["feature_vec"].to_numpy())
    b = np.stack(trunc["feature_vec"].to_numpy())
    np.testing.assert_allclose(a, b, rtol=1e-8, atol=1e-10)


def _split_equivalence(df, key: str, vec_col: str, parts: int) -> dict:
    """Grouped moments of ``df`` with every key in one partial
    (``coalesce(1)``) and with every key spread round-robin over ``parts``
    partitions must agree: the Chan merge is exact under any partial split.
    Returns the unsplit result keyed by ``key``."""
    whole = {r[key]: r for r in compute_grouped_moments(
        df.coalesce(1), [key], vec_col).collect()}
    split = {r[key]: r for r in compute_grouped_moments(
        df.repartition(parts), [key], vec_col).collect()}
    assert whole.keys() == split.keys()
    for k in whole:
        assert whole[k]["n"] == split[k]["n"], k
        np.testing.assert_allclose(whole[k]["mean"], split[k]["mean"],
                                   rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(whole[k]["m2"], split[k]["m2"],
                                   rtol=1e-8, atol=1e-8)
    return whole


def test_salting_equivalence(spark, data):
    """The flagship corpus has one mega conversation (600 turns beside
    conversations of up to 200).  Its per-conv_id moments must be the same
    whether each key is one partial or the mega key is split over 8
    partitions (the partition id acting as the salt), and must equal an
    independent NumPy fit per conversation."""
    t, s = data
    from featureextraction_jl_spark.plans.feature_job import build_turn_features
    prepared = build_turn_features(t, s, CFG).select("conv_id", "raw_vec")
    got = _split_equivalence(prepared, "conv_id", "raw_vec", 8)
    pdf = prepared.toPandas()
    assert got.keys() == set(pdf["conv_id"])
    assert max(r["n"] for r in got.values()) >= 600   # the mega key is there
    for k, grp in pdf.groupby("conv_id"):
        x = np.stack(grp["raw_vec"].to_numpy())
        mean = x.mean(axis=0)
        assert got[k]["n"] == len(x), k
        np.testing.assert_allclose(got[k]["mean"], mean, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(
            np.reshape(got[k]["m2"], (x.shape[1], x.shape[1])),
            (x - mean).T @ (x - mean), rtol=1e-8, atol=1e-8)


def test_flagship_null_text_does_not_poison_model(spark, data):
    """A NULL text (legal per the schema) must behave as char_len 0, not
    inject a null raw_vec element — one such element becomes NaN in the
    Arrow moments path and poisons the global covariance / fitted model."""
    t, s = data
    t_null = t.withColumn(
        "text", F.when(F.col("turn_idx") % 97 == 3, None)
                 .otherwise(F.col("text")))
    n_nulled = t_null.filter(F.col("text").isNull()).count()
    assert n_nulled > 0  # the planted rows exist
    out, model = run_features(t_null, s, CFG)
    assert np.isfinite(model.components).all()
    assert np.isfinite(model.mu).all()
    y = np.stack(out.select("feature_vec").toPandas()["feature_vec"].to_numpy())
    assert np.isfinite(y).all()          # every row, nulled ones included
    assert out.count() == t.count()      # no rows silently dropped


def test_flagship_plan_invariants(spark, data):
    """SURVEY.md §4 plan promises, pinned so refactors can't regress them.

    * one Exchange in the fit pass and in the projection pass: the as-of
      union window's hash(conv_id) exchange (anything extra would
      re-shuffle 10^12 turns at scale);
    * no BatchEvalPython (row-at-a-time Python) anywhere — the only Python
      is the Arrow-batched projection (ArrowEvalPython);
    * ONE Sort: the as-of sweep's (key, ts, left_order, side) sort; the
      chain's (ts, turn_idx) order is a prefix of it (asof_join
      left_order), so Catalyst elides every later Sort — a second one is a
      full re-sort of every turn per pass at scale;
    * three Windows: the as-of sweep, one for every function of the
      (conv_id; ts, turn_idx) spec that reads only the input — lag(ts)
      once, lag(char_len), avg(char_len), last(tool) — and one for
      sum(new_session), the only function that reads another's output.
    """
    import re
    t, s = data
    out, _model = run_features(t, s, CFG)
    fit = build_turn_features(t, s, CFG).select("ts", "raw_vec")
    for name, df in (("fit", fit), ("transform", out)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {op: len(re.findall(rf"\b{op} \[", plan))
                  for op in ("Window", "Sort")}
        counts["Exchange"] = plan.count("Exchange ")
        assert counts == {"Window": 3, "Sort": 1, "Exchange": 1}, \
            f"{name} pass: {counts}\n{plan[:6000]}"
        assert "BatchEvalPython" not in plan, "row-at-a-time Python crept in"
        # lag's argument is a pre-projected column: resolve it to its
        # defining expression and keep the ones over ts
        lags = re.findall(r"\blag\((\w+#\d+)", plan)
        over_ts = [a for a in lags if re.search(
            rf"[(\[,] ?[^,\[]*\bts#\d+[^,\[]* AS {re.escape(a)}\b", plan)]
        assert len(lags) == 2 and len(over_ts) == 1, f"{name}: {lags}\n{plan}"
    assert "ArrowEvalPython" in plan, "projection should be Arrow-batched"


def _oracle_fixture(spark):
    """Two conversations with snapshots and one without: duplicate ts,
    NULL and empty text, NULL tool before and after a tool, gaps just
    below, at and above gap_seconds (1800 s), a snapshot tied with a turn
    and snapshots before the first and after the last turn."""
    t0 = pd.Timestamp("2024-03-01")
    turns = [  # conv_id, turn_idx, role, text, tool, seconds after t0
        ("a", 0, "user", "hello there", None, 0),
        ("a", 1, "assistant", None, "search", 0),
        ("a", 2, "tool", "result rows", None, 1799),
        ("a", 3, "user", "", None, 3600),
        ("a", 4, "assistant", "ok then", "calc", 5400),
        ("a", 5, "tool", None, None, 9000),
        ("a", 6, "user", "later", None, 9000),
        ("b", 0, "user", "why", None, 100),
        ("b", 1, "assistant", "because " * 20, None, 100),
        ("b", 2, "user", None, None, 5000),
        ("c", 0, "user", "x", "search", 50),
        ("c", 1, "assistant", "y y", None, 1900),
        ("c", 2, "tool", "zz", None, 2000),
    ]
    tp = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "sec"])
    tp["ts"] = t0 + pd.to_timedelta(tp.pop("sec"), unit="s")
    sp = pd.DataFrame({
        "conv_id": ["a", "a", "b", "b"],
        "snapshot_ts": t0 + pd.to_timedelta([1000, 5400, 50, 6000], unit="s"),
        "snap_vec": [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]],
        "snap_score": [0.0] * 4,
    })
    t = spark.createDataFrame(tp, "conv_id string, turn_idx int, role string, "
                                  "text string, tool string, ts timestamp")
    s = spark.createDataFrame(sp, "conv_id string, snapshot_ts timestamp, "
                                  "snap_vec array<double>, snap_score double")
    return tp, sp, t, s


def test_raw_vec_matches_pandas_oracle(spark):
    """Every component of every row's raw_vec equals the vector built in
    pandas from the as-of, sessionize and forward-fill oracles — the
    whitening gate passes whatever the base components are, this does not."""
    cfg = FeatureJobConfig(snap_dim=2, k=2, rolling_turns=2)
    tp, sp, t, s = _oracle_fixture(spark)
    got = build_turn_features(t, s, cfg) \
        .select("conv_id", "turn_idx", "session_id", "tool", "raw_vec") \
        .toPandas().set_index(["conv_id", "turn_idx"]).sort_index()

    merged = oracle.asof_backward(tp, sp, "conv_id", "ts", "snapshot_ts")
    want = []
    for _conv, g in merged.groupby("conv_id"):
        g = g.sort_values(["ts", "turn_idx"])
        char_len = g["text"].str.len().fillna(0.0).astype(float)
        session = oracle.sessionize(g["ts"], cfg.gap_seconds)
        tool = oracle.forward_fill(g["tool"])
        base = np.column_stack([
            np.log1p(char_len),
            np.log1p(g["ts"].diff().dt.total_seconds()).fillna(0.0),
            session,
            np.log1p(g["turn_idx"].astype(float)),
            np.log1p(char_len.shift(1)).fillna(0.0),
            np.log1p(char_len.rolling(cfg.rolling_turns + 1,
                                      min_periods=1).mean()),
            g["role"] == "assistant",
            g["role"] == "tool",
            tool.notna(),
        ]).astype(float)
        snap = np.stack([np.asarray(v) if isinstance(v, list) else np.zeros(2)
                         for v in g["snap_vec"]])
        want.append(g[["conv_id", "turn_idx"]].assign(
            session_id=session.to_numpy(), tool=tool.to_numpy(),
            raw_vec=list(np.hstack([base, snap]))))
    want = pd.concat(want).set_index(["conv_id", "turn_idx"]).sort_index()

    assert list(got.index) == list(want.index)
    assert got["session_id"].tolist() == want["session_id"].tolist()
    assert got["tool"].tolist() == want["tool"].tolist()
    np.testing.assert_allclose(np.stack(got["raw_vec"].to_numpy()),
                               np.stack(want["raw_vec"].to_numpy()),
                               rtol=1e-12, atol=0)


def test_scan_pushdown_and_pruning(spark, sf01_dir):
    """Filters and projection reach the parquet scan (SURVEY.md §4)."""
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    q = (li.filter(F.col("l_quantity") < 10)
         .select("l_orderkey", "l_quantity"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan, plan[:2000]
    # column pruning: the scan schema carries only the 2 referenced columns
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_salted_moments_degenerate_corpus_sampled_probe(spark):
    """10^5 rows funneled into ONE key, spread over 8 partitions: the
    grouped moments (8 partials re-merged) equal the one-partial result and
    the closed-form moments exactly (Chan merge) — in bounded time."""
    df = spark.range(100_000).select(
        F.lit("all").alias("k"),
        F.array((F.col("id") % 97).cast("double"),
                (F.col("id") % 13).cast("double")).alias("vec"))
    got = _split_equivalence(df, "k", "vec", 8)
    assert got.keys() == {"all"} and got["all"]["n"] == 100_000
    x = np.stack([np.arange(100_000) % 97,
                  np.arange(100_000) % 13], axis=1).astype(np.float64)
    mean = x.mean(axis=0)
    np.testing.assert_allclose(got["all"]["mean"], mean, rtol=1e-10)
    np.testing.assert_allclose(np.reshape(got["all"]["m2"], (2, 2)),
                               (x - mean).T @ (x - mean), rtol=1e-8)


def test_flagship_windowed_models_option(spark, data):
    """cfg.window_duration: the flagship fits one model PER TUMBLING WINDOW
    and every row projects through its own window's model — verified via
    the Mahalanobis invariant against an independent NumPy fit on exactly
    that window's raw_vec rows (the q35 trick, per window)."""
    import datetime as dt

    from featureextraction_jl_spark.plans.feature_job import build_turn_features
    from featureextraction_jl_spark.plans.windowed_pca import WindowedPCA

    t, s = data
    cfg = FeatureJobConfig(snap_dim=4, k=None, mode="pca_whiten",
                           window_duration="7 days")
    out, fitted = run_features(t, s, cfg)
    assert isinstance(fitted, WindowedPCA)
    assert len(fitted.models) > 1  # data genuinely spans several windows

    raw = build_turn_features(t, s, CFG).select(
        "conv_id", "turn_idx", "ts", "raw_vec").toPandas()
    feats = out.select("conv_id", "turn_idx", "feature_vec").toPandas()
    pdf = raw.merge(feats, on=["conv_id", "turn_idx"], validate="1:1")
    assert pdf["feature_vec"].notna().all()
    eps = 1e-12
    n_checked = 0
    for w, grp in pdf.groupby(pdf["ts"].dt.floor("7D")):
        X = np.stack(grp["raw_vec"].to_numpy())
        if len(X) < 2:
            continue
        mu = X.mean(axis=0)
        cov = np.cov(X, rowvar=False, ddof=1)
        p = X.shape[1]
        sample = grp.head(25)
        for _, r in sample.iterrows():
            x = np.asarray(r["raw_vec"])
            y = np.asarray(r["feature_vec"])
            want = float((x - mu) @ np.linalg.solve(cov + eps * np.eye(p),
                                                    x - mu))
            np.testing.assert_allclose(y @ y, want, rtol=1e-5, atol=1e-6)
            n_checked += 1
    assert n_checked >= 50



def test_flagship_windowed_plan_invariants(spark, data):
    """The windowed projection pass must keep the global flagship's plan
    shape: the as-of union window's hash(conv_id) exchange stays the only
    full-data shuffle (window-start derivation and the keyed projection are
    NARROW — no extra Exchange, no extra Sort, no row-at-a-time Python)."""
    import re

    t, s = data
    cfg = FeatureJobConfig(snap_dim=4, k=None, mode="pca_whiten",
                           window_duration="7 days")
    out, _fitted = run_features(t, s, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 3, f"plan has {n_exchanges} Exchanges:\n{plan[:4000]}"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python crept in"
    assert "ArrowEvalPython" in plan, "projection should be Arrow-batched"
    n_sorts = len(re.findall(r"\bSort \[", plan))
    assert n_sorts <= 1, f"plan has {n_sorts} Sorts:\n{plan[:4000]}"


def test_global_path_rejects_windowed_model_without_duration(spark, data):
    """Passing a pre-fitted WindowedPCA with window_duration unset must
    raise the symmetric TypeError (round-5 review: it previously died in
    project_udf with an opaque AttributeError that never mentioned
    window_duration)."""
    import pytest

    from featureextraction_jl_spark.plans.feature_job import (
        FeatureJobConfig,
        run_features,
    )
    from featureextraction_jl_spark.plans.windowed_pca import WindowedPCA

    t, s = data
    fake = WindowedPCA({}, {}, "1 hour", ())
    with pytest.raises(TypeError, match="window_duration"):
        run_features(t, s, CFG, model=fake)
