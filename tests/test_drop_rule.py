"""One drop rule on every vector path.

A NULL vector, or one with a null or NaN element, never contributes to a
fit and serves as NULL (or as no row).  The rule lives once, in the vector
codec (``functions/moments.py:decode_vectors``); this file runs one frame
holding each kind of dropped row beside valid rows through every path that
reads an array<double> column.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import (
    batch_moments,
    compute_grouped_moments,
    compute_moments,
    merge_moment_rows,
)
from featureextraction_jl_spark.functions.pca import (
    fit_pca,
    inverse_udf,
    project_udf,
)
from featureextraction_jl_spark.functions.zscore import zscore_vec_udf
from featureextraction_jl_spark.operators.ann import (
    assign_cells,
    ivf_topk_batch,
    train_ivf_centroids,
)
from featureextraction_jl_spark.operators.dedup import embedding_near_dup_pairs
from featureextraction_jl_spark.plans.windowed_pca import run_windowed_features
from featureextraction_jl_spark.streaming.ingest import run_to_memory
from featureextraction_jl_spark.streaming.state import streaming_moments

P = 4
T0 = dt.datetime(2025, 3, 1)
RNG = np.random.default_rng(17)
#: valid rows: one direction plus small noise, so every LSH table puts
#: them in one bucket and every ANN query probes a populated cell
X = np.ones(P) + RNG.normal(scale=0.05, size=(8, P))
VALID = list(range(len(X)))
DROPPED = {100: None,                          # NULL vector
           101: [1.0, None, 1.0, 1.0],         # null element
           102: [1.0, 1.0, float("nan"), 1.0]}  # NaN element
SCHEMA = "id long, g string, ts timestamp, vec array<double>"


@pytest.fixture(scope="module")
def frame(spark):
    rows = [(i, "a", T0 + dt.timedelta(minutes=i), [float(v) for v in x])
            for i, x in enumerate(X)]
    rows += [(i, "a", T0 + dt.timedelta(minutes=30), v)
             for i, v in DROPPED.items()]
    # two partitions, so the dropped rows and the valid ones share batches
    return spark.createDataFrame(rows, SCHEMA).repartition(2, "id")


def _null_ids(df, col: str) -> set:
    return {r["id"] for r in df.filter(F.col(col).isNull()).collect()}


def _moments(spark, df, tmp_path):
    m = compute_moments(df, "vec")
    want = batch_moments(X)
    assert m.n == len(X)
    np.testing.assert_allclose(m.mean, want.mean, rtol=1e-12)
    np.testing.assert_allclose(m.m2, want.m2, rtol=1e-10, atol=1e-12)


def _grouped_moments(spark, df, tmp_path):
    rows = compute_grouped_moments(df, ["g"], "vec").collect()
    m = merge_moment_rows(rows)
    want = batch_moments(X)
    assert len(rows) == 1 and m.n == len(X)
    np.testing.assert_allclose(m.mean, want.mean, rtol=1e-12)
    np.testing.assert_allclose(m.m2, want.m2, rtol=1e-10, atol=1e-12)


def _project(spark, df, tmp_path):
    model = fit_pca(batch_moments(X), k=P)
    out = df.withColumn("y", project_udf(model, "vec"))
    assert _null_ids(out, "y") == set(DROPPED)
    got = {r["id"]: r["y"] for r in out.collect() if r["y"] is not None}
    np.testing.assert_allclose(np.array([got[i] for i in VALID]),
                               (X - model.mu) @ model.projection, rtol=1e-10)


def _inverse(spark, df, tmp_path):
    model = fit_pca(batch_moments(X), k=P)
    assert _null_ids(df.withColumn("x", inverse_udf(model, "vec")),
                     "x") == set(DROPPED)


def _zscore(spark, df, tmp_path):
    out = df.withColumn("z", zscore_vec_udf(batch_moments(X), "vec"))
    assert _null_ids(out, "z") == set(DROPPED)


def _project_windowed(spark, df, tmp_path):
    out, fitted = run_windowed_features(df, "vec", "ts", "1 hour",
                                        key_cols=("g",))
    assert sum(fitted.counts.values()) == len(X)
    assert _null_ids(out, "feature_vec") == set(DROPPED)


def _assign_cells(spark, df, tmp_path):
    cents = train_ivf_centroids(df.filter(F.col("id") < 100), "vec",
                                n_cells=2, dim=P)
    assert _null_ids(assign_cells(df, "vec", cents), "cell") == set(DROPPED)


def _ivf_probe(spark, df, tmp_path):
    corpus = df.filter(F.col("id") < 100)
    cents = train_ivf_centroids(corpus, "vec", n_cells=2, dim=P)
    queries = df.select(F.col("id").alias("query_id"),
                        F.col("vec").alias("query_vec"))
    got = ivf_topk_batch(assign_cells(corpus, "vec", cents), queries, cents,
                         k=1, n_probe=2, vec_col="vec", id_col="id")
    assert {r["query_id"] for r in got.collect()} == set(VALID)


def _lsh_buckets(spark, df, tmp_path):
    got = embedding_near_dup_pairs(df, "vec", "id", threshold=-1.0,
                                   n_planes=2, n_tables=2, max_bucket=None,
                                   dim=P)
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == {
        (a, b) for a in VALID for b in VALID if a < b}


def _streaming_moments(spark, df, tmp_path):
    vdir = str(tmp_path / "vecs")
    df.select(F.col("g").alias("key"), "vec").write.parquet(vdir)
    stream = spark.readStream.schema("key string, vec array<double>") \
        .parquet(vdir)
    run_to_memory(streaming_moments(stream, "key", "vec"), "drop_rule_mom",
                  output_mode="update")
    rows = spark.table("drop_rule_mom").collect()
    assert max(r["n"] for r in rows) == len(X)


PATHS = [_moments, _grouped_moments, _project, _inverse, _zscore,
         _project_windowed, _assign_cells, _ivf_probe, _lsh_buckets,
         _streaming_moments]


@pytest.mark.parametrize("path", PATHS, ids=[p.__name__[1:] for p in PATHS])
def test_dropped_rows_never_contribute(spark, frame, tmp_path, path):
    path(spark, frame, tmp_path)


def test_frame_holds_every_dropped_kind(frame):
    """The frame really carries a NULL vector, a null element and a NaN
    element next to the valid rows."""
    pdf = frame.toPandas().set_index("id").sort_index()
    assert pdf.loc[100, "vec"] is None
    assert pd.isna(pdf.loc[101, "vec"][1]) and np.isnan(pdf.loc[102, "vec"][2])
    assert len(pdf) == len(X) + len(DROPPED)
