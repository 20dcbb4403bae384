"""E5/E6: streaming twins equal their batch operators on the same rows."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.moments import (
    compute_grouped_moments,
    compute_moments,
    merge_moment_rows,
)
from featureextraction_jl_spark.operators.sessionize import sessionize
from featureextraction_jl_spark.sources import generate_transcripts
from featureextraction_jl_spark.streaming.ingest import (
    read_transcript_stream,
    run_to_memory,
    sessionized_turn_counts,
    windowed_turn_stats,
)
from featureextraction_jl_spark.streaming.state import streaming_moments

GAP_S = 1800


@pytest.fixture(scope="module")
def tdir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    generate_transcripts(spark, 80, seed=11, max_turns=50, mega_turns=0) \
        .write.parquet(path)
    return path


def test_session_window_matches_batch_sessionize(spark, tdir):
    stream = read_transcript_stream(spark, tdir, watermark="0 seconds")
    run_to_memory(sessionized_turn_counts(stream, gap=f"{GAP_S} seconds"),
                  "sess_stream")
    got = {(r.conv_id, r.first_ts, r.turns)
           for r in spark.table("sess_stream").collect()}

    batch = sessionize(spark.read.parquet(tdir), gap_seconds=GAP_S,
                       order=["ts", "turn_idx"])
    want = {(r.conv_id, r.first_ts, r.turns) for r in
            batch.groupBy("conv_id", "session_id")
                 .agg(F.min("ts").alias("first_ts"),
                      F.count(F.lit(1)).alias("turns")).collect()}
    assert got == want


def test_windowed_stats_match_batch_groupby(spark, tdir):
    stream = read_transcript_stream(spark, tdir, watermark="0 seconds")
    run_to_memory(windowed_turn_stats(stream, window="1 hour"), "win_stream")
    got = spark.table("win_stream")

    batch = (spark.read.parquet(tdir)
             .groupBy("conv_id", F.window("ts", "1 hour").alias("w"))
             .agg(F.count(F.lit(1)).alias("turns"))
             .select("conv_id", "w.start", "turns"))
    g = {(r.conv_id, r.start, r.turns) for r in
         got.select("conv_id", "start", "turns").collect()}
    w = {(r.conv_id, r.start, r.turns) for r in batch.collect()}
    assert g == w


def test_streaming_moments_equal_batch(spark, tmp_path):
    # deterministic vectors, several parquet files => several micro-batches
    rng = np.random.default_rng(5)
    vdir = str(tmp_path / "vecs")
    for i in range(3):
        vecs = list(rng.normal(size=(200, 6)))
        if i == 1:
            # NULL vectors in one micro-batch: a poison pill unless the
            # stateful update drops them (np.stack would raise, the batch
            # would fail, and the checkpoint would replay it forever)
            vecs[7] = None
            vecs[150] = None
            # null ELEMENT: worse than a crash — unmasked it folds NaN into
            # the CUMULATIVE state and every later emission for that key is
            # NaN forever (batch paths drop these rows via
            # decode_vectors; the stream must match)
            poisoned = list(vecs[42])
            poisoned[3] = None
            vecs[42] = poisoned
        pdf = pd.DataFrame({
            "key": [f"k{j % 4}" for j in range(200)],
            "vec": vecs,
        })
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(vdir)

    stream = (spark.readStream.schema("key string, vec array<double>")
              .option("maxFilesPerTrigger", 1).parquet(vdir))
    run_to_memory(streaming_moments(stream, "key", "vec"), "mom_stream",
                  output_mode="update")

    # last emission per key is the cumulative state; merge across keys
    emitted = spark.table("mom_stream")
    last = emitted.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("key").orderBy(F.col("n").desc()))
    ).filter("rk = 1").drop("rk")
    streamed = merge_moment_rows(last)

    batch = compute_moments(spark.read.parquet(vdir), "vec")
    # both sides dropped the 2 NULL vectors AND the null-element vector
    assert streamed.n == batch.n == 597
    assert not np.isnan(streamed.mean).any()
    np.testing.assert_allclose(streamed.mean, batch.mean, rtol=1e-8, atol=1e-10)
    np.testing.assert_allclose(streamed.m2, batch.m2, rtol=1e-8, atol=1e-8)



def test_streaming_windowed_moments_equal_batch(spark, tdir):
    """Streaming per-window moment accumulation (the windowed-PCA fit's
    stream twin) must equal the batch grouped-moments truth per window —
    n exactly, mean/M2 to float tolerance (raw sums vs Chan merge)."""
    from featureextraction_jl_spark.streaming.ingest import (
        finalize_windowed_moments,
        streaming_windowed_moments,
    )

    cols = ["c0", "c1"]
    # sparse NaN injection (c1 NaN on ~1/37 of rows): the NaN-unified
    # moments contract says such rows contribute to NEITHER side — a
    # streaming filter that only checked isNotNull would fold the NaN into
    # its window's sums and poison that window's mean/M2
    proj = lambda df: df.select(
        "ts",
        F.length("text").cast("double").alias("c0"),
        F.when(F.col("turn_idx") % 37 == 3, F.lit(float("nan")))
         .otherwise(F.log1p(F.col("turn_idx").cast("double"))).alias("c1"))

    stream = proj(read_transcript_stream(spark, tdir, watermark="0 seconds"))
    run_to_memory(streaming_windowed_moments(stream, cols, duration="1 day"),
                  "win_moments")
    got = finalize_windowed_moments(spark.table("win_moments").collect(), 2)

    batch = proj(spark.read.parquet(tdir)).select(
        F.window("ts", "1 day")["start"].alias("w"),
        F.array("c0", "c1").alias("vec"))
    truth = {r["w"]: r for r in
             compute_grouped_moments(batch, ["w"], "vec").collect()}

    assert got.keys() == truth.keys() and len(got) > 5
    for w, (n, mean, m2) in got.items():
        assert n == truth[w]["n"]
        np.testing.assert_allclose(mean, truth[w]["mean"], rtol=1e-9)
        np.testing.assert_allclose(
            m2, np.asarray(truth[w]["m2"]).reshape(2, 2), rtol=1e-6, atol=1e-6)


def test_streaming_moments_all_invalid_key_emits_nothing(spark, tmp_path):
    """A key whose rows are ALL invalid (null/null-element vectors) must
    create neither an emission nor state — the batch paths emit no group
    row for it, and an (n=0, mean=[], m2=[]) row would crash fit_pca
    downstream while a TTL-less 0-row state entry lived forever (round-5
    review)."""
    vdir = str(tmp_path / "vecs_invalid")
    pdf = pd.DataFrame({
        "key": ["good"] * 5 + ["bad"] * 3 + ["worse"] * 2,
        "vec": [[float(i), 2.0, 3.0] for i in range(5)]
        + [[1.0, None, 2.0]] * 3          # null element only
        + [None] * 2,                     # NULL vector only
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(vdir)
    stream = (spark.readStream.schema("key string, vec array<double>")
              .parquet(vdir))
    run_to_memory(streaming_moments(stream, "key", "vec"), "mom_invalid",
                  output_mode="update")
    rows = spark.table("mom_invalid").collect()
    assert {r["key"] for r in rows} == {"good"}
    assert all(r["n"] == 5 for r in rows)
