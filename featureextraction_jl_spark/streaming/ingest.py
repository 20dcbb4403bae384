"""Streaming ingest + windowed aggregation twins (E5).

Design target: a transcript event stream (Kafka / Iceberg incremental scan)
with event-time watermarking so late turns are bounded and dropped-late rows
are observable.  The sandbox twin reads a parquet directory as a file stream
with ``trigger(availableNow=True)`` — identical plan shape, deterministic
tests.

The windowed aggregations here are the streaming twins of the batch
operators: ``F.window`` <-> operators/windows.py tumbling/sliding,
``F.session_window`` <-> operators/sessionize.py (gap semantics: a session
extends while consecutive events are < gap apart; the batch twin's
strict-inequality boundary matches for non-degenerate gaps, pinned in
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureextraction_jl_spark.sources.tables import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str,
                           watermark: str = "10 minutes",
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript turns with an event-time watermark.

    On a cluster the source would be Kafka or an Iceberg incremental scan —
    same downstream plan.  The watermark bounds state for every windowed agg
    and drops turns later than `watermark` behind the max event time seen.
    """
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path).withWatermark("ts", watermark)


def sessionized_turn_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-conversation session aggregation via ``session_window`` (E5).

    Streaming twin of the batch cumulative-sum sessionizer: one output row
    per (conv_id, session) with its bounds and turn count.
    """
    return (
        stream.groupBy("conv_id", F.session_window("ts", gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("turns"),
             F.min("ts").alias("first_ts"),
             F.max("ts").alias("last_ts"))
        .select("conv_id", "session.start", "session.end", "turns",
                "first_ts", "last_ts")
    )


def windowed_turn_stats(stream: DataFrame, window: str = "1 hour",
                        slide: str | None = None) -> DataFrame:
    """Tumbling/sliding per-conv turn stats (streaming twin of C7)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    char_len = F.length("text").cast("double")
    return (
        stream.groupBy("conv_id", win.alias("w"))
        .agg(F.count(F.lit(1)).alias("turns"),
             F.avg(char_len).alias("avg_chars"),
             F.sum(char_len).alias("sum_chars"))
        .select("conv_id", "w.start", "w.end", "turns", "avg_chars", "sum_chars")
    )


def streaming_windowed_moments(stream: DataFrame, cols: list[str],
                               ts_col: str = "ts",
                               duration: str = "1 hour") -> DataFrame:
    """Per-tumbling-window moment accumulation as a STREAMING aggregation —
    the Structured Streaming twin of the windowed-PCA fit's moment pass
    (plans/windowed_pca.py; batch truth = compute_grouped_moments).

    Raw-sums strategy (the only one expressible as a streaming agg: Spark's
    incremental state update needs partial+final SQL aggregates, not an
    Arrow worker): per window accumulate ``n``, ``s_i = sum(x_i)`` and the
    upper triangle ``q_ij = sum(x_i * x_j)``; recover (mean, M2) with
    :func:`finalize_windowed_moments` once the window closes.  State per
    window is 1 + p + p(p+1)/2 doubles — bounded by the watermark, which
    also defines when a window's moments are final (append mode emits each
    exactly once).  Null handling matches the batch moments paths: rows
    with any null OR NaN component are dropped before accumulation (the
    NaN-unified moments contract — a bare isNotNull filter would let one
    Arrow-valid NaN poison its whole window's sums while the batch twin
    drops the row, silently breaking the pinned stream==batch equivalence).

    ``cols``: scalar double columns (project array elements upstream —
    element extraction is a narrow map and keeps this fully JVM-side).
    """
    if not cols:
        raise ValueError(
            "streaming_windowed_moments: cols must be a non-empty list of "
            "scalar double columns (an empty list has no moments to "
            "accumulate)")
    src = stream
    cond = None
    for c in cols:
        nn = F.col(c).isNotNull() & ~F.isnan(F.col(c))
        cond = nn if cond is None else (cond & nn)
    src = src.filter(cond)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(F.col(c)).alias(f"s{i}") for i, c in enumerate(cols)]
    aggs += [F.sum(F.col(a) * F.col(b)).alias(f"q{i}_{j}")
             for i, a in enumerate(cols)
             for j, b in enumerate(cols) if j >= i]
    return (src.groupBy(F.window(ts_col, duration).alias("w")).agg(*aggs)
            .select(F.col("w.start").alias("win_start"), "*").drop("w"))


def finalize_windowed_moments(rows, p: int) -> dict:
    """Recover {win_start: (n, mean, m2)} from drained raw-sum rows.

    Driver-side NumPy over O(windows) tiny rows: mean = s/n,
    M2 = Q - n * outer(mean, mean).
    """
    import numpy as np

    out = {}
    for r in rows:
        n = int(r["n"])
        s = np.array([r[f"s{i}"] for i in range(p)], dtype=np.float64)
        q = np.zeros((p, p))
        for i in range(p):
            for j in range(i, p):
                q[i, j] = q[j, i] = r[f"q{i}_{j}"]
        mean = s / n
        out[r["win_start"]] = (n, mean, q - n * np.outer(mean, mean))
    return out


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "complete") -> None:
    """Drain an availableNow stream into the in-memory sink (test harness)."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
