"""Deterministic synthetic transcript + snapshot generator (FIXTURES.md §A).

Distributed and partition-invariant: each conversation's rows are produced by
a NumPy RNG seeded by (seed, conv index) inside ``mapInPandas``, so the output
is byte-identical regardless of parallelism or partitioning — the property
the two-cluster-size bench depends on (both runs read identical parquet).

Skew is intentional: turn counts ~ Zipf(a=1.5) clipped to [2, max_turns] plus
one mega-conversation (conv 0), exercising the moments core's mega-key path
(functions/moments.py).
Text includes multi-byte UTF-8 (emoji, CJK), quotes and newlines so the
byte-equality passthrough gate is meaningful.  5% of inter-turn gaps exceed
the 30-minute session boundary; ~1% of rows get out-of-order or duplicate ts
(leakage + tie-break tests).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

EPOCH = np.datetime64("2025-01-01T00:00:00", "us")

_TOKENS = np.array([
    "the", "feature", "join", "vector", "σ", "Δt", "conversation", "naïve",
    "东京", "データ", "🙂", "🚀", "quote\"inside", "new\nline", "tab\tsep",
    "tool_call", "assistant", "Ω≈ç√", "𝔘𝔫𝔦", "مرحبا", "привет", "ok", "-->",
])
_TOOLS = np.array(["search", "browser", "python", "sql", "calculator",
                   "retrieval", "editor", "shell"])
_ROLES = np.array(["user", "assistant"])


def _conv_rows(conv: int, seed: int, max_turns: int, mega_turns: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, conv])
    if conv == 0 and mega_turns:
        n = mega_turns
    else:
        n = int(np.clip(rng.zipf(1.5), 2, max_turns))
    conv_id = f"c{conv:08d}"

    # roles: alternate user/assistant, 10% tool, 2% system
    role = _ROLES[np.arange(n) % 2].copy()
    r = rng.random(n)
    role[r < 0.10] = "tool"
    role[(r >= 0.10) & (r < 0.12)] = "system"

    # text: seeded token soup, 10–600 chars
    n_tok = rng.integers(2, 60, size=n)
    toks = rng.integers(0, len(_TOKENS), size=int(n_tok.sum()))
    joined = _TOKENS[toks]
    bounds = np.cumsum(n_tok)[:-1]
    text = np.array([" ".join(part) for part in np.split(joined, bounds)], dtype=object)

    tool = np.where(role == "tool",
                    _TOOLS[rng.integers(0, len(_TOOLS), size=n)], None)

    # ts: start uniform over 30 days; lognormal gaps; 5% gaps > 30 min
    start = rng.uniform(0, 30 * 86400)
    gaps = rng.lognormal(mean=1.1, sigma=1.0, size=n)  # median ~3s
    long_gap = rng.random(n) < 0.05
    gaps[long_gap] += 1800.0 + rng.exponential(1800.0, size=int(long_gap.sum()))
    gaps[0] = 0.0
    offsets = start + np.cumsum(gaps)

    # ~1% out-of-order or duplicate ts (never for turn 0)
    weird = np.flatnonzero(rng.random(n) < 0.01)
    weird = weird[weird > 0]
    half = len(weird) // 2
    offsets[weird[:half]] = offsets[weird[:half] - 1]          # duplicates
    offsets[weird[half:]] = offsets[weird[half:] - 1] - rng.uniform(
        0.5, 5.0, size=len(weird) - half)                      # out-of-order

    ts = EPOCH + (offsets * 1e6).astype("timedelta64[us]")
    return pd.DataFrame({
        "conv_id": conv_id,
        "turn_idx": np.arange(n, dtype=np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    })


def generate_transcripts(spark: SparkSession, num_convs: int, seed: int = 42,
                         max_turns: int = 5000, mega_turns: int = 0,
                         partitions: int | None = None) -> DataFrame:
    """Distributed deterministic transcripts; schema = TRANSCRIPT_SCHEMA."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    convs = spark.range(num_convs, numPartitions=parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for conv in pdf["id"].to_numpy():
                yield _conv_rows(int(conv), seed, max_turns, mega_turns)

    return convs.mapInPandas(
        gen,
        schema="conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp",
    )


def _snap_rows(conv: int, seed: int, dim: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, conv, 7])
    if rng.random() < 0.10:      # 10% of convs have no snapshots
        return pd.DataFrame()
    k = int(rng.integers(1, 9))
    start = rng.uniform(0, 30 * 86400)
    offs = np.sort(start + rng.uniform(0, 86400 * 35, size=k))  # some after last turn
    mu = rng.normal(scale=2.0, size=dim)
    vecs = mu + rng.normal(size=(k, dim))
    return pd.DataFrame({
        "conv_id": f"c{conv:08d}",
        "snapshot_ts": EPOCH + (offs * 1e6).astype("timedelta64[us]"),
        "snap_vec": list(vecs.astype(np.float64)),
        "snap_score": rng.normal(size=k),
    })


def generate_snapshots(spark: SparkSession, num_convs: int, seed: int = 42,
                       dim: int = 16, partitions: int | None = None) -> DataFrame:
    """Point-in-time snapshot table (FIXTURES.md §A2), right side of the as-of."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    convs = spark.range(num_convs, numPartitions=parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_snap_rows(int(c), seed, dim) for c in pdf["id"].to_numpy()]
            out = [o for o in out if len(o)]
            if out:
                yield pd.concat(out, ignore_index=True)

    return convs.mapInPandas(
        gen,
        schema="conv_id string, snapshot_ts timestamp, "
               "snap_vec array<double>, snap_score double",
    )
