"""A/B: brute-force cosine top-k vs IVF probed top-k (operators/ann.py).

Evidence for the IVF scale-path claim: on a corpus where the brute scan
dominates, the n_probe-cell probe should (a) scan a small fraction of the
rows, (b) keep recall@k high vs the brute-force truth, and (c) win wall
time — and the win should GROW with corpus size since brute is O(n) per
query while IVF is O(n * n_probe / n_cells).

Protocol (memory: interleaved-min only — this host swings 2.5-6x):
each timed query runs SPARK_GRAFT_BENCH_REPS (default 3) times round-robin
(brute, ivf, brute, ivf, ...) and the reported wall is the per-arm MIN.
One-time index costs (quantizer training, assignment + partitioned write)
are reported separately — they amortize over every query served.

The IVF arm reads the assigned corpus from parquet PARTITIONED BY cell, so
the probe filter is partition pruning at the scan — the layout step 2 of
the operator's own docstring, not an in-memory shortcut.  The brute arm
reads the same rows from an identically-written UNpartitioned parquet.

Corpus: deterministic clustered embeddings (seeded per-id mapInPandas,
no driver-side generation): 64 latent directions, per-row noise, per-row
scale jitter 0.5-2x (exercises the spherical quantizer's norm invariance).

Writes BENCH/ann_ab.json:
  {n, dim, n_cells, n_probe, k, reps,
   walls: {brute: [..], ivf: [..]}, wall_min: {brute, ivf}, speedup,
   scan_fraction, recall_at_k, index_build: {train_sec, assign_write_sec}}
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(os.environ.get("SPARK_GRAFT_ANN_N", "1000000"))
DIM = int(os.environ.get("SPARK_GRAFT_ANN_DIM", "64"))
N_CELLS = int(os.environ.get("SPARK_GRAFT_ANN_CELLS", "256"))
N_PROBE = int(os.environ.get("SPARK_GRAFT_ANN_PROBE", "8"))
K = 10
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
SEED = 7
CACHE = os.environ.get(
    "SPARK_GRAFT_BENCH_CACHE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 ".bench_cache"))


def gen_corpus(spark, n: int, dim: int):
    """Clustered embeddings, deterministic per vec_id — executors generate
    their own ranges, nothing rides the driver."""
    n_latent = 64

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base = np.random.default_rng(SEED).normal(size=(n_latent, dim)) * 3.0
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(SEED + int(ids[0]))
            noise = rng.normal(scale=0.3, size=(len(ids), dim))
            scale = rng.uniform(0.5, 2.0, size=(len(ids), 1))
            x = (base[ids % n_latent] + noise) * scale
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": list(x.astype(np.float64))})

    return spark.range(n, numPartitions=64).mapInPandas(
        gen, "vec_id long, embedding array<double>")


def main() -> None:
    from featureextraction_jl_spark.operators.ann import (
        _cosine_to_query,
        assign_cells,
        ivf_topk,
        train_ivf_centroids,
    )
    from featureextraction_jl_spark.session import get_spark
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("ann-ab", master=f"local[{cpus}]")

    flat_dir = os.path.join(CACHE, f"ann_flat_n{N}_d{DIM}")
    part_dir = os.path.join(CACHE, f"ann_ivf_n{N}_d{DIM}_c{N_CELLS}")

    corpus = gen_corpus(spark, N, DIM)
    if not os.path.exists(os.path.join(flat_dir, "_SUCCESS")):
        corpus.write.mode("overwrite").parquet(flat_dir)

    # --- one-time index build (amortized over every query served) ---
    flat = spark.read.parquet(flat_dir)
    t0 = time.monotonic()
    cents = train_ivf_centroids(flat, "embedding", n_cells=N_CELLS, dim=DIM,
                                sample_rows=50_000, seed=SEED)
    train_sec = time.monotonic() - t0
    if not os.path.exists(os.path.join(part_dir, "_SUCCESS")):
        # repartition by cell BEFORE partitionBy: without it every write
        # task holds a file per cell it sees (64 tasks x 256 cells -> up to
        # 16k small files — measured 199 s); clustered, each cell's rows
        # land in one task -> one file per cell (measured 19.9 s, 10x, and
        # far fewer files for the probed reads)
        t0 = time.monotonic()
        (assign_cells(flat, "embedding", cents)
         .repartition("cell")
         .write.mode("overwrite").partitionBy("cell").parquet(part_dir))
        assign_write_sec = round(time.monotonic() - t0, 3)
    else:
        # warm .bench_cache rerun: the write was skipped — record that
        # honestly instead of a near-zero cost masquerading as evidence
        assign_write_sec = "cached"

    # queries = actual corpus members (worst case for pruning honesty: the
    # true neighbours exist and must be found)
    qrows = flat.filter(F.col("vec_id").isin([0, 12345, 500_000, 999_999])) \
        .collect()
    queries = [(int(r["vec_id"]), np.array(r["embedding"])) for r in qrows]

    def brute(q: np.ndarray):
        return (flat.select("vec_id",
                            F.round(_cosine_to_query(
                                F.col("embedding"), q), 6).alias("cosine"))
                .orderBy(F.col("cosine").desc(), "vec_id").limit(K))

    assigned = spark.read.parquet(part_dir)

    walls: dict[str, list[float]] = {"brute": [], "ivf": []}
    results: dict[str, dict[int, set]] = {"brute": {}, "ivf": {}}
    for _ in range(REPS):
        for arm in ("brute", "ivf"):  # interleaved
            t0 = time.monotonic()
            for qid, q in queries:
                fn = brute(q) if arm == "brute" else \
                    ivf_topk(assigned, q, cents, k=K, n_probe=N_PROBE)
                results[arm][qid] = {r["vec_id"] for r in fn.collect()}
            walls[arm].append(round(time.monotonic() - t0, 3))

    recall = np.mean([len(results["ivf"][qid] & results["brute"][qid]) / K
                      for qid, _ in queries])
    # scan fraction: rows inside the probed partitions for the first query
    q = queries[0][1]
    qn = q / np.linalg.norm(q)
    d = ((cents - qn[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in np.argsort(d)[:N_PROBE]]
    scanned = assigned.filter(F.col("cell").isin(probes)).count()

    out = {
        "n": N, "dim": DIM, "n_cells": N_CELLS, "n_probe": N_PROBE, "k": K,
        "reps": REPS, "n_queries": len(queries),
        "walls": walls,
        "wall_min": {a: min(w) for a, w in walls.items()},
        "speedup": round(min(walls["brute"]) / min(walls["ivf"]), 2),
        "scan_fraction": round(scanned / N, 5),
        "recall_at_k": round(float(recall), 4),
        "index_build": {"train_sec": round(train_sec, 3),
                        "assign_write_sec": assign_write_sec},
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/ann_ab.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
