"""IVF (inverted-file) approximate nearest neighbour — the clustered scale
path for similarity search (task brief: "an IVF or LSH-bucketed variant as
the scale path"; the LSH variant lives in operators/dedup.py).

Classic IVF decomposition, Spark-first:

1. **Train** (driver): Lloyd's k-means on a bounded seeded SAMPLE of the
   vectors — IVF quantizers are always trained on a sample (a coarse
   quantizer needs ~256 points/cell, not the corpus), so the driver cost is
   O(sample * dim * iters) regardless of corpus size.
2. **Assign** (executors): one Arrow-batched GEMM per batch against the
   broadcast centroid matrix -> ``cell`` column.  Narrow map, no shuffle.
   Persist the assigned table bucketed by ``cell`` and queries prune to
   their probe cells at the SCAN (partition pruning), never touching the
   rest of the corpus.  ``repartition("cell")`` before
   ``partitionBy("cell")`` when writing — otherwise every write task
   holds a file per cell it sees (tasks x cells small files).  Measured
   at 1M rows x 256 cells: 199 s without the repartition, 19.9 s with it;
   the A/B that kept it is ``BENCH/ann_ab.json``
   (``index_build.assign_write_sec``).
3. **Query**: rank the centroids against the query driver-side (tiny GEMM),
   take the ``n_probe`` nearest cells, filter the corpus to those cells
   (the inverted-file probe — at 10^12 vectors with n_cells=2^16 and
   n_probe=8 this scans ~0.01% of rows), then exact cosine top-k within.

Recall/scan-fraction trade-off is the standard IVF curve: raise ``n_probe``
for recall, raise ``n_cells`` to shrink per-cell scan cost.  Recall vs the
brute-force truth is pinned in tests/test_ann.py on planted clusters, along
with the pruning property (rows scanned < corpus) and determinism (seeded
sample + seeded init).

Metric consistency: the final ranking is COSINE, so the quantizer is
spherical k-means — vectors are L2-normalized before training and
assignment and centroids are re-normalized each iteration.  On the unit
sphere, argmin L2 == argmax cosine, so the cell probe ranks cells under
the SAME metric the top-k uses (the faiss IVF-for-cosine recipe:
normalize + inner product).  Zero-norm vectors have undefined cosine and
get cell NULL, same as NULL / wrong-dim vectors.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from featureextraction_jl_spark.functions.moments import (
    decode_vectors,
    encode_vectors,
)
from featureextraction_jl_spark.session import broadcast_once


def _broadcast_centroids(sc, centroids) -> tuple:
    """(broadcast of (unit centroids, their squared norms), dim), one
    broadcast per caller-owned centroid array (``session.broadcast_once``).
    A serving loop calling assign_cells or ivf_topk_batch per batch would
    otherwise ship and pin a fresh copy of the matrix on every call (at
    n_cells=2^16, dim=128 that is ~67 MB per call; round-5 review)."""
    owner = np.asarray(centroids)   # the caller's array itself

    def build():
        cents = np.ascontiguousarray(owner, dtype=np.float64)
        return cents, (cents * cents).sum(axis=1)

    return broadcast_once(sc, owner, "ivf_centroids", build), owner.shape[1]


def train_ivf_centroids(df: DataFrame, vec_col: str, n_cells: int,
                        dim: int, sample_rows: int = 50_000,
                        iters: int = 10, seed: int = 13) -> np.ndarray:
    """Driver-side Lloyd's k-means on a seeded sample -> (n_cells, dim).

    The sample is bounded (``limit`` after a seeded shuffle-free ``sample``)
    so driver memory is O(sample_rows * dim) at any corpus size.  Empty
    cells re-seed to the farthest points (standard Lloyd's repair), so the
    quantizer always has n_cells distinct cells.

    Cluster cost: ONE column-pruned count pass (to turn ``sample_rows``
    into a Bernoulli fraction) plus the sample scan — both narrow, no
    shuffle.  Training is one-time per corpus snapshot; persist the
    centroids with the assigned table so queries never retrain.
    """
    frac_src = df.select(F.col(vec_col).alias("_v")).filter(
        F.col("_v").isNotNull() & (F.size("_v") == dim))
    # sample ~2x the target then cap: .sample is per-row Bernoulli so the
    # exact count is random; limit() trims deterministically after sort-free
    # scan order (acceptable for quantizer training).
    n_total = frac_src.count()
    if n_total == 0:
        raise ValueError("train_ivf_centroids: no valid vectors")
    frac = min(1.0, (2.0 * sample_rows) / max(n_total, 1))
    rows = (frac_src.sample(frac, seed=seed).limit(sample_rows).collect())
    x = np.array([r["_v"] for r in rows], dtype=np.float64)
    # spherical k-means: normalize the sample so L2 clustering happens in
    # the cosine geometry the query-time ranking uses (zero-norm vectors
    # have no direction — drop them, mirroring assign_cells' NULL cell)
    nrm = np.linalg.norm(x, axis=1)
    x = x[nrm > 0] / nrm[nrm > 0, None]
    if x.shape[0] == 0:
        raise ValueError("train_ivf_centroids: no valid vectors")
    n_cells = min(n_cells, x.shape[0])
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(x.shape[0], size=n_cells, replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2) \
            if x.shape[0] * n_cells * x.shape[1] < 5e7 else None
        if d2 is None:
            # blockwise assignment for big samples: ||x-c||^2 via GEMM
            d2 = (x * x).sum(1)[:, None] - 2 * x @ cents.T \
                + (cents * cents).sum(1)[None, :]
        assign = d2.argmin(axis=1)
        new = np.zeros_like(cents)
        counts = np.bincount(assign, minlength=n_cells)
        np.add.at(new, assign, x)
        nonempty = counts > 0
        new[nonempty] /= counts[nonempty, None]
        if (~nonempty).any():
            # re-seed empty cells with the points farthest from their centroid
            far = np.argsort(d2[np.arange(len(x)), assign])[::-1]
            new[~nonempty] = x[far[: (~nonempty).sum()]]
        # spherical step: re-project centroids onto the unit sphere so the
        # probe's L2 ranking stays monotone in cosine every iteration
        cn = np.linalg.norm(new, axis=1)
        new[cn > 0] /= cn[cn > 0, None]
        if np.allclose(new, cents, rtol=0, atol=1e-12):
            cents = new
            break
        cents = new
    return cents


def _nearest_cells(bc_value: tuple, col: pa.Array, n: int
                   ) -> "tuple[np.ndarray | None, np.ndarray | None]":
    """Shared spherical-assignment kernel for assign_cells (top-1) and
    ivf_topk_batch's probe (top-n): decode the vectors (the codec drops
    NULL and null/NaN-element rows), drop zero-norm rows, L2-normalize,
    one GEMM against the broadcast centroids, take the top-n cells by L2
    (== cosine on the unit sphere).  Returns ((rows, n) cell ids, kept row
    positions) in the codec's shape; one body so the masking and
    normalization cannot drift between the two callers."""
    cents, c_sq = bc_value
    x, kept = decode_vectors(col)
    if x is None:
        return None, kept
    nrm = np.linalg.norm(x, axis=1)
    nz = nrm > 0
    if not nz.all():
        kept = np.flatnonzero(nz) if kept is None else kept[nz]
        x, nrm = x[nz], nrm[nz]
        if not len(x):
            return None, kept
    x = x / nrm[:, None]
    # argmin ||x-c||^2 = argmin c.c - 2 x.c (x.x == 1 per row)
    d = c_sq[None, :] - 2.0 * (x @ cents.T)
    top = d.argmin(axis=1)[:, None] if n == 1 else np.argsort(d, axis=1)[:, :n]
    return top.astype(np.int32), kept


def _valid_vectors(col: str, dim: int) -> Column:
    """The vector column with every NULL or wrong-dim row made NULL in the
    JVM, so ragged rows never reach the codec's ragged check."""
    return F.when(F.col(col).isNotNull() & (F.size(col) == F.lit(dim)),
                  F.col(col).cast("array<double>"))


def assign_cells(df: DataFrame, vec_col: str, centroids: np.ndarray,
                 out_col: str = "cell") -> DataFrame:
    """Attach the nearest-centroid cell id — one GEMM per Arrow batch.

    The centroid matrix rides an explicit broadcast; NULL / wrong-dim /
    zero-norm vectors, and vectors with a null or NaN element, get cell
    NULL (they can never be probed, matching the ANN family's null
    handling — a zero vector has no cosine).  Rows are L2-normalized
    before the GEMM so assignment happens in the same spherical geometry
    the quantizer was trained in.
    """
    bc, dim = _broadcast_centroids(df.sparkSession.sparkContext, centroids)

    @F.arrow_udf(IntegerType())
    def _assign(col: pa.Array) -> pa.Array:
        top, kept = _nearest_cells(bc.value, col, 1)
        cells = np.zeros(len(col), dtype=np.int32)
        valid = np.zeros(len(col), dtype=bool)
        if top is not None:
            rows = slice(None) if kept is None else kept
            cells[rows], valid[rows] = top[:, 0], True
        return pa.array(cells, pa.int32(), mask=~valid)

    return df.withColumn(out_col, _assign(_valid_vectors(vec_col, dim)))


def _cosine_to_query(vec_col: Column, q: np.ndarray) -> Column:
    """Exact cosine vs a literal query vector — pure JVM exprs (q44 shape).

    The query norm is a Python-side constant (one fewer fold per row than
    the generic cosine_cols)."""
    from featureextraction_jl_spark.functions.vectors import (
        dot_cols,
        norm_col,
    )

    qarr = F.array(*[F.lit(float(v)) for v in q])
    qn = float(np.linalg.norm(q))
    return dot_cols(vec_col, qarr) / (norm_col(vec_col) * F.lit(qn))


def ivf_topk(assigned: DataFrame, query: np.ndarray, centroids: np.ndarray,
             k: int = 10, n_probe: int = 4, vec_col: str = "embedding",
             id_col: str = "vec_id", cell_col: str = "cell") -> DataFrame:
    """Top-k by cosine among the ``n_probe`` cells nearest the query.

    ``assigned`` is the corpus with precomputed cells (:func:`assign_cells`
    — persist it partitioned/bucketed by cell so this filter becomes
    partition pruning at the scan).  The probe-cell ranking is a tiny
    driver-side GEMM over the centroid matrix; the candidate scan is
    ``filter(cell IN probes)`` + exact JVM-side cosine + global top-k.
    """
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn == 0:
        raise ValueError("ivf_topk: zero-norm query has no cosine ranking")
    # centroids are unit-norm (spherical k-means), so ranking them by L2
    # to the normalized query IS ranking them by cosine
    d = ((centroids - (q / qn)[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in np.argsort(d)[:n_probe]]
    cand = assigned.filter(F.col(cell_col).isin(probes))
    return (cand
            .select(id_col,
                    F.round(_cosine_to_query(F.col(vec_col).cast("array<double>"),
                                             q), 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(k))


def ivf_topk_batch(assigned: DataFrame, queries: DataFrame,
                   centroids: np.ndarray, k: int = 10, n_probe: int = 4,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   cell_col: str = "cell", query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec") -> DataFrame:
    """Top-k per query for a whole DataFrame of queries in ONE plan.

    The production shape of similarity search is batched (dedup sweeps,
    retrieval eval sets) — running :func:`ivf_topk` per query costs one
    job each and re-scans shared cells.  This variant serves the batch in
    one pass:

    1. each query gets its ``n_probe`` nearest cells via the same
       broadcast-GEMM used by :func:`assign_cells` (one Arrow batch GEMM,
       cells as an array column) — no driver loop over queries;
    2. explode to (query, probe cell) and join to the corpus on ``cell``.
       The QUERY side is broadcast (queries × n_probe rows — small by
       construction); the corpus side stays put, so the join is a narrow
       map over the cell-pruned scan, no corpus shuffle;
    3. exact cosine per (query, candidate) — pure JVM exprs on the joined
       vectors; a window top-k per query (the q12 per-group-top-k shape).

    Cost: scans only the UNION of the batch's probe cells — disjoint
    query clusters prune independently; overlapping queries share the
    scan instead of repeating it.  NULL/zero-norm query vectors yield no
    output rows (their cosine is undefined), mirroring the single-query
    path's ValueError in DataFrame semantics.

    Returns (query_id, vec_id, cosine, rank) with rank 1..k per query.
    """
    bc, dim = _broadcast_centroids(queries.sparkSession.sparkContext,
                                   centroids)

    @F.arrow_udf(ArrayType(IntegerType()))
    def _probe_cells(col: pa.Array) -> pa.Array:
        top, kept = _nearest_cells(bc.value, col, n_probe)
        if top is None:
            return pa.nulls(len(col), pa.list_(pa.int32()))
        return encode_vectors(top, kept, len(col))

    probed = (queries
              .withColumn("__cells",
                          _probe_cells(_valid_vectors(query_vec_col, dim)))
              .filter(F.col("__cells").isNotNull())
              .select(query_id_col, query_vec_col,
                      F.explode("__cells").alias(cell_col)))

    from featureextraction_jl_spark.functions.vectors import (
        dot_cols,
        norm_col,
    )

    # Norms precomputed per SIDE, below the join (the vectors.py contract,
    # same as embedding_near_dup_pairs): the join fans each corpus row out
    # once per query probing its cell and each query out once per
    # candidate, so a composed cosine_cols would re-fold both O(dim) norms
    # per PAIR — here each norm folds once per row and only the O(dim) dot
    # product remains pairwise.
    qv = F.col(query_vec_col).cast("array<double>")
    cv = F.col(vec_col).cast("array<double>")
    corpus = assigned.withColumn("__cn", norm_col(cv))
    probed = probed.withColumn("__qn", norm_col(qv))
    joined = corpus.join(F.broadcast(probed), cell_col)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col))
    return (joined
            .select(query_id_col, id_col,
                    F.round(dot_cols(cv, qv)
                            / (F.col("__cn") * F.col("__qn")), 6)
                    .alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
