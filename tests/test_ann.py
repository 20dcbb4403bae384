"""IVF ANN gates: recall vs brute force, pruning property, determinism."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from featureextraction_jl_spark.operators.ann import (
    assign_cells,
    ivf_topk,
    ivf_topk_batch,
    train_ivf_centroids,
)

DIM = 16


@pytest.fixture(scope="module")
def corpus(spark):
    """12 well-separated clusters of 25 vectors + 200 noise vectors."""
    rng = np.random.default_rng(77)
    rows, vid = [], 0
    centers = rng.normal(size=(12, DIM)) * 4.0
    for c in centers:
        for _ in range(25):
            rows.append((vid, [float(x) for x in c + rng.normal(scale=0.2, size=DIM)]))
            vid += 1
    for _ in range(200):
        rows.append((vid, [float(x) for x in rng.normal(size=DIM)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    X = np.array([r[1] for r in rows])
    return df, X


def _brute_topk(X, q, k):
    qn = q / np.linalg.norm(q)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ qn
    return set(np.argsort(-sims)[:k].tolist())


def test_ivf_recall_and_pruning(spark, corpus):
    df, X = corpus
    cents = train_ivf_centroids(df, "embedding", n_cells=16, dim=DIM,
                                sample_rows=1000)
    assert cents.shape == (16, DIM)
    assigned = assign_cells(df, "embedding", cents).cache()
    n_cells_used = assigned.select("cell").distinct().count()
    assert n_cells_used >= 8  # the quantizer actually partitions the space

    # recall@10 vs brute force, averaged over several cluster queries
    hits = total = 0
    for qi in (0, 30, 60, 120, 200):
        q = X[qi]
        got = {r["vec_id"] for r in
               ivf_topk(assigned, q, cents, k=10, n_probe=4).collect()}
        want = _brute_topk(X, q, 10)
        hits += len(got & want)
        total += len(want)
    recall = hits / total
    assert recall >= 0.9, f"IVF recall@10 {recall:.2f} < 0.9"

    # the probe actually PRUNES: candidates scanned < corpus size
    q = X[0]
    d = ((cents - q[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in np.argsort(d)[:4]]
    scanned = assigned.filter(F.col("cell").isin(probes)).count()
    assert scanned < df.count(), "probe filter did not prune anything"

    assigned.unpersist()


def test_ivf_recall_is_norm_invariant(spark, corpus):
    """Cosine ignores vector scale — wildly varying norms must not break
    the quantizer (the spherical-k-means property: raw-L2 cells would
    split clusters by NORM, not direction, and tank recall)."""
    df, X = corpus
    rng = np.random.default_rng(5)
    scales = rng.uniform(0.01, 100.0, size=X.shape[0])
    Xs = X * scales[:, None]
    rows = [(int(i), [float(v) for v in Xs[i]]) for i in range(len(Xs))]
    dfs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(dfs, "embedding", n_cells=16, dim=DIM,
                                sample_rows=1000)
    assigned = assign_cells(dfs, "embedding", cents).cache()
    hits = total = 0
    for qi in (0, 30, 60, 120, 200):
        got = {r["vec_id"] for r in
               ivf_topk(assigned, Xs[qi], cents, k=10, n_probe=4).collect()}
        want = _brute_topk(Xs, Xs[qi], 10)
        hits += len(got & want)
        total += len(want)
    assigned.unpersist()
    assert hits / total >= 0.9, f"scaled-corpus recall {hits/total:.2f} < 0.9"


def test_ivf_batch_matches_per_query(spark, corpus):
    """ivf_topk_batch == per-query ivf_topk on every (query, rank); NULL /
    wrong-dim / zero-norm query vectors yield zero output rows."""
    df, X = corpus
    cents = train_ivf_centroids(df, "embedding", n_cells=16, dim=DIM,
                                sample_rows=1000)
    assigned = assign_cells(df, "embedding", cents).cache()
    qids = (0, 30, 60, 120, 200)
    qdf = spark.createDataFrame(
        [(int(qi), [float(v) for v in X[qi]]) for qi in qids]
        + [(900, None), (901, [1.0, 2.0]), (902, [0.0] * DIM)],
        "query_id long, query_vec array<double>")
    got = ivf_topk_batch(assigned, qdf, cents, k=10, n_probe=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    assert set(by_q) == set(qids)  # invalid queries produced nothing
    for qi in qids:
        single = [(i + 1, r["vec_id"], r["cosine"]) for i, r in enumerate(
            ivf_topk(assigned, X[qi], cents, k=10, n_probe=4).collect())]
        assert sorted(by_q[qi]) == single, f"batch != single for query {qi}"
    assigned.unpersist()


def test_ivf_deterministic_and_null_safe(spark, corpus):
    df, X = corpus
    c1 = train_ivf_centroids(df, "embedding", n_cells=8, dim=DIM,
                             sample_rows=500)
    c2 = train_ivf_centroids(df, "embedding", n_cells=8, dim=DIM,
                             sample_rows=500)
    np.testing.assert_array_equal(c1, c2)  # seeded sample + seeded init

    # NULL / wrong-dim vectors -> cell NULL, never probed, never a crash
    bad = spark.createDataFrame(
        [(1000, None), (1001, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    assigned = assign_cells(df.unionByName(bad), "embedding", c1)
    cells = {r["vec_id"]: r["cell"] for r in
             assigned.filter(F.col("vec_id") >= 1000).collect()}
    assert cells[1000] is None and cells[1001] is None
    got = ivf_topk(assigned, X[0], c1, k=5, n_probe=8)
    assert got.count() == 5
    assert all(r["vec_id"] < 1000 for r in got.collect())


def test_ivf_empty_and_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no valid vectors"):
        train_ivf_centroids(empty, "embedding", n_cells=4, dim=DIM)
    # fewer points than cells: quantizer shrinks instead of crashing
    # (three distinct DIRECTIONS — spherical k-means sees directions only)
    few = spark.createDataFrame(
        [(i, [float(i + 1)] + [1.0] * (DIM - 1)) for i in range(3)],
        "vec_id long, embedding array<double>")
    c = train_ivf_centroids(few, "embedding", n_cells=8, dim=DIM)
    assert c.shape[0] == 3
    np.testing.assert_allclose(np.linalg.norm(c, axis=1), 1.0)  # unit cells

    # zero-norm vectors: no direction -> dropped from training, cell NULL,
    # zero-norm QUERY raises (its cosine ranking is undefined)
    with_zero = spark.createDataFrame(
        [(0, [0.0] * DIM), (1, [1.0] * DIM), (2, [-1.0] * DIM)],
        "vec_id long, embedding array<double>")
    cz = train_ivf_centroids(with_zero, "embedding", n_cells=4, dim=DIM)
    assert cz.shape[0] == 2  # the zero vector never became a centroid
    cells = {r["vec_id"]: r["cell"] for r in
             assign_cells(with_zero, "embedding", cz).collect()}
    assert cells[0] is None and cells[1] is not None
    with pytest.raises(ValueError, match="zero-norm query"):
        ivf_topk(assign_cells(with_zero, "embedding", cz),
                 np.zeros(DIM), cz)
    all_zero = spark.createDataFrame(
        [(0, [0.0] * DIM)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no valid vectors"):
        train_ivf_centroids(all_zero, "embedding", n_cells=2, dim=DIM)


def _entries(owner) -> list:
    """Live model-broadcast cache keys whose owner is ``owner``."""
    from featureextraction_jl_spark.session import _BROADCASTS

    return [k for k in _BROADCASTS if k[1] == id(owner)]


def test_centroid_broadcast_reused_across_calls(spark, corpus):
    """assign_cells / ivf_topk_batch must not ship a fresh broadcast of the
    same centroid matrix per call (round-5 review: a per-batch serving loop
    piled never-freed broadcast blocks) — the same array object reuses ONE
    broadcast, and nothing is hashed.  The cache keys by identity, not
    content: a copy of the array gets its own broadcast."""
    from featureextraction_jl_spark.operators.ann import _broadcast_centroids

    sc = spark.sparkContext
    cents = np.eye(4)
    b1, dim = _broadcast_centroids(sc, cents)
    b2, _ = _broadcast_centroids(sc, cents)             # same OBJECT
    assert b1 is b2 and dim == 4 and len(_entries(cents)) == 1
    copy = cents.copy()                                 # same CONTENT
    b3, _ = _broadcast_centroids(sc, copy)
    assert b3 is not b1 and len(_entries(copy)) == 1
    np.testing.assert_array_equal(b3.value[0], b1.value[0])
    # both public entry points share the one broadcast of one array
    df, _ = corpus
    c = train_ivf_centroids(df, "embedding", n_cells=4, dim=DIM)
    ivf_topk_batch(assign_cells(df, "embedding", c), df.select(F.col("vec_id").alias("query_id"),
                                 F.col("embedding").alias("query_vec")), c)
    assert len(_entries(c)) == 1


def test_broadcast_unpersisted_when_owner_collected(spark):
    """Deleting a broadcast's owner (a fitted model, the caller's centroid
    array) drops its cache entry and unpersists the broadcast
    (weakref.finalize on the owner)."""
    import gc

    from featureextraction_jl_spark.session import _BROADCASTS, broadcast_once

    class Owner:
        pass

    unpersisted = []
    owner = Owner()
    bc = broadcast_once(spark.sparkContext, owner, "k", lambda: np.eye(2))
    key = _entries(owner)[0]
    unpersist = bc.unpersist
    bc.unpersist = lambda *a: unpersisted.append(unpersist(*a) is None)
    del owner
    gc.collect()
    assert key not in _BROADCASTS and unpersisted == [True]


def test_centroid_broadcast_cache_drops_stopped_apps(spark):
    """An entry of another (stopped) application is dropped and
    unpersisted on the next call, instead of staying pinned."""
    from featureextraction_jl_spark.operators.ann import _broadcast_centroids
    from featureextraction_jl_spark.session import _BROADCASTS

    class StaleBroadcast:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    stale = StaleBroadcast()
    key = ("app-of-a-stopped-context", 0, "ivf_centroids")
    _BROADCASTS[key] = stale
    cents = np.eye(2) * 3.0
    _broadcast_centroids(spark.sparkContext, cents)
    assert key not in _BROADCASTS
    assert stale.unpersisted
