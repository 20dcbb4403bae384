"""Streaming mean/covariance moment accumulation (SURVEY.md §2 op A3/A4).

The reference accumulates (mean, covariance) over dense Float64 matrices with
Julia ``Statistics.mean`` / ``Statistics.cov`` semantics (Bessel-corrected,
n-1).  Here the accumulator is the *mergeable* centered-moment triple

    (n, mean, M2)    with    M2 = sum_i (x_i - mean)(x_i - mean)^T

merged pairwise with the Chan/Golub/LeVeque update (SURVEY.md §1.4.4), which
is associative and commutative up to float round-off — so the moments of a
group are exact under any split of its rows into partials.

One moments core, two Arrow workers (no per-row Python, no pandas group):

* the PARTIAL worker (``_arrow_partials``, a mapInArrow over the key columns
  plus one array<double> column) Chan-merges every Arrow batch of its
  partition per group key and emits ONE ``(keys..., n, mean, m2)`` row per
  (partition, group).  With no key columns it emits one row per partition.
* the RE-MERGE worker (``_arrow_remerge``, a mapInArrow behind
  ``repartition(*keys)``) folds every partial row of a key into one.

The partition id acts as the salt: a mega-key's rows become one O(p^2)
partial per partition that holds them, and only partials are shuffled, so
no group is ever materialized in one task and no heavy-key probe is needed
(map-side partial aggregation).  Every caller goes through these two
workers:

* :func:`compute_grouped_moments` — partials, then the keyed re-merge: one
  moment row per group key (windowed PCA, q36).
* :func:`compute_moments` — keyless partials collected and Chan-merged on
  the driver; above ``_BUCKETED_THRESHOLD`` source partitions the partials
  first go through the re-merge keyed on ``spark_partition_id() % 64``, so
  driver traffic stays O(64 * p^2) at any scale.

The vector codec lives here too: :func:`decode_vectors` turns an Arrow
``list<double>`` column into a matrix plus the kept row positions, and
:func:`encode_vectors` turns a matrix of kept rows back into a list
column with NULL for the dropped rows.  The drop rule (a NULL vector, or
one with a null or NaN element, never contributes) exists only in the
decoder; the moments workers, the serving UDFs (:func:`vector_udf`), the
windowed projection, ANN, embedding LSH and the streaming state all use
it.

No JVM-expression form: raw-sum aggregate expressions lose the Chan
update's cancellation protection and measured slower than the Arrow
partials (25.8 s vs 19.4 s at local[8], ``BENCH/moments_ab.log``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)


@dataclass
class Moments:
    """Mergeable centered moments: count, mean vector, comoment matrix."""

    n: int
    mean: np.ndarray  # shape (p,)
    m2: np.ndarray    # shape (p, p); sum of outer products of deviations

    @property
    def cov(self) -> np.ndarray:
        """Bessel-corrected sample covariance (Julia Statistics.cov default)."""
        if self.n < 2:
            return np.full_like(self.m2, np.nan)
        return self.m2 / (self.n - 1)

    @property
    def std(self) -> np.ndarray:
        """Corrected per-feature standard deviation."""
        return np.sqrt(np.clip(np.diag(self.cov), 0.0, None))

    @property
    def corr(self) -> np.ndarray:
        """Correlation matrix R = D^{-1/2} Sigma D^{-1/2}; zero-variance -> 0."""
        sd = self.std
        with np.errstate(divide="ignore", invalid="ignore"):
            r = self.cov / np.outer(sd, sd)
        r[~np.isfinite(r)] = 0.0
        return r


def batch_moments(x: np.ndarray) -> Moments:
    """Moments of one dense batch (rows = observations). One BLAS GEMM."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n == 0:
        p = x.shape[1] if x.ndim == 2 else 0
        return Moments(0, np.zeros(p), np.zeros((p, p)))
    mean = x.mean(axis=0)
    xc = x - mean
    return Moments(n, mean, xc.T @ xc)


def merge_moments(a: Moments, b: Moments) -> Moments:
    """Chan/Golub/LeVeque pairwise merge — associative, numerically stable."""
    if a.n == 0:
        return b
    if b.n == 0:
        return a
    if a.mean.shape != b.mean.shape:
        # NumPy would broadcast a 1-vector against a p-vector silently
        raise ValueError(
            f"ragged vectors: cannot merge moments of dimension "
            f"{a.mean.shape[0]} and {b.mean.shape[0]} — moments require "
            "fixed-dimension vectors (filter or pad upstream)")
    n = a.n + b.n
    delta = b.mean - a.mean
    mean = a.mean + delta * (b.n / n)
    m2 = a.m2 + b.m2 + np.outer(delta, delta) * (a.n * b.n / n)
    return Moments(n, mean, m2)


# ---------------------------------------------------------------------------
# The moments core: partial worker + re-merge worker
# ---------------------------------------------------------------------------

_MOMENT_FIELDS = [StructField("n", LongType()),
                  StructField("mean", ArrayType(DoubleType())),
                  StructField("m2", ArrayType(DoubleType()))]


def decode_vectors(col) -> "tuple[np.ndarray | None, np.ndarray | None]":
    """Arrow list column -> ((n, p) float64 matrix, kept row positions).

    The decoder half of the one vector codec: every Python path that reads
    an array<double> column (the moments workers, the serving UDFs, the
    ANN and LSH hashes, the streaming state) decodes through it.  The
    matrix comes from the flat values buffer (~5x faster than np.stack
    over per-row object arrays, measured in-sandbox) and is None when no
    valid row remains.  The positions index the rows of ``col`` that made
    it into the matrix, in order, so key columns stay aligned; they are
    None when every row was kept.

    THE drop rule of the package: a row that is NULL or contains a null OR
    NaN element never contributes (moments) and serves as NULL
    (:func:`encode_vectors`).  Element nulls are invisible to the
    list-level ``null_count`` and np.asarray would render them as NaN —
    they are masked via the child validity.  Ragged batches raise: the old
    ``flat.size % n == 0`` heuristic silently mis-reshaped any ragged
    batch whose total element count happened to divide the row count,
    mixing values across rows.
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    kept = None

    def keep(mask):
        nonlocal col, kept
        col = col.filter(pa.array(mask))
        kept = np.flatnonzero(mask) if kept is None else kept[mask]

    if col.null_count:
        keep(np.asarray(col.is_valid()))
    flat = pc.list_flatten(col)
    if flat.null_count:
        mask = np.ones(len(col), dtype=bool)
        mask[np.asarray(pc.list_parent_indices(col))[
            np.asarray(pc.is_null(flat))]] = False
        keep(mask)
        flat = pc.list_flatten(col)
    if len(col) == 0:
        return None, kept
    lens = np.asarray(pc.list_value_length(col))
    if not (lens == lens[0]).all():
        raise ValueError(
            f"ragged vector batch: lengths {sorted(set(lens.tolist()))[:5]} "
            "— moments require fixed-dimension vectors (filter or pad "
            "upstream)")
    m = np.asarray(flat, dtype=np.float64).reshape(len(col), int(lens[0]))
    # genuine NaN VALUES are Arrow-valid (not null) but poison moments
    # exactly like masked nulls would
    nan = np.isnan(m).any(axis=1)
    if nan.any():
        keep(~nan)
        m = m[~nan]
    return (m if len(m) else None), kept


def encode_vectors(y: "np.ndarray | None", kept: "np.ndarray | None",
                   n: int) -> pa.Array:
    """(rows, k) matrix of the kept rows -> Arrow list column of ``n`` rows.

    The encoder half of the codec: row ``kept[i]`` gets ``y[i]``, every
    other row is NULL (``kept`` None: the rows of ``y`` are all ``n``;
    ``y`` None: every row is NULL).  The element type is ``y``'s dtype."""
    if y is None:
        return pa.nulls(n, pa.list_(pa.float64()))
    lens = np.full(n, y.shape[1], dtype=np.int32)
    mask = None
    if kept is not None:
        mask = np.ones(n, dtype=bool)
        mask[kept] = False
        lens[mask] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(y.ravel()),
        mask=None if mask is None else pa.array(mask))


def vector_udf(fn):
    """``fn`` (matrix of the kept rows -> matrix) as a scalar Arrow UDF over
    an array<double> column: decode, one call, encode, so the rows the
    codec drops come out NULL.  ``fn``'s model rides the closure."""

    @F.arrow_udf(ArrayType(DoubleType()))
    def _apply(col: pa.Array) -> pa.Array:
        x, kept = decode_vectors(col)
        return encode_vectors(None if x is None else fn(x), kept, len(col))

    return _apply


def _canonical(col: pa.Array) -> pa.Array:
    """Float keys as Spark's groupBy sees them: -0.0 is 0.0 and every NaN is
    one NaN (Arrow hashes both bitwise).  Other types pass through."""
    if not pa.types.is_floating(col.type):
        return col
    return pc.if_else(pc.is_nan(col), pa.scalar(float("nan"), col.type),
                      pc.add(col, pa.scalar(0.0, col.type)))


def _group_index(keys: list) -> "tuple[np.ndarray, np.ndarray]":
    """(group code of every row, first row of every group) over the key
    arrays.  NULL is a key value of its own, distinct from NaN — as in
    Spark's groupBy."""
    codes = None
    for col in keys:
        enc = pc.dictionary_encode(col, null_encoding="encode")
        idx = np.asarray(enc.indices, dtype=np.int64)
        # mixed radix, re-densified per column so it cannot overflow
        codes = idx if codes is None else np.unique(
            codes * len(enc.dictionary) + idx, return_inverse=True)[1]
    _, first, codes = np.unique(codes, return_index=True, return_inverse=True)
    return codes, first


def _split_by_code(codes: np.ndarray, n_groups: int) -> list:
    """Row positions of each group, in group-code order."""
    order = np.argsort(codes, kind="stable")
    return np.split(order, np.searchsorted(codes[order],
                                           np.arange(1, n_groups)))


def _fold(keys: "list | None", moms: list) -> "tuple[list | None, list]":
    """Chan-merge the moments that share a key: (key arrays of the groups,
    one Moments per group).  ``keys`` None is the keyless fold."""
    if keys is None:
        return None, [reduce(merge_moments, moms)]
    codes, first = _group_index(keys)
    return ([k.take(first) for k in keys],
            [reduce(merge_moments, [moms[i] for i in ix])
             for ix in _split_by_code(codes, len(first))])


def _list_array(vecs: list) -> pa.Array:
    offsets = np.zeros(len(vecs) + 1, dtype=np.int32)
    np.cumsum([len(v) for v in vecs], out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets),
                                    pa.array(np.concatenate(vecs)))


def _emit(names: list, keys: "list | None", moms: list) -> pa.RecordBatch:
    """One (keys..., n, mean, flattened m2) row per group."""
    return pa.RecordBatch.from_arrays(
        [*(keys or []),
         pa.array([m.n for m in moms], pa.int64()),
         _list_array([m.mean for m in moms]),
         _list_array([m.m2.ravel() for m in moms])],
        names=[*names, "n", "mean", "m2"])


def _arrow_partials(batches, n_keys: int):
    """mapInArrow PARTIAL worker over (keys..., vec): Chan-merge every Arrow
    batch of this partition per group key, emit ONE (keys..., n, mean,
    flattened m2) row per (partition, group).

    Worker state is O(groups * p^2) whatever the partition size.  With no
    key columns this is one row per partition and no per-row work beyond
    ``decode_vectors``: the first level of the two-level reduction that
    keeps the flagship's moment pass off the driver at design scale.  Float
    NaN keys stay distinct from NULL here; the re-merge renders them."""
    names, keys, moms = [], [], []
    for b in batches:
        if b.num_rows == 0:
            continue
        x, kept = decode_vectors(b.column(n_keys))
        if x is None:          # batch had no valid vectors
            continue
        if not n_keys:
            moms.append(batch_moments(x))
            continue
        names = b.schema.names[:n_keys]
        k = [_canonical(b.column(i)) for i in range(n_keys)]
        if kept is not None:
            k = [c.take(kept) for c in k]
        codes, first = _group_index(k)
        keys.append([c.take(first) for c in k])
        moms += [batch_moments(x[ix])
                 for ix in _split_by_code(codes, len(first))]
    # a partition without a valid row emits nothing: the reduce side treats
    # absence as the zero moment
    if moms:
        cols = ([pa.concat_arrays(c) for c in zip(*keys)] if n_keys
                else None)
        yield _emit(names, *_fold(cols, moms))


def _arrow_remerge(batches, n_keys: int):
    """mapInArrow RE-MERGE worker behind ``repartition(*keys)``: fold every
    partial row of a key into one.  A float NaN key stays a group of its
    own and is emitted as NULL, so a NULL and a NaN group both come out
    with a NULL key (``fit_windowed_pca`` raises on that collision)."""
    parts = [b for b in batches if b.num_rows]
    if not parts:
        return
    t = pa.Table.from_batches(parts).combine_chunks()
    keys = [c.chunk(0) for c in t.columns[:n_keys]]
    keys, moms = _fold(keys, _decode(t))
    keys = [pc.if_else(pc.is_nan(k), pa.scalar(None, k.type), k)
            if pa.types.is_floating(k.type) else k for k in keys]
    yield _emit(t.schema.names[:n_keys], keys, moms)


def _decode(t: pa.Table) -> list:
    """The (n, mean, m2) columns of a partial table -> one Moments per row."""
    def rows(c):
        flat = pc.list_flatten(t.column(c)).to_numpy()
        return np.split(flat, np.cumsum(
            pc.list_value_length(t.column(c)).to_numpy())[:-1])

    return [Moments(int(n), mean, m2.reshape(len(mean), len(mean)))
            for n, mean, m2 in zip(t.column("n").to_numpy(), rows("mean"),
                                   rows("m2"))]


def _partial_schema(df: DataFrame, keys) -> StructType:
    # nullable keys: the re-merge emits a float NaN key as NULL
    return StructType([StructField(c, df.schema[c].dataType, True)
                       for c in keys] + _MOMENT_FIELDS)


def _partials_df(df: DataFrame, vec_col: str, keys=()) -> DataFrame:
    # Select-before-map: column pruning can't see inside the UDF, so prune
    # explicitly (SURVEY.md §4 column-pruning caveat).
    return df.select(*keys, vec_col).mapInArrow(
        partial(_arrow_partials, n_keys=len(keys)),
        schema=_partial_schema(df, keys))


def _remerge(partials: DataFrame, keys) -> DataFrame:
    """The one shuffle of the core: partial rows only, hashed by key."""
    return partials.repartition(*keys).mapInArrow(
        partial(_arrow_remerge, n_keys=len(keys)), schema=partials.schema)


def _row_to_moments(row) -> Moments:
    mean = np.asarray(row["mean"], dtype=np.float64)
    p = mean.shape[0]
    return Moments(int(row["n"]), mean, np.asarray(row["m2"], dtype=np.float64).reshape(p, p))


def merge_moment_rows(rows) -> Moments:
    """Chan-fold (n, mean, m2) partial rows into one Moments on the driver.

    Accepts a (small) DataFrame of partial rows — collected here — or any
    iterable of rows that index by field name (Spark Rows, pandas rows).
    Exact under any grouping because the Chan merge is
    associative/commutative."""
    if isinstance(rows, DataFrame):
        rows = rows.select("n", "mean", "m2").collect()
    acc = Moments(0, np.zeros(0), np.zeros((0, 0)))
    for row in rows:
        acc = merge_moments(acc, _row_to_moments(row))
    return acc


#: partition count above which compute_moments re-merges the partials on
#: executors before collecting them.  Below it the collect is < ~2048 * 5 KB
#: ≈ 10 MB (p=25) and the extra shuffle stage would only add latency; above
#: it the re-merge keeps driver traffic at O(_BUCKETS * p^2) no matter how
#: many partitions the 10^12-turn scan has.
_BUCKETED_THRESHOLD = 2048
_BUCKETS = 64


def compute_moments(df: DataFrame, vec_col: str) -> Moments:
    """Global moments of an array<double> column: keyless partials -> driver
    Chan-merge.

    The partial worker merges its partition's batches in-worker, so the
    partial frame has ONE row per partition.  With at most
    ``_BUCKETED_THRESHOLD`` source partitions those rows are collected and
    merged on the driver (O(partitions * p^2) driver bytes, no extra
    stage); above it they first go through the re-merge worker keyed on
    ``spark_partition_id() % 64`` (one tiny shuffle of partials, never row
    data), so the driver folds at most 64 rows.  The probe is
    ``partials.rdd.getNumPartitions()``: mapInArrow keeps ``df``'s
    partitioning, so the count is ``df``'s.  When ``df`` ends in a shuffle,
    building the RDD under AQE runs the map stages below the last exchange
    as a Spark job (on ``feature_job``'s chain, the as-of exchange).  The
    probe and the collect share the partial frame's query execution, so
    the collect reuses that materialized stage instead of running it again.
    """
    partials = _partials_df(df, vec_col)
    if partials.rdd.getNumPartitions() > _BUCKETED_THRESHOLD:
        partials = _remerge(partials.select(
            (F.spark_partition_id() % F.lit(_BUCKETS)).alias("_b"),
            "n", "mean", "m2"), ["_b"])
    return merge_moment_rows(partials.collect())


def compute_grouped_moments(df: DataFrame, group_cols: list[str],
                            vec_col: str) -> DataFrame:
    """Per-group moments: one (group cols..., n, mean, m2) row per key.

    Partial worker, then the re-merge behind ``repartition(*group_cols)``:
    the only exchange moves O(partitions * groups * p^2) bytes of partials,
    never row data, and no group is held in one frame, so mega-groups need
    no salting.  NULL keys are real groups; a float NaN key is a group of
    its own, emitted as NULL.  Feeds windowed PCA/whitening (group =
    (conv_id, window) or a time bucket).
    """
    return _remerge(_partials_df(df, vec_col, group_cols), group_cols)
