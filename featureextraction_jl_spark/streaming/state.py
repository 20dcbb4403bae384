"""Stateful streaming moment accumulation (E6).

Per-key incremental mean/covariance: the state carried across micro-batches
is exactly the mergeable (n, mean, M2) triple from functions/moments.py, and
each micro-batch is folded in with the same Chan/Golub/LeVeque merge the
batch path uses — so the streamed result equals the batch result on the same
rows (merge-invariance, tested), and both equal the reference's
``Statistics.mean/cov`` semantics.

Vectorized throughout: each micro-batch group arrives as pandas frames; its
vector column goes back into one Arrow list array and through the vector
codec (``decode_vectors``, the same drop rule as every batch path), then one
BLAS GEMM (``batch_moments``) — never a per-row Python loop.

The one stateful form is ``applyInPandasWithState`` (Spark 3.4+), which
also carries the ``state_ttl_ms`` eviction option.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from featureextraction_jl_spark.functions.moments import (
    Moments,
    batch_moments,
    decode_vectors,
    merge_moments,
)

_STATE_SCHEMA = "n long, mean array<double>, m2 array<double>"


def streaming_moments(stream: DataFrame, key_col: str, vec_col: str,
                      state_ttl_ms: int | None = None) -> DataFrame:
    """Per-key running moments over a stream of array<double> vectors.

    Emits one (key, n, mean, m2) row per key per micro-batch that touched it
    (update semantics); ``n`` is cumulative since stream start.  Downstream,
    ``fit_pca`` can be applied to any emission — giving continuously
    refreshed whitening models at 10^12-turn scale without re-scanning
    history.

    ``state_ttl_ms``: evict a key's state after this much processing time
    without new data.  At the design scale the key space (conv_id) grows
    without bound — ~5 KB of (n, mean, m2) state per key ever seen (p=25)
    is tens of TB of never-purged state store after enough months; keys
    that finished streaming long ago should not occupy it.  Default None
    keeps the exact-cumulative semantics (no eviction) for bounded key
    spaces.
    """
    # Output key field keeps the incoming key column's type (a hardcoded
    # "key string" would schema-mismatch at runtime for non-string keys).
    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = f"key {key_type}, n long, mean array<double>, m2 array<double>"

    def update(key: Tuple[Any, ...],
               pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            n0, mean0, m20 = state.get
            mean0 = np.asarray(mean0, dtype=np.float64)
            p = mean0.shape[0]
            acc = Moments(int(n0), mean0,
                          np.asarray(m20, dtype=np.float64).reshape(p, p))
        else:
            acc = Moments(0, np.zeros(0), np.zeros((0, 0)))
        for pdf in pdfs:
            # the codec: NULL vectors AND null/NaN-element vectors are
            # dropped, ragged raises — the batch paths' semantics, and the
            # poison-pill guard: an unmasked null element folds NaN into the
            # CUMULATIVE state (every later emission NaN forever).
            # from_pandas=True turns NaN elements into nulls.
            x, _ = decode_vectors(pa.array(
                pdf[vec_col], type=pa.list_(pa.float64()), from_pandas=True))
            if x is None:
                continue
            acc = merge_moments(acc, batch_moments(x))
        if acc.n == 0:
            # A key whose rows were ALL invalid contributed nothing — the
            # batch paths (compute_grouped_moments) emit no group row for
            # it, so neither state (an otherwise-immortal 0-row entry
            # without TTL) nor an (n=0, mean=[], m2=[]) emission that
            # fit_pca downstream cannot consume is created (round-5
            # review).
            return
        state.update((acc.n, acc.mean.tolist(), acc.m2.ravel().tolist()))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({"key": [key[0]], "n": [acc.n],
                            "mean": [acc.mean.tolist()],
                            "m2": [acc.m2.ravel().tolist()]})

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (
        stream.select(key_col, vec_col)
        .groupBy(key_col)
        .applyInPandasWithState(update, out_schema, _STATE_SCHEMA,
                                "update", timeout)
    )

