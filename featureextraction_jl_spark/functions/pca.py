"""PCA / whitening fit + projection (SURVEY.md §2 ops A5–A8).

Fit is driver-side ``numpy.linalg.eigh`` on the tiny p x p covariance — only
*moments* are ever distributed (SURVEY.md §3.2 step 6).  Projection is a
scalar Arrow UDF over an ``array<double>`` column (``vector_udf``): the
batch's list buffer decodes to one matrix and one ``(X - mu) @ W`` BLAS
call runs per Arrow batch, never a per-row loop (BASELINE.json:6).  Rows
the codec drops (NULL, null or NaN element) project to NULL.

Conventions (SURVEY.md §1.4.5–1.4.7, matching Julia LinearAlgebra.eigen +
the reference's transform structs):

* components sorted DESCENDING by eigenvalue;
* sign fix: each component flipped so its largest-|.| loading is positive
  (eigenvectors are sign-ambiguous across BLAS builds);
* PCA projection       Y = (X - mu) V_k
* PCA-whitening        Y = (X - mu) V_k diag(lam_k + eps)^{-1/2}  -> cov(Y)=I
* ZCA-whitening        Y = (X - mu) V diag(lam + eps)^{-1/2} V^T
* eps = 1e-12 regularizer, test-pinned.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import Column

from featureextraction_jl_spark.functions.moments import Moments, vector_udf

EPS = 1e-12


@dataclass
class PCAModel:
    """Fitted transform: mu (p,), components V (p,k), eigenvalues lam (k,).

    Mirrors the reference's fitted-transform struct (SURVEY.md §1.1 row 2):
    a small object broadcast to executors, persistable as .npz.
    """

    mu: np.ndarray
    components: np.ndarray       # (p, k) columns = eigenvectors, desc by lam
    eigenvalues: np.ndarray      # (k,) descending
    total_variance: float        # trace of full covariance
    mode: str = "pca"            # pca | pca_whiten | zca

    @property
    def explained_variance_ratio(self) -> np.ndarray:
        return self.eigenvalues / self.total_variance

    @property
    def projection(self) -> np.ndarray:
        """The (p, k) matrix W such that Y = (X - mu) @ W."""
        if self.mode == "pca":
            return self.components
        scale = 1.0 / np.sqrt(self.eigenvalues + EPS)
        if self.mode == "pca_whiten":
            return self.components * scale
        if self.mode == "zca":
            # ZCA requires the full basis (k == p).
            return (self.components * scale) @ self.components.T
        raise ValueError(f"unknown mode {self.mode!r}")

    def save(self, path: str) -> None:
        np.savez(path, mu=self.mu, components=self.components,
                 eigenvalues=self.eigenvalues,
                 total_variance=np.asarray(self.total_variance),
                 mode=np.asarray(self.mode))

    @staticmethod
    def load(path: str) -> "PCAModel":
        z = np.load(path, allow_pickle=False)
        return PCAModel(z["mu"], z["components"], z["eigenvalues"],
                        float(z["total_variance"]), str(z["mode"]))


def _sign_fix(v: np.ndarray) -> np.ndarray:
    """Flip each column so its largest-|.| loading is positive (§1.4.6)."""
    idx = np.argmax(np.abs(v), axis=0)
    signs = np.sign(v[idx, np.arange(v.shape[1])])
    signs[signs == 0] = 1.0
    return v * signs


def fit_pca(moments: Moments, k: int | None = None,
            var_threshold: float | None = None, mode: str = "pca") -> PCAModel:
    """Eigendecompose the covariance from accumulated moments.

    ``k`` keeps the top-k components; ``var_threshold`` instead keeps the
    smallest k whose cumulative explained-variance ratio reaches it.  ZCA
    always keeps the full basis.
    """
    if moments.n < 2:
        # cov of n<2 is all-NaN; eigh would then die with an obscure
        # 'Eigenvalues did not converge' LinAlgError pointing at LAPACK
        # instead of at the empty/one-row input (e.g. an empty partition
        # on a fresh day reaching the resumable fit stage).
        raise ValueError(
            f"fit_pca requires n >= 2 accumulated rows, got n={moments.n} "
            "(empty or single-row input has no covariance)")
    cov = moments.cov
    lam, vec = np.linalg.eigh(cov)           # ascending
    order = np.argsort(lam)[::-1]            # descending (§1.4.5)
    lam, vec = np.clip(lam[order], 0.0, None), _sign_fix(vec[:, order])
    total = float(np.trace(cov))
    if mode == "zca":
        k = cov.shape[0]
    elif var_threshold is not None:
        ratio = np.cumsum(lam) / total
        k = int(np.searchsorted(ratio, var_threshold) + 1)
    elif k is None:
        k = cov.shape[0]
    return PCAModel(moments.mean.copy(), vec[:, :k], lam[:k], total, mode)


# ---------------------------------------------------------------------------
# Vectorized projection / reconstruction UDFs
# ---------------------------------------------------------------------------

def project_udf(model: PCAModel, col: str | Column) -> Column:
    """Column expression projecting an array<double> column through the model.

    Arrow-batched: each batch decodes to one (batch, p) matrix and one
    GEMM.  The model rides the closure (broadcast by Spark with the task).
    NULL vectors and vectors with a null/NaN element project to NULL: the
    fit dropped them from the moments.
    """
    mu, w = model.mu, model.projection
    return vector_udf(lambda x: (x - mu) @ w)(col)


def inverse_udf(model: PCAModel, col: str | Column) -> Column:
    """Reconstruction X_hat = Y W^T + mu (op A8; exact when k == p, mode=pca)."""
    mu, w = model.mu, model.projection
    if model.mode != "pca":
        # Whitened: invert the scaling too. projection = V S (or V S V^T);
        # pseudo-inverse reconstructs through the same basis.
        w_inv = np.linalg.pinv(w)
    else:
        w_inv = w.T
    # NULL / null-element in -> NULL out, like project_udf
    return vector_udf(lambda y: y @ w_inv + mu)(col)
