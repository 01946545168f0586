"""Distributed PCA / whitening over an embedding column — the standard
pre-conditioning step before cosine dedup and ANN at corpus scale
(whitened embeddings make cosine thresholds comparable across domains,
and a d -> k projection shrinks every downstream index by d/k).

Shape: the training statistic is ONE Arrow moments scan — per-batch
centered mean + scatter, Chan/Golub/LeVeque-merged across batches and
partitions in sorted source-pid order (the same `_merge_collect`
machinery as every selection kernel: no raw-sum cancellation,
bit-identical past 64 partitions, driver collect O(d^2) regardless of
corpus size). The eigendecomposition runs on the driver over the d x d
scatter (d is the embedding width — 64..4096 in practice — never the
corpus). Projection is one zero-shuffle Arrow GEMM pass per batch with
the model broadcast in the closure; it has no state, so it also runs on
streaming frames. The gate oracles the covariance statistic AND a
fixed-matrix projection against DuckDB re-derivations.

No reference counterpart (kmedved/mrmr has no embedding layer); this is
part of the LLM-training-data extension family alongside
``similarity.semdedup`` / ``pq_train``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from mrmr_spark.select.kernels import _acc_batch, _ACC_SCHEMA, _chan_merge, _merge_collect
from mrmr_spark.operators.similarity import _as_double


def _moments_scan(df: DataFrame, dim: int, emb_col: str) -> tuple[float, np.ndarray, np.ndarray]:
    """(n, mean, centered scatter C = sum (x-mu)(x-mu)^T) over the corpus
    in ONE pass. Per-batch centered + Chan merges end to end; merge order
    is the sorted-pid tree, so the result is a fixed function of the data.
    """
    proj = _as_double(df, emb_col, "_e").select("_e")

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sw, mu, C = 0.0, np.zeros(dim), np.zeros((dim, dim))
        for b in batches:
            if not b.num_rows:
                continue
            X = (
                b.column(0)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(b.num_rows, dim)
                .astype(np.float64)
            )
            m = X.mean(axis=0)
            Xc = X - m
            sw, mu, C = _chan_merge(sw, mu, C, float(len(X)), m, Xc.T @ Xc)
        if sw > 0.0:
            yield _acc_batch(np.concatenate([[sw], mu, C.ravel()]))

    def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        sw, mu, C = _chan_merge(
            a[0], a[1 : 1 + dim], a[1 + dim :].reshape(dim, dim),
            b[0], b[1 : 1 + dim], b[1 + dim :].reshape(dim, dim),
        )
        return np.concatenate([[sw], mu, C.ravel()])

    acc = _merge_collect(proj.mapInArrow(mapper, _ACC_SCHEMA), merge)
    if acc is None:
        raise ValueError("pca: corpus has no rows — cannot fit moments")
    return float(acc[0]), acc[1 : 1 + dim], acc[1 + dim :].reshape(dim, dim)


def covariance_matrix(df: DataFrame, dim: int, emb_col: str = "embedding") -> np.ndarray:
    """Sample covariance (ddof=1) of the embedding column, one Arrow scan."""
    n, _, C = _moments_scan(df, dim, emb_col)
    if n < 2:
        raise ValueError(f"pca: need >= 2 rows for a sample covariance, got {int(n)}")
    return C / (n - 1.0)


def pca_train(
    df: DataFrame,
    dim: int,
    k: int | None = None,
    emb_col: str = "embedding",
) -> dict:
    """Fit PCA on the embedding column: one Arrow moments scan (above) +
    a driver-side symmetric eigendecomposition of the d x d covariance.

    Returns ``{"mean": (d,), "components": (k, d), "eigvals": (k,),
    "explained_variance_ratio": (k,), "n": int, "dim": d}`` with
    components ordered by descending eigenvalue. Sign convention: each
    component's largest-|coordinate| entry is non-negative (ties toward
    the lowest index via np.argmax), so the model is deterministic — eig
    solvers are free to flip signs otherwise.
    """
    k = dim if k is None else int(k)
    if not (1 <= k <= dim):
        raise ValueError(f"pca_train: k={k} must be in [1, {dim}]")
    n, mu, C = _moments_scan(df, dim, emb_col)
    if n < 2:
        raise ValueError(f"pca_train: need >= 2 rows, got {int(n)}")
    cov = C / (n - 1.0)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    vals = np.maximum(vals[order], 0.0)  # clip eigh's tiny negative noise
    W = vecs[:, order].T.copy()  # (k, d)
    for j in range(k):
        if W[j, np.argmax(np.abs(W[j]))] < 0:
            W[j] = -W[j]
    total = max(float(np.trace(cov)), np.finfo(np.float64).tiny)
    return {
        "mean": mu,
        "components": W,
        "eigvals": vals,
        "explained_variance_ratio": vals / total,
        "n": int(n),
        "dim": dim,
    }


def _check_model(mean, components) -> tuple[np.ndarray, np.ndarray]:
    mu = np.asarray(mean, dtype=np.float64)
    W = np.asarray(components, dtype=np.float64)
    if W.ndim != 2 or mu.ndim != 1 or W.shape[1] != mu.shape[0]:
        raise ValueError(
            f"pca_project: components {W.shape} / mean {mu.shape} mismatch "
            "(want (k, d) against (d,))"
        )
    return mu, W


def pca_project(
    df: DataFrame,
    model: dict | None = None,
    mean=None,
    components=None,
    eigvals=None,
    whiten: bool = False,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto the components: y = W (x - mean), optionally
    whitened (divided by sqrt(eigval); zero-variance components emit 0.0
    rather than inf — the guard is explicit).

    One zero-shuffle GEMM pass over each Arrow batch (BLAS does the
    k x d work per batch). A NULL embedding projects to NULL; an
    embedding whose length is not the model's d raises a ``ValueError``
    naming both lengths.

    Output: ``(id_col, out_col array<double>)``; the id keeps its type.
    """
    if model is not None:
        mean = model["mean"] if mean is None else mean
        components = model["components"] if components is None else components
        eigvals = model.get("eigvals") if eigvals is None else eigvals
    mu, W = _check_model(mean, components)
    kk, d = W.shape
    if whiten:
        if eigvals is None:
            raise ValueError("pca_project: whiten=True needs eigvals")
        lam = np.asarray(eigvals, dtype=np.float64)
        if lam.shape != (kk,):
            raise ValueError(f"pca_project: eigvals shape {lam.shape} != ({kk},)")
        inv = np.where(lam > 0, 1.0 / np.sqrt(np.maximum(lam, 1e-300)), 0.0)
    else:
        inv = np.ones(kk)

    Wt = (W * inv[:, None]).T.copy()  # (d, k), whitening folded in
    off = mu @ Wt  # (k,)
    proj = _as_double(df, emb_col, "_e").select(id_col, "_e")
    schema = StructType(
        [proj.schema[id_col], StructField(out_col, ArrayType(DoubleType()))]
    )

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            emb = b.column(1)
            lens = pc.list_value_length(emb)  # NULL for a NULL embedding
            bad = pc.not_equal(lens, d)
            if pc.any(bad).as_py():
                found = pc.filter(lens, bad)[0].as_py()
                raise ValueError(
                    f"pca_project: embedding length {found} != model d={d}"
                )
            valid = emb.is_valid().to_numpy(zero_copy_only=False)
            X = (
                emb.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(int(valid.sum()), d)
                .astype(np.float64)
            )
            Y = X @ Wt - off
            offsets = np.zeros(b.num_rows + 1, dtype=np.int32)
            np.cumsum(valid * kk, out=offsets[1:])
            out = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(Y.ravel()), mask=pa.array(~valid)
            )
            yield pa.RecordBatch.from_arrays([b.column(0), out], [id_col, out_col])

    return proj.mapInArrow(mapper, schema)
