"""Independent checks of the engine's outputs, run outside timing.

* classic mRMR and CEFS+ against the reference re-derivation in
  ``tests/oracle_sift.py``;
* auto-k group-CV against the NumPy ridge below;
* curation queries against their DuckDB ``ORACLE_SQL`` on the same files,
  compared by row count and an order-insensitive hash of the values after
  ``tools/check_exact.py``'s normalization.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

#: the engine's ridge alpha grid (select/autok.py), which the scores depend on
RIDGE_ALPHAS = np.logspace(-3, 3, 10)


def k_grid(min_k: int, max_k: int) -> list[int]:
    """The reference auto-k grid for max_k <= 30: every second k, plus max_k."""
    grid = list(range(min_k, max_k + 1, 2))
    if grid[-1] != max_k:
        grid.append(max_k)
    return grid


def ridge_group_cv(X: np.ndarray, y: np.ndarray, fold: np.ndarray,
                   min_k: int, max_k: int) -> tuple[int, dict[int, float]]:
    """Group-K-fold ridge over the feature-path prefixes, unweighted.

    For each held-out fold: impute non-finite values with the training
    split's mean of finite values, standardize with the training mean and
    population std, center y on its training mean, fit closed-form ridge on
    every (k-prefix, alpha) and score held-out RMSE. A k scores the best
    alpha's RMSE, averaged over the folds; the best k has the lowest score
    (ties to the smaller k).
    """
    X = np.asarray(X, dtype=np.float64)[:, :max_k]
    y = np.asarray(y, dtype=np.float64)
    grid = k_grid(min_k, max_k)
    per_fold = []
    for v in np.unique(fold):
        tr, va = fold != v, fold == v
        fin = np.isfinite(X)
        cnt = fin[tr].sum(axis=0)
        imp = np.where(cnt > 0, np.where(fin, X, 0.0)[tr].sum(axis=0) / np.maximum(cnt, 1), 0.0)
        Xi = np.where(fin, X, imp)
        mu = Xi[tr].mean(axis=0)
        var = Xi[tr].var(axis=0)
        sd = np.where(var > 1e-12, np.sqrt(var), 1.0)
        Z = (Xi - mu) / sd
        ym = y[tr].mean()
        G = Z[tr].T @ Z[tr]
        g = Z[tr].T @ (y[tr] - ym)
        scores = {}
        for k in grid:
            best = np.inf
            for a in RIDGE_ALPHAS:
                beta = np.linalg.solve(G[:k, :k] + a * np.eye(k), g[:k])
                resid = y[va] - (ym + Z[va, :k] @ beta)
                best = min(best, float(np.sqrt(np.mean(resid * resid))))
            scores[k] = best
        per_fold.append(scores)
    mean = {k: float(np.mean([s[k] for s in per_fold])) for k in grid}
    best_k = min(mean.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return best_k, mean


def value_hash(pdf: pd.DataFrame, normalize) -> tuple[int, str]:
    """(rows, sha256) of a result after ``normalize`` (sorted columns,
    floats rounded to 9 places, rows sorted). Numbers are hashed as float64,
    so a count that one side types as an integer and the other as a double
    (DuckDB's HUGEINT sums) hashes alike, as ``==`` in ``check_exact`` treats
    it; ``+ 0.0`` folds -0.0 into 0.0 for the same reason."""
    norm = normalize(pdf)
    for c in norm.columns:
        if norm[c].dtype.kind in "iuf":
            norm[c] = norm[c].astype(np.float64) + 0.0
    h = hashlib.sha256(",".join(norm.columns).encode())
    h.update(pd.util.hash_pandas_object(norm, index=False).to_numpy().tobytes())
    return len(norm), h.hexdigest()
