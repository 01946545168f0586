"""Automatic k selection (SURVEY.md F7/auto-k; reference:
/root/reference/sift/selection/auto_k.py).

Two modes, as in the reference:

- **elbow**: on the CEFS+ objective path (2·I(y;S)) — driver-side rule in
  ``loops.select_k_elbow``.
- **evaluate**: score each k-prefix of the selection path on held-out data
  (time holdout = train on past / validate on future; group CV = leave
  whole groups out). The reference fits sklearn Ridge per (split, k) in one
  loop over (train, val) splits; here both strategies are that loop over
  a fold-tagged frame, run by one evaluator per task
  (``_ridge_group_cv_scores``, ``_logistic_group_cv_scores``) that scores
  a given list of val folds, each against the union of the other folds.
  Group CV tags rows by group hash and scores every fold; time holdout
  tags train/val as folds 0/1 and scores fold 1 only. The evaluator runs
  ONE fold-keyed fused stats scan (an indicator-augmented Gram
  accumulator per fold — any train split's exact imputed moments AND
  Gram follow by driver-side Chan merges of the other folds' slots,
  ``kernels.fused_foldwise_stats``/``finish_loo_stats``, and its
  standardization is the same ``relevance._standardized_corr`` tail the
  relevance paths use). Every
  (alpha, k)-prefix solve is a driver-side ``np.linalg.solve`` on the
  leading submatrix — closed-form ridge, no sklearn, no per-split scans,
  no persisted split frames (SURVEY.md §7 Phase 3). Squared-error
  losses follow from the same fold accumulators, so rmse costs 1 scan
  for either strategy; mae adds one fold-grouped loss scan over the
  scored folds' rows (2 scans).

Classification (metric 'logloss'/'error', auto_k.py:142-161): the
reference fits sklearn LogisticRegression(C=1.0, lbfgs) per k-prefix on
the standardized train split. Logistic has no closed form, so here the
fit runs on the driver over a deterministic bounded subsample of train
(numpy accelerated-gradient softmax, L2 as in C=1.0) while
standardization stats AND the validation metric stay distributed. All
scored splits share ONE bounded collect drawn from the folds that train
some scored split — fold 0 alone for time holdout, every fold for group
CV (per-split budget ~(S−1)/S of ``fit_subsample``; identical to
per-split draws when n ≤ fit_subsample — see
``_logistic_group_cv_scores``).

**Documented deviation from the reference** (auto_k.py:142-161): when a
``weight_col`` is given, both the softmax fit and the distributed
logloss/error aggregates are sample-weighted; the reference fits
LogisticRegression and computes log_loss *unweighted* even when sample
weights exist. Weighted scoring is the consistent choice with the rest
of this engine (the ridge path and every relevance kernel honor
weights); pass ``weight_col=None`` for reference-exact behavior.

Validation scoring plan (both tasks): ALL (k-prefix × hyperparameter)
models are scored in ONE ``mapInArrow`` scan of the scored folds' rows
(``_grouped_loss_pass``; the task supplies only the per-row loss —
``_ridge_row_loss`` for mae, ``_softmax_row_loss`` for logloss/error)
— the per-row predictions for every model are a single (n×p)·(p×M) GEMM
on the standardized Arrow batch, reduced to an (S·(M+1))-float64
accumulator per partition (squared error skips this scan). This
replaces the round-2 design (|k_grid|×|alphas| aggregate expressions of
up to max_k terms each in one select), which hit Spark's codegen width
cliff at the default ``max_k=100`` — the same planning/codegen-width
cost class that makes every moment and Gram scan in ``kernels.py`` an
Arrow reduction. Expression width is now O(p) regardless of the k grid.

The k grid replicates ``_build_k_grid`` exactly (auto_k.py:35-48);
metric resolution replicates ``_resolve_metric`` (auto_k.py:52-60).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrmr_spark.select import binning, kernels
from mrmr_spark.select.api import _check_option
from mrmr_spark.select.relevance import (
    _require_finite_y,
    _standardized_corr,
    _weighted_stds,
)


@dataclass
class AutoKConfig:
    k_method: str = "evaluate"          # 'evaluate' | 'elbow'
    strategy: str = "time_holdout"      # 'time_holdout' | 'group_cv'
    metric: str = "auto"                # 'rmse' | 'mae' | 'logloss' | 'error'
    max_k: int = 100
    min_k: int = 5
    val_frac: float = 0.2
    n_splits: int = 5
    elbow_min_rel_gain: float = 0.02
    elbow_patience: int = 3
    #: driver-side train budget for the logistic fits (classification only;
    #: the ridge path needs no row collection at all)
    fit_subsample: int = 50_000
    seed: int = 42


_METRICS = {"regression": ("rmse", "mae"), "classification": ("logloss", "error")}


def resolve_metric(metric: str, task: str) -> str:
    """Replicates reference _resolve_metric (auto_k.py:52-60), and rejects
    an unknown name (it would otherwise score as some other metric)."""
    if metric == "auto":
        return _METRICS[task][0]
    _check_option("metric", metric, ("auto",) + sum(_METRICS.values(), ()))
    if metric not in _METRICS[task]:
        raise ValueError(f"metric='{metric}' is invalid for task='{task}'")
    return metric


def check_config(
    config: AutoKConfig, task: str, group_col: str | None, time_col: str | None
) -> str:
    """Reject a bad evaluate-mode configuration before any Spark job runs;
    returns the resolved metric."""
    _check_option("task", task, tuple(_METRICS))
    _check_option("k_method", config.k_method, ("evaluate", "elbow"))
    _check_option("strategy", config.strategy, ("time_holdout", "group_cv"))
    if config.strategy == "time_holdout":
        if time_col is None:
            raise ValueError("time_holdout strategy requires time_col")
        if not 0.0 < config.val_frac < 1.0:
            raise ValueError(f"time_holdout requires 0 < val_frac < 1, got {config.val_frac}")
    elif group_col is None:
        raise ValueError("group_cv strategy requires group_col")
    elif int(config.n_splits) < 2:
        raise ValueError(f"group_cv requires n_splits >= 2, got {int(config.n_splits)}")
    return resolve_metric(config.metric, task)


def build_k_grid(min_k: int, max_k: int) -> list[int]:
    if max_k <= 30:
        grid = list(range(min_k, max_k + 1, 2))
        if grid and grid[-1] != max_k:
            grid.append(max_k)
        return grid
    grid = set(range(min_k, min(30, max_k) + 1, 5))
    grid.update([40, 50, 60, 75, 100, 125, 150])
    grid.add(min_k)
    grid.add(max_k)
    return sorted(k for k in grid if min_k <= k <= max_k)


_RIDGE_ALPHAS = np.logspace(-3, 3, 10)


def _ridge_betas(G: np.ndarray, g: np.ndarray, k_grid: list[int], p: int):
    """All (k-prefix × alpha) closed-form ridge solutions as zero-padded
    beta columns; returns (B[p, M], keys[(k, alpha_idx)])."""
    keys: list[tuple[int, int]] = []
    bcols: list[np.ndarray] = []
    for kk in k_grid:
        kk_eff = min(kk, p)
        for ai, a in enumerate(_RIDGE_ALPHAS):
            beta = np.linalg.solve(G[:kk_eff, :kk_eff] + a * np.eye(kk_eff), g[:kk_eff])
            bc = np.zeros(p)
            bc[:kk_eff] = beta
            bcols.append(bc)
            keys.append((kk, ai))
    return np.column_stack(bcols), keys


def _min_over_alphas(
    keys: list[tuple[int, int]], losses: np.ndarray, metric: str
) -> dict[int, float]:
    """Per-k best validation score over the alpha grid (sqrt first for
    rmse; min of sqrt == sqrt of min, so order is immaterial)."""
    scores: dict[int, float] = {}
    for (kk, _ai), v in zip(keys, losses):
        v = float(v) if np.isfinite(v) else np.inf
        if metric == "rmse" and np.isfinite(v):
            v = float(np.sqrt(v))
        scores[kk] = min(scores.get(kk, np.inf), v)
    return scores


def _grouped_loss_pass(
    df: DataFrame,
    path: list[str],
    y_col: str,
    weight_col: str | None,
    fold_col: str,
    imput: np.ndarray,
    mu: np.ndarray,
    sd: np.ndarray,
    n_models: int,
    row_loss,
) -> np.ndarray:
    """Weighted mean validation loss of ALL ``n_models`` models of every
    split in ONE Arrow scan of the fold-tagged frame: each row is val data
    for exactly the split whose index equals its fold, imputed and
    standardized with THAT split's train stats (``imput``/``mu``/``sd``
    are (S, p)), and ``row_loss(f, Z, y)`` returns its (n, M) per-row
    losses under split f's models — one GEMM on the standardized batch
    (``_ridge_row_loss``, ``_softmax_row_loss``). Rows with a null/NaN
    target or a fold outside [0, S) are skipped. Returns (S, M) weighted
    mean losses (inf where a fold had no weight)."""
    S, M = len(imput), int(n_models)
    dfp = kernels._project(
        df, path, _y_=y_col, _f_=F.col(fold_col).cast("long"), _w_=weight_col
    )
    wkey = "_w_" if weight_col else None
    imput = np.ascontiguousarray(imput, dtype=np.float64)
    mu = np.ascontiguousarray(mu, dtype=np.float64)
    sd = np.ascontiguousarray(sd, dtype=np.float64)

    def term(batch) -> np.ndarray:
        X = kernels._batch_cols(batch, path)
        y = kernels._batch_vec(batch, "_y_")
        w = kernels._batch_vec(batch, wkey)
        out = np.zeros((S, M + 1), dtype=np.float64)
        fold = kernels._batch_vec(batch, "_f_")
        for f, sel in kernels._fold_rows(fold, S, np.isfinite(y)):
            Xf, yf, wf = (X, y, w) if sel is None else (X[sel], y[sel], w[sel])
            Xq = np.where(np.isfinite(Xf), Xf, imput[f][None, :])
            Z = (Xq - mu[f][None, :]) / sd[f][None, :]
            out[f, :M] += wf @ row_loss(f, Z, yf)
            out[f, M] += wf.sum()
        return out.ravel()

    acc = kernels.arrow_reduce(dfp, term, S * (M + 1)).reshape(S, M + 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(acc[:, M:] > 0.0, acc[:, :M] / acc[:, M:], np.inf)


def _ridge_row_loss(y_wmean: np.ndarray, B: np.ndarray, metric: str):
    """Per-row squared (or, for mae, absolute) residuals of split f's ridge
    models: ``y_wmean`` is (S,), ``B`` (S, p, M) zero-padded prefix
    betas."""
    y_wmean = np.ascontiguousarray(y_wmean, dtype=np.float64)
    B = np.ascontiguousarray(B, dtype=np.float64)

    def loss(f: int, Z: np.ndarray, y: np.ndarray) -> np.ndarray:
        R = (y - y_wmean[f])[:, None] - Z @ B[f]
        return np.abs(R) if metric == "mae" else R * R

    return loss


def _algebraic_regression_losses(
    accs: np.ndarray, v: int, p: int, ri: dict, B: np.ndarray
) -> np.ndarray:
    """Squared-error validation losses of all M ridge models on fold ``v``
    WITHOUT a data pass: the weighted squared residual sum is a quadratic
    form in the val fold's imputed second moments (already inside the fused
    fold accumulators) under the train split's impute/center/scale stats —
    Σw·r² = Syy − 2·b'Szy + b'Szz·b with Szz/Szy/Syy shifted from
    fold-mean-centered moments to train-mean-centered ones. Exact up to
    float reassociation vs the row-wise ``_grouped_loss_pass``
    (matches the NumPy oracle at 1e-9); only valid for squared loss — mae
    keeps the row pass."""
    M = B.shape[1]
    st = kernels.finish_fold_stats(accs, v, p, ri["impute_means"])
    sw_v = float(st["sw"])
    if sw_v <= 0.0:
        return np.full(M, np.inf)
    d = st["col_wmeans"] - ri["col_wmeans"]
    dy = float(st["y_wmean"]) - ri["y_wmean"]
    Sxx = st["C"] + sw_v * np.outer(d, d)
    Sxy = st["c_y"] + sw_v * d * dy
    Syy = float(st["c_yy"]) + sw_v * dy * dy
    dinv = 1.0 / ri["wstds"]
    Szz = Sxx * np.outer(dinv, dinv)
    Szy = Sxy * dinv
    t1 = B.T @ Szy
    t2 = np.einsum("pm,pq,qm->m", B, Szz, B, optimize=True)
    # clamp: the quadratic form can go an ulp negative where the fit is
    # near-perfect; the row pass is a sum of squares and cannot
    return np.maximum((Syy - 2.0 * t1 + t2) / sw_v, 0.0)


class _InsufficientFolds(Exception):
    """Fewer than 2 folds are non-empty. The caller decides: for group CV
    (a single group, or a tiny group cardinality whose hashes collided)
    select_k_evaluate retries once with an exact round-robin group→fold
    map (bounded distinct collect + broadcast join) before giving up; for
    time holdout one side of the cut is empty and it raises."""


def _occupied_folds(accs: np.ndarray) -> np.ndarray:
    """Per-fold row presence read from the fused accumulator tail — free,
    replacing the former distinct-count pre-scan (a full scan + exchange
    at scale)."""
    occ = np.array([float(a[-1]) > 0 for a in accs])
    if occ.sum() < 2:
        raise _InsufficientFolds()
    return occ


def _scored_rows(folded: DataFrame, val_folds: list[int], n_folds: int) -> DataFrame:
    """The rows a loss scan reads: all of them when every fold is scored,
    else only the scored folds' (time holdout sends only its val side
    through Arrow)."""
    if len(val_folds) == n_folds:
        return folded
    return folded.where(F.col("_fold").isin(val_folds))


def _ridge_group_cv_scores(
    folded: DataFrame,
    path: list[str],
    target_col: str,
    weight_col: str | None,
    k_grid: list[int],
    metric: str,
    n_splits: int,
    val_folds: list[int],
) -> dict[int, float]:
    """Fold-CV ridge evaluate over the ``_fold``-tagged frame: split ``v``
    for each ``v`` in ``val_folds`` validates on fold ``v`` and trains on
    every other fold; the score per k is the mean over the non-empty
    scored folds. ONE scan for squared-error metrics (TWO for mae; was
    3 × n_splits sequential scans): one fold-keyed fused stats pass (every
    leave-one-fold-out train split's moments AND Gram by driver-side Chan
    merges of the per-fold accumulators); squared-error validation losses
    then follow algebraically from the SAME per-fold accumulators
    (``_algebraic_regression_losses``) — mae is not a quadratic form, so
    it keeps the fold-grouped row-wise loss pass over the scored folds'
    rows. Raises ``_InsufficientFolds`` when fewer than 2 folds hold rows."""
    p = len(path)
    accs = kernels.fused_foldwise_stats(
        folded, path, target_col, "_fold", n_splits, weight_col, quantize_f32=False
    )
    # the per-fold non-finite-y counts ride the fold accumulators' tail
    _require_finite_y(accs[:, -2].sum())
    occupied = _occupied_folds(accs)
    # a val fold with no rows is a split GroupKFold could not produce:
    # excluded from the mean, like min(n_splits, n_groups)
    scored = [v for v in val_folds if occupied[v]]
    M = len(k_grid) * len(_RIDGE_ALPHAS)
    B = np.zeros((n_splits, p, M))
    imput = np.zeros((n_splits, p))
    mus = np.zeros((n_splits, p))
    sds = np.ones((n_splits, p))
    ymn = np.zeros(n_splits)
    live = np.zeros(n_splits, dtype=bool)
    ris: list[dict | None] = [None] * n_splits
    keys = None
    for v in scored:
        st = kernels.finish_loo_stats(accs, v, p, quantize_f32=False)
        ri = {**st, **_standardized_corr(st["C"], st["sw"], st["c_y"], st["c_yy"])}
        G = ri["R"] * ri["sw"]
        g = ri["r_y"] * ri["sw"] * ri["y_wstd"]
        if not (np.isfinite(G).all() and np.isfinite(g).all() and ri["sw"] > 0):
            continue  # degenerate train split -> inf scores for this fold
        B[v], keys = _ridge_betas(G, g, k_grid, p)
        imput[v], mus[v], sds[v], ymn[v] = (
            ri["impute_means"], ri["col_wmeans"], ri["wstds"], ri["y_wmean"],
        )
        ris[v] = ri
        live[v] = True
    if keys is None:
        return {kk: float("inf") for kk in k_grid}

    if metric == "mae":
        losses = _grouped_loss_pass(
            _scored_rows(folded, val_folds, n_splits), path, target_col,
            weight_col, "_fold", imput, mus, sds, M, _ridge_row_loss(ymn, B, metric),
        )
    else:
        losses = np.full((n_splits, M), np.inf)
        for v in scored:
            if live[v]:
                losses[v] = _algebraic_regression_losses(accs, v, p, ris[v], B[v])
    per_split = [
        _min_over_alphas(keys, losses[v], metric) if live[v]
        else {kk: np.inf for kk in k_grid}
        for v in scored
    ]
    return {
        kk: float(np.mean([s[kk] for s in per_split])) for kk in k_grid
    }


def _softmax_fit(
    Z: np.ndarray,
    y: np.ndarray,
    n_classes: int,
    w: np.ndarray | None,
    lam: float,
    max_iter: int = 400,
    tol: float = 1e-7,
) -> tuple[np.ndarray, np.ndarray]:
    """L2-regularized multinomial logistic on standardized ``Z`` via
    Nesterov-accelerated gradient (no scipy/sklearn in this container).
    Returns (W[k, C], b[C]). Matches sklearn LogisticRegression(C=1/ (lam·n))
    up to optimizer tolerance; intercept unpenalized, as sklearn."""
    n, k = Z.shape
    ww = np.full(n, 1.0 / n) if w is None else (w / w.sum())
    Y = np.zeros((n, n_classes))
    Y[np.arange(n), y] = 1.0
    Zb = np.concatenate([Z, np.ones((n, 1))], axis=1)
    # Lipschitz bound for softmax CE: 0.5 * lambda_max(Zb' diag(ww) Zb) + lam
    G = (Zb * ww[:, None]).T @ Zb
    L = 0.5 * float(np.linalg.eigvalsh(G)[-1]) + lam
    step = 1.0 / max(L, 1e-12)

    Wb = np.zeros((k + 1, n_classes))
    V = Wb.copy()
    t_prev = 1.0
    for _ in range(max_iter):
        S = Zb @ V
        S -= S.max(axis=1, keepdims=True)
        P = np.exp(S)
        P /= P.sum(axis=1, keepdims=True)
        grad = Zb.T @ ((P - Y) * ww[:, None])
        grad[:k] += lam * V[:k]  # intercept row unpenalized
        W_new = V - step * grad
        t_new = 0.5 * (1.0 + np.sqrt(1.0 + 4.0 * t_prev * t_prev))
        V = W_new + ((t_prev - 1.0) / t_new) * (W_new - Wb)
        if np.max(np.abs(W_new - Wb)) < tol:
            Wb = W_new
            break
        Wb, t_prev = W_new, t_new
    return Wb[:k], Wb[k]


def _softmax_losses(
    Z: np.ndarray, y: np.ndarray, M: int, C: int,
    Ws: np.ndarray, bs: np.ndarray, metric: str,
) -> np.ndarray:
    """(n, M) per-row losses of all M softmax models: class scores are one
    (n×p)·(p×M·C) GEMM reshaped (n, M, C); logloss via row-wise logsumexp,
    error rate via first-argmax (np.argmax, the reference's tie-break)."""
    n = Z.shape[0]
    S = (Z @ Ws + bs[None, :]).reshape(n, M, C)
    if metric == "logloss":
        mx = S.max(axis=2, keepdims=True)
        lse = mx[:, :, 0] + np.log(np.exp(S - mx).sum(axis=2))
        sy = S[np.arange(n)[:, None], np.arange(M)[None, :], y[:, None]]
        return lse - sy
    return (S.argmax(axis=2) != y[:, None]).astype(np.float64)


def _softmax_row_loss(Ws: np.ndarray, bs: np.ndarray, n_classes: int, metric: str):
    """Per-row logloss / error of split f's softmax models: ``Ws`` is
    (S, p, M·C), ``bs`` (S, M·C); labels arrive as float codes."""
    C = int(n_classes)
    M = Ws.shape[2] // C
    Ws = np.ascontiguousarray(Ws, dtype=np.float64)
    bs = np.ascontiguousarray(bs, dtype=np.float64)

    def loss(f: int, Z: np.ndarray, y: np.ndarray) -> np.ndarray:
        return _softmax_losses(Z, y.astype(np.int64), M, C, Ws[f], bs[f], metric)

    return loss


def _logistic_group_cv_scores(
    folded: DataFrame,
    path: list[str],
    y_code_col: str,
    n_classes: int,
    weight_col: str | None,
    k_grid: list[int],
    metric: str,
    fit_subsample: int,
    seed: int,
    n_splits: int,
    val_folds: list[int],
) -> dict[int, float]:
    """Classification fold-CV evaluate over the ``_fold``-tagged frame
    (split ``v`` for each ``v`` in ``val_folds`` validates on fold ``v``
    and trains on the other folds) with shared scans: ONE fold-keyed fused
    stats scan (per-split standardization statistics via leave-one-fold-out
    Chan merges — the y slot of the regression kernel is unused for
    standardization, so the same accumulator serves), ONE bounded driver
    collect of a fold-tagged raw sample shared by all splits' softmax fits,
    and ONE fold-grouped loss scan over the scored folds' rows. Replaces
    the per-split loop's ~4 jobs × n_splits.

    The fit sample is drawn from the folds that train some scored split:
    fold 0 alone for time holdout (a train-only draw), every fold for
    group CV. Documented deviation (in addition to the module-docstring
    ones): each split's fit sample is that shared ``fit_subsample``-bounded
    frame filtered to the split's train folds, so under group CV each fit
    sees ~(S−1)/S of the budget rather than a full independent
    ``fit_subsample`` draw. When n ≤ fit_subsample every split fits on its
    complete train split — identical to a per-split loop."""
    from mrmr_spark.select.preprocess import deterministic_subsample

    p = len(path)
    C = int(n_classes)
    accs = kernels.fused_foldwise_stats(
        folded, path, y_code_col, "_fold", n_splits, weight_col,
        quantize_f32=False,
    )
    occupied = _occupied_folds(accs)
    # empty val folds are excluded from the mean, like min(n_splits, n_groups)
    scored = [v for v in val_folds if occupied[v]]

    # one bounded raw collect shared by every split's fit (row counts per
    # fold come from the accumulator tail — no count() job)
    fit_folds = [f for f in range(n_splits) if any(f != v for v in val_folds)]
    samp = folded
    if len(fit_folds) < n_splits:
        samp = folded.where(F.col("_fold").isin(fit_folds))
    if int(sum(float(accs[f][-1]) for f in fit_folds)) > fit_subsample:
        samp = deterministic_subsample(samp, fit_subsample, seed)
    sel = [F.col(c).cast("double").alias(c) for c in path]
    sel.append(F.col(y_code_col).cast("int").alias("_y"))
    sel.append(F.col("_fold").cast("long").alias("_f"))
    if weight_col:
        sel.append(F.col(weight_col).cast("double").alias("_w"))
    pdf = samp.select(*sel).toPandas()
    Xs = pdf[path].to_numpy(np.float64)
    ys = pdf["_y"].to_numpy(np.int64)
    fs = pdf["_f"].to_numpy(np.int64)
    wv = pdf["_w"].to_numpy(np.float64) if weight_col else None

    M = len(k_grid)
    Ws_all = np.zeros((n_splits, p, M * C))
    bs_all = np.zeros((n_splits, M * C))
    imput = np.zeros((n_splits, p))
    mus = np.zeros((n_splits, p))
    sds = np.ones((n_splits, p))
    live = np.zeros(n_splits, dtype=bool)
    for v in scored:
        st = kernels.finish_loo_stats(accs, v, p, quantize_f32=False)
        if not (st["sw"] > 0 and np.isfinite(st["col_wmeans"]).all()):
            continue
        tr = fs != v
        if len(np.unique(ys[tr])) < 2:
            continue
        wstds = _weighted_stds(np.diag(st["C"]), st["sw"])
        fin = np.isfinite(Xs[tr])
        Xq = np.where(fin, Xs[tr], st["impute_means"][None, :])
        Z = (Xq - st["col_wmeans"][None, :]) / wstds[None, :]
        yv = ys[tr]
        wtr = wv[tr] if wv is not None else None
        m = int(tr.sum())
        for mi, kk in enumerate(k_grid):
            kk_eff = min(kk, p)
            Wk, bk = _softmax_fit(Z[:, :kk_eff], yv, C, wtr, lam=1.0 / max(m, 1))
            Ws_all[v, :kk_eff, mi * C : (mi + 1) * C] = Wk
            bs_all[v, mi * C : (mi + 1) * C] = bk
        imput[v], mus[v], sds[v] = st["impute_means"], st["col_wmeans"], wstds
        live[v] = True
    if not live.any():
        return {kk: float("inf") for kk in k_grid}

    losses = _grouped_loss_pass(
        _scored_rows(folded, val_folds, n_splits), path, y_code_col,
        weight_col, "_fold", imput, mus, sds, M,
        _softmax_row_loss(Ws_all, bs_all, C, metric),
    )
    per_split = [
        {kk: (float(losses[v, mi]) if live[v] and np.isfinite(losses[v, mi])
              else float("inf"))
         for mi, kk in enumerate(k_grid)}
        for v in scored
    ]
    return {kk: float(np.mean([s[kk] for s in per_split])) for kk in k_grid}


def select_k_evaluate(
    df: DataFrame,
    path: list[str],
    target_col: str,
    config: AutoKConfig,
    weight_col: str | None = None,
    group_col: str | None = None,
    time_col: str | None = None,
    task: str = "regression",
) -> tuple[int, list[str], dict]:
    """Pick best k over the grid by held-out error (lower is better).
    Regression: closed-form ridge (rmse/mae). Classification: driver
    softmax fit + distributed logloss/error (reference auto_k.py:96-204)."""
    metric = check_config(config, task, group_col, time_col)
    max_k = min(config.max_k, len(path))
    min_k = max(1, min(config.min_k, max_k))
    k_grid = build_k_grid(min_k, max_k)
    path = path[:max_k]
    if not path or not k_grid:
        # nothing to evaluate (empty candidate path, e.g. no feature
        # passed the relevance validity filter)
        return 0, [], {}

    n_classes = 0
    if task == "classification":
        from mrmr_spark.select.preprocess import factorize_target

        df, labels = factorize_target(df, target_col, "_y_code")
        n_classes = len(labels)

    def _run_cv(folded_df, n_folds, val_folds):
        # one evaluator per task for both strategies (see the module
        # docstring); classification adds ONE bounded collect shared by
        # all splits' softmax fits
        if task == "regression":
            return _ridge_group_cv_scores(
                folded_df, path, target_col, weight_col, k_grid, metric,
                n_folds, val_folds,
            )
        return _logistic_group_cv_scores(
            folded_df, path, "_y_code", n_classes, weight_col, k_grid,
            metric, config.fit_subsample, config.seed, n_folds, val_folds,
        )

    if config.strategy == "time_holdout":
        # exact percentile cut + filter — same "train on the oldest
        # 1-val_frac, validate on the newest val_frac" semantics as a
        # percent_rank cut, but with NO single-partition global window
        # (that plan pulls the whole table through one task at scale) and
        # NO value-buffering percentile aggregate (its value→count map
        # grows with distinct timestamps — range-partitioned order
        # statistics instead, binning.ranged_percentiles)
        t = F.col(time_col).cast("double")
        cut_arr = binning.ranged_percentiles(
            df.select(t.alias("_t_")), ["_t_"], [1.0 - config.val_frac]
        )["_t_"]
        if np.isnan(cut_arr[0]):
            raise ValueError(f"time_col '{time_col}' has no non-null values")
        cut_val = float(cut_arr[0])
        # one-split fold CV: train/val tagged as folds 0/1 and only fold 1
        # scored — no persisted split frames (at 10¹² rows the persists
        # are exactly the materialization the no-persist discipline
        # avoids). Null-time rows are dropped (the former
        # where(t<cut)/where(t>=cut) split excluded them from BOTH sides; a
        # null comparison here would otherwise produce a null fold ->
        # garbage index in the Arrow mapper). NaN sorts above every value
        # in Spark, so NaN-time rows land in the val fold — same as the
        # old t >= cut filter.
        tagged = df.where(t.isNotNull()).withColumn(
            "_fold", (t >= F.lit(cut_val)).cast("long")
        )
        try:
            scores = _run_cv(tagged, 2, [1])
        except _InsufficientFolds:
            # the val side holds at least the rows at the cut, so the
            # empty side is the train side: a constant time_col, or too
            # few distinct times for val_frac
            raise ValueError(
                f"time_holdout has no train rows: no row has {time_col} < "
                f"{cut_val!r} (the cut at val_frac={config.val_frac})"
            ) from None
    else:
        # NOTE: no distinct-count pre-scan — at 10¹² rows that is a full
        # scan + exchange spent only on clamping n_splits. Fold occupancy
        # is read for free from the fold-keyed accumulator inside the
        # scorers: empty val folds are excluded from the mean (the splits
        # GroupKFold could not have produced), and < 2 non-empty folds
        # raises the same "at least 2 groups" error.
        n_splits = int(config.n_splits)
        fold = F.pmod(F.xxhash64(F.col(group_col)), F.lit(n_splits))
        try:
            scores = _run_cv(
                df.withColumn("_fold", fold), n_splits, list(range(n_splits))
            )
        except _InsufficientFolds:
            # tiny group cardinality (or a pathological hash collision):
            # build an exact GroupKFold-style round-robin group→fold map —
            # a bounded distinct collect + broadcast join, paid only on
            # this rare path. Raises for a genuinely single-group input.
            groups = [
                r[0] for r in df.select(group_col).distinct().limit(100_001).collect()
            ]
            if len(groups) < 2:
                raise ValueError(
                    f"group_cv requires at least 2 groups, got {len(groups)}"
                ) from None
            if len(groups) > 100_000:
                # unreachable in practice: >100k distinct groups cannot all
                # hash into one fold — refuse rather than silently folding
                # a truncated subset (the join would drop unmapped rows)
                raise RuntimeError(
                    "group_cv fold fallback engaged with >100k distinct "
                    "groups; hash folding should not have collapsed"
                ) from None
            n_s = min(n_splits, len(groups))
            groups.sort(key=lambda g: (g is None, str(g)))
            # eqNullSafe: a NULL group is a legitimate group value (the
            # hash path folds it via xxhash64's seed); a plain equi-join
            # would silently drop those rows
            mdf = df.sparkSession.createDataFrame(
                [(g, i % n_s) for i, g in enumerate(groups)],
                [group_col, "_fold"],
            ).withColumnRenamed(group_col, "_grp_key")
            remapped = (
                df.join(
                    F.broadcast(mdf),
                    F.col(group_col).eqNullSafe(F.col("_grp_key")),
                    "inner",
                ).drop("_grp_key")
            )
            try:
                scores = _run_cv(remapped, n_s, list(range(n_s)))
            except _InsufficientFolds:
                raise ValueError(
                    "group_cv requires at least 2 groups with rows"
                ) from None

    finite = {kk: v for kk, v in scores.items() if np.isfinite(v)}
    if not finite:
        return max_k, path[:max_k], scores
    best_k = min(finite.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return best_k, path[:best_k], scores
