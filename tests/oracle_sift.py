"""Pandas/NumPy parity oracle: an independent, vectorized re-derivation of
the reference's selection math (kmedved/mrmr, package ``sift``), used only
by tests to check the Spark engine's rankings and scores.

Deliberately structured differently from both the reference (numba scalar
loops) and the engine (matrix-form greedy fed by distributed reductions):
the greedy loops here recompute statistics *from the data at every step*
(the reference's incremental formulation), so agreement between engine and
oracle also validates the matrix-form/incremental equivalence.

Formula sources (constants are parity-defining):
 - impute/cast chain: sift/_preprocess.py:155-209, sift/_impute.py:8-45
 - f_regression/f_classif: sift/estimators/relevance.py:12-107
 - classic mRMR: sift/selection/loops.py:17-153 (FLOOR=1e-6)
 - r2/binned joint MI: sift/estimators/joint_mi.py:58-220,424-432
 - copula/gaussian: sift/estimators/copula.py:85-275
 - CEFS+: sift/selection/cefsplus.py:22-281 (shrink 1e-6, eps 1e-12)
"""

from __future__ import annotations

import numpy as np

from mrmr_spark.functions.ndtri import ndtri

FLOOR = 1e-6


# --- preprocessing -----------------------------------------------------------

def impute_f32(X: np.ndarray) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64).copy()
    bad = ~np.isfinite(X)
    if bad.any():
        X[bad] = np.nan
        means = np.nanmean(np.where(np.isfinite(X), X, np.nan), axis=0)
        means = np.where(np.isfinite(means), means, 0.0)
        ii, jj = np.where(bad)
        X[ii, jj] = means[jj]
    return X.astype(np.float32)


def factorize_sorted(y) -> np.ndarray:
    _, inv = np.unique(np.asarray(y), return_inverse=True)
    return inv.astype(np.int32)


def norm_weights(w: np.ndarray | None, n: int) -> np.ndarray:
    if w is None:
        return np.ones(n)
    w = np.asarray(w, dtype=np.float64)
    w = w / w.max()
    return w / w.mean()


# --- relevance ---------------------------------------------------------------

def f_regression(X32: np.ndarray, y32: np.ndarray, w: np.ndarray) -> np.ndarray:
    X = X32.astype(np.float64)
    y = y32.astype(np.float64)
    sw = w.sum()
    ym = (w @ y) / sw
    yc = y - ym
    y_ss = w @ (yc * yc)
    xm = (w @ X) / sw
    Xc = X - xm
    x_ss = np.einsum("ij,ij->j", Xc * w[:, None], Xc)
    xy = (Xc * w[:, None]).T @ yc
    out = np.zeros(X.shape[1])
    ok = (x_ss >= 1e-12) & (y_ss >= 1e-12)
    r = np.zeros_like(out)
    r[ok] = xy[ok] / np.sqrt(x_ss[ok] * y_ss)
    r2 = np.minimum(r * r, 0.99999)
    out[ok] = r2[ok] / (1.0 - r2[ok]) * (sw - 2.0)
    return out


def f_classif(X32: np.ndarray, ycodes: np.ndarray, w: np.ndarray) -> np.ndarray:
    X = X32.astype(np.float64)
    C = int(ycodes.max()) + 1
    sw = w.sum()
    xm = (w @ X) / sw
    ssb = np.zeros(X.shape[1])
    ssw = np.zeros(X.shape[1])
    cw = np.zeros(C)
    for c in range(C):
        m = ycodes == c
        cw[c] = w[m].sum()
        if cw[c] < 1e-12:
            continue
        s = (w[m] @ X[m])
        sq = (w[m] @ (X[m] * X[m]))
        mc = s / cw[c]
        ssb += cw[c] * (mc - xm) ** 2
        ssw += sq - cw[c] * mc * mc
    dfb, dfw = C - 1, sw - C
    out = np.zeros(X.shape[1])
    if dfw > 0 and dfb > 0:
        ok = ssw >= 1e-12
        out[ok] = (ssb[ok] / dfb) / (ssw[ok] / dfw)
    return out


def ks_classif(X32: np.ndarray, ycodes: np.ndarray) -> np.ndarray:
    """Unweighted mean one-vs-rest two-sample KS (relevance.py:110-131).
    scipy-free ks_2samp: D = max |ECDF1 − ECDF2| over pooled sample points
    (right-continuous ECDFs, exactly scipy's two-sided statistic)."""
    X = X32.astype(np.float64)
    n, p = X.shape
    classes = np.unique(ycodes)
    scores = np.zeros(p)
    for j in range(p):
        x = X[:, j]
        ks_sum, count = 0.0, 0
        for c in classes:
            mask = ycodes == c
            if mask.sum() < 2 or (~mask).sum() < 1:
                continue
            x1 = np.sort(x[mask])
            x2 = np.sort(x[~mask])
            pooled = np.concatenate([x1, x2])
            cdf1 = np.searchsorted(x1, pooled, side="right") / x1.size
            cdf2 = np.searchsorted(x2, pooled, side="right") / x2.size
            ks_sum += float(np.max(np.abs(cdf1 - cdf2)))
            count += 1
        scores[j] = ks_sum / max(count, 1)
    return scores


# --- classic mRMR (incremental, recomputed from data each step) --------------

def _standardize(X64: np.ndarray, w: np.ndarray) -> np.ndarray:
    sw = w.sum()
    mu = (w @ X64) / sw
    Xc = X64 - mu
    var = np.einsum("ij,ij->j", Xc * w[:, None], Xc) / sw
    std = np.where(var > 1e-12, np.sqrt(var), 1.0)
    return Xc / std


def mrmr_classic(
    X32: np.ndarray, rel: np.ndarray, k: int, w: np.ndarray,
    formula: str = "quotient", top_m: int | None = None,
) -> np.ndarray:
    valid = np.where(rel > 0)[0]
    if valid.size == 0:
        return np.empty(0, np.int64)
    rel_v = rel[valid]
    if top_m is not None and top_m < valid.size:
        loc = np.argpartition(rel_v, -top_m)[-top_m:]
        idx_map = valid[loc]
    else:
        idx_map = valid
    rel_c = rel[idx_map]
    Z = _standardize(X32[:, idx_map].astype(np.float64), w)
    sw = w.sum()
    m = len(idx_map)
    k = min(k, m)

    sel = [int(np.argmax(rel_c))]
    red_sum = np.zeros(m)
    taken = np.zeros(m, bool)
    taken[sel[0]] = True
    for t in range(1, k):
        zlast = Z[:, sel[-1]]
        red = np.abs((Z * (w * zlast)[:, None]).sum(axis=0) / sw)
        red_sum[~taken] += red[~taken]
        mean_red = red_sum / t
        score = rel_c / np.maximum(mean_red, FLOOR) if formula == "quotient" else rel_c - mean_red
        score[taken] = -np.inf
        j = int(np.argmax(score))
        if not np.isfinite(score[j]):
            break
        sel.append(j)
        taken[j] = True
    return idx_map[np.array(sel)]


# --- JMI (r2 + binned), incremental from data --------------------------------

def _wcorr(a: np.ndarray, b: np.ndarray, w: np.ndarray) -> float:
    sw = w.sum()
    return float((w * a * b).sum() / sw)


def jmi_classic(
    X32: np.ndarray, y, rel: np.ndarray, k: int, w: np.ndarray,
    estimator: str = "r2", aggregation: str = "sum", top_m: int | None = None,
    y_kind: str = "continuous", n_bins: int = 10,
) -> np.ndarray:
    valid = np.where(rel > 0)[0]
    if valid.size == 0:
        return np.empty(0, np.int64)
    rel_v = rel[valid]
    if top_m is not None and top_m < valid.size:
        loc = np.argpartition(rel_v, -top_m)[-top_m:]
        idx_map = valid[loc]
    else:
        idx_map = valid
    Xc = X32[:, idx_map].astype(np.float64)
    rel_c = rel[idx_map]
    m = len(idx_map)
    k = min(k, m)
    y64 = np.asarray(y, dtype=np.float64)

    if estimator == "binned":
        codes = np.column_stack([quantile_bin(Xc[:, j], n_bins) for j in range(m)])
        if y_kind == "discrete":
            yb = np.asarray(y).astype(np.int64)
            ny = int(yb.max()) + 1
        else:
            yb = quantile_bin(y64, n_bins).astype(np.int64)
            ny = n_bins
        h_y = w_entropy(yb, w, ny)

    scores = np.full(m, np.inf) if aggregation == "min" else np.zeros(m)
    sel = [int(np.argmax(rel_c))]
    taken = np.zeros(m, bool)
    taken[sel[0]] = True
    for t in range(1, k):
        s = sel[-1]
        cand = np.where(~taken)[0]
        if estimator == "r2":
            Zs = _standardize(Xc[:, [s]], w)[:, 0]
            sw = w.sum()
            ym = (w @ y64) / sw
            yv = (w @ ((y64 - ym) ** 2)) / sw
            ys = (y64 - ym) / (np.sqrt(yv) if yv > 1e-12 else 1.0)
            r_ys = _wcorr(Zs, ys, w)
            mi = np.empty(cand.size)
            for i, j in enumerate(cand):
                Zf = _standardize(Xc[:, [j]], w)[:, 0]
                r_yf = _wcorr(Zf, ys, w)
                r_fs = _wcorr(Zf, Zs, w)
                denom = 1.0 - r_fs * r_fs
                r2 = r_ys**2 if denom < 1e-8 else r_ys**2 + (r_yf - r_ys * r_fs) ** 2 / denom
                r2 = min(max(r2, 0.0), 0.99999)
                mi[i] = -0.5 * np.log(1.0 - r2)
        else:
            sb = codes[:, s].astype(np.int64)
            mi = np.empty(cand.size)
            for i, j in enumerate(cand):
                fs = codes[:, j].astype(np.int64) * n_bins + sb
                fsy = fs * ny + yb
                mi[i] = max(
                    0.0,
                    w_entropy(fs, w, n_bins * n_bins) + h_y - w_entropy(fsy, w, n_bins * n_bins * ny),
                )
        if aggregation == "min":
            scores[cand] = np.minimum(scores[cand], mi)
        else:
            scores[cand] += mi
        eff = np.where(np.isfinite(scores), scores, rel_c)
        eff[taken] = -np.inf
        j = int(np.argmax(eff))
        sel.append(j)
        taken[j] = True
    return idx_map[np.array(sel)]


def quantile_bin(x: np.ndarray, n_bins: int = 10) -> np.ndarray:
    if x.size == 0 or np.std(x) < 1e-12:
        return np.zeros(len(x), dtype=np.int32)
    edges = np.percentile(x, np.linspace(0, 100, n_bins + 1))
    return np.digitize(x, edges[1:-1]).astype(np.int32)


def w_entropy(codes: np.ndarray, w: np.ndarray, n_states: int) -> float:
    counts = np.bincount(codes, weights=w, minlength=n_states)
    p = counts / w.sum()
    m = p > 1e-12
    return float(-(p[m] * np.log(p[m])).sum())


# --- gaussian copula path -----------------------------------------------------

def rank_gauss(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    fin = np.isfinite(x)
    if fin.sum() <= 1:
        return np.zeros_like(x, dtype=np.float32)
    xv, wv = x[fin], w[fin]
    order = np.argsort(xv, kind="stable")
    cw = np.cumsum(wv[order])
    mid = cw - wv[order] / 2.0
    u = np.clip(mid / cw[-1], 1e-6, 1 - 1e-6)
    z = ndtri(u)
    zm = (wv[order] @ z) / cw[-1]
    zv = (wv[order] @ ((z - zm) ** 2)) / cw[-1]
    zs = (z - zm) / (np.sqrt(zv) if zv > 1e-12 else 1.0)
    out = np.zeros_like(x, dtype=np.float32)
    idx = np.where(fin)[0][order]
    out[idx] = zs.astype(np.float32)
    return out


def gaussian_select(
    X: np.ndarray, y: np.ndarray, k: int, w: np.ndarray | None = None,
    method: str = "cefsplus", top_m: int | None = None, corr_prune_t: float = 0.95,
    return_objective: bool = False,
):
    """Full gaussian pipeline: impute(f64) → prune constants → rank-gauss →
    R, r → top_m(|r|) → corr-prune → loop. CEFS+ objective computed by
    direct slogdet (independent of Schur updates)."""
    X = np.asarray(X, dtype=np.float64).copy()
    n, p = X.shape
    w = norm_weights(w, n).astype(np.float32).astype(np.float64)
    bad = ~np.isfinite(X)
    if bad.any():
        X[bad] = np.nan
        means = np.nanmean(X, axis=0)
        means = np.where(np.isfinite(means), means, 0.0)
        ii, jj = np.where(bad)
        X[ii, jj] = means[jj]
    stds = np.std(X, axis=0)
    valid = np.where(stds > 1e-12)[0]
    Z = np.column_stack([rank_gauss(X[:, j], w) for j in valid]).astype(np.float64)
    zy = rank_gauss(np.asarray(y, dtype=np.float32).astype(np.float64), w).astype(np.float64)

    sw = w.sum()
    R = (Z.T @ (Z * w[:, None])) / sw
    R = 0.5 * (R + R.T)
    np.clip(R, -0.999999, 0.999999, out=R)
    np.fill_diagonal(R, 1.0)
    r = np.clip((Z.T @ (w * zy)) / sw, -0.999999, 0.999999)
    rel = -0.5 * np.log(1.0 - np.clip(r * r, 0, 1 - 1e-12))

    pv = len(valid)
    tm = min(max(max(5 * k, 250) if top_m is None else top_m, k), pv)
    cand = np.argpartition(np.abs(r), -tm)[-tm:] if tm < pv else np.arange(pv)
    Rc = R[np.ix_(cand, cand)]

    order = np.argsort(-np.abs(r[cand]))
    keep, active = [], np.ones(len(cand), bool)
    for i, fi in enumerate(order):
        if not active[i]:
            continue
        keep.append(fi)
        for jj_, fj in enumerate(order[i + 1:], start=i + 1):
            if active[jj_] and abs(Rc[fi, fj]) >= corr_prune_t:
                active[jj_] = False
    keep = np.array(keep, dtype=np.int64)
    cand = cand[keep]
    Rc = Rc[np.ix_(keep, keep)]
    rc = r[cand]
    relc = rel[cand]
    kk = min(k, len(cand))

    if method == "cefsplus":
        sel = _cefsplus_direct(Rc, rc, kk, relc)
    elif method in ("mrmr_quot", "mrmr_diff"):
        sel = _gauss_mrmr_direct(Rc, relc, kk, method == "mrmr_quot")
    elif method in ("jmi", "jmim"):
        sel = _gauss_jmi_direct(Rc, rc, relc, kk, method == "jmim")
    else:
        raise ValueError(method)

    out_idx = valid[cand[sel]]
    if return_objective:
        obj = _objective_direct(Rc[np.ix_(sel, sel)], rc[sel])
        return out_idx, obj
    return out_idx


def _logdet_sigma(Rs: np.ndarray, rs: np.ndarray, idx: list[int], with_y: bool) -> float:
    s = len(idx)
    if with_y:
        M = np.empty((s + 1, s + 1))
        M[0, 0] = 1.0
        M[0, 1:] = rs[idx]
        M[1:, 0] = rs[idx]
        M[1:, 1:] = Rs[np.ix_(idx, idx)]
    else:
        M = Rs[np.ix_(idx, idx)]
        if s == 0:
            return 0.0
    sign, ld = np.linalg.slogdet(M)
    return float(ld)


def _cefsplus_direct(R, r, k, rel, shrink=1e-6):
    """Direct slogdet evaluation of log|Σ_S∪f| − log|Σ_{y,S∪f}| per candidate
    — numerically independent check of the engine's Schur-update loop."""
    m = len(r)
    Rs = (1 - shrink) * R.copy()
    np.fill_diagonal(Rs, 1.0)
    rs = (1 - shrink) * r
    sel = [int(np.argmax(rel))]
    remaining = set(range(m)) - set(sel)
    while len(sel) < k and remaining:
        rem = sorted(remaining)
        scores = np.array(
            [
                _logdet_sigma(Rs, rs, sel + [j], False) - _logdet_sigma(Rs, rs, sel + [j], True)
                for j in rem
            ]
        )
        bi = int(np.argmax(scores))
        best = scores[bi]
        brel = rel[rem[bi]]
        for i2, j2 in enumerate(rem):
            if abs(scores[i2] - best) < 1e-12 and rel[j2] > brel:
                brel = rel[j2]
                bi = i2
        sel.append(rem[bi])
        remaining.discard(rem[bi])
    return np.array(sel, dtype=np.int64)


def _objective_direct(R_path, r_path, shrink=1e-6):
    kk = len(r_path)
    Rs = (1 - shrink) * np.asarray(R_path).copy()
    np.fill_diagonal(Rs, 1.0)
    rs = (1 - shrink) * np.asarray(r_path)
    return np.array(
        [
            _logdet_sigma(Rs, rs, list(range(t + 1)), False)
            - _logdet_sigma(Rs, rs, list(range(t + 1)), True)
            for t in range(kk)
        ]
    )


def _gauss_mrmr_direct(R, rel, k, quotient):
    m = len(rel)
    sel = [int(np.argmax(rel))]
    taken = np.zeros(m, bool)
    taken[sel[0]] = True
    red_sum = np.zeros(m)
    for t in range(1, min(k, m)):
        r2 = np.clip(R[sel[-1]] ** 2, 0, 1 - 1e-12)
        red = -0.5 * np.log(1 - r2)
        red_sum[~taken] += red[~taken]
        mr = red_sum / t
        sc = rel / np.maximum(mr, FLOOR) if quotient else rel - mr
        sc[taken] = -np.inf
        j = int(np.argmax(sc))
        sel.append(j)
        taken[j] = True
    return np.array(sel, dtype=np.int64)


def _gauss_jmi_direct(R, r, rel, k, use_min):
    m = len(r)
    scores = np.full(m, np.inf) if use_min else np.zeros(m)
    sel = [int(np.argmax(rel))]
    taken = np.zeros(m, bool)
    taken[sel[0]] = True
    for t in range(1, min(k, m)):
        last = sel[-1]
        r_ys = r[last]
        r_fs = R[last]
        denom = 1 - r_fs**2
        a = r - r_ys * r_fs
        r2 = np.full(m, r_ys**2)
        ok = denom >= 1e-8
        r2[ok] += a[ok] ** 2 / denom[ok]
        np.clip(r2, 0, 0.99999, out=r2)
        mi = -0.5 * np.log(1 - r2)
        msk = ~taken
        if use_min:
            scores[msk] = np.minimum(scores[msk], mi[msk])
        else:
            scores[msk] += mi[msk]
        eff = scores.copy()
        eff[taken] = -np.inf
        j = int(np.argmax(eff))
        sel.append(j)
        taken[j] = True
    return np.array(sel, dtype=np.int64)


# --- auto-k evaluate ---------------------------------------------------------

#: the engine's ridge alpha grid (select/autok.py), which the scores depend on
RIDGE_ALPHAS = np.logspace(-3, 3, 10)


def _train_standardized(X: np.ndarray, w: np.ndarray, tr: np.ndarray) -> np.ndarray:
    """Every row imputed with the train rows' unweighted mean of finite
    values, then centered/scaled by the train rows' weighted mean and
    weighted population std (1 where the variance is <= 1e-12)."""
    fin = np.isfinite(X)
    cnt = fin[tr].sum(axis=0)
    imp = np.where(cnt > 0, np.where(fin, X, 0.0)[tr].sum(axis=0) / np.maximum(cnt, 1), 0.0)
    Xi = np.where(fin, X, imp)
    wt = w[tr] / w[tr].sum()
    mu = wt @ Xi[tr]
    var = wt @ (Xi[tr] - mu) ** 2
    sd = np.where(var > 1e-12, np.sqrt(var), 1.0)
    return (Xi - mu) / sd


def _wmean(w: np.ndarray, v: np.ndarray) -> float:
    return float(w @ v / w.sum())


def ridge_fold_cv(X, y, w, fold, val_folds, k_grid, metric: str) -> dict[int, float]:
    """Weighted ridge auto-k scores over a list of val folds.

    Split ``v`` (one per entry of ``val_folds``) validates on the rows of
    fold ``v`` and trains on every other row; time holdout is folds 0/1
    with ``val_folds=[1]``. Per (k-prefix, alpha): weighted closed-form
    ridge on the standardized train rows, y centered on its weighted train
    mean; a k scores its best alpha's weighted val rmse or mae, averaged
    over the splits. ``w=None`` is unweighted.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    w = np.ones(len(y)) if w is None else np.asarray(w, dtype=np.float64)
    fold = np.asarray(fold)
    per_split = []
    for v in val_folds:
        tr, va = fold != v, fold == v
        Z = _train_standardized(X, w, tr)
        ym = _wmean(w[tr], y[tr])
        Zw = Z[tr] * w[tr][:, None]
        G, g = Zw.T @ Z[tr], Zw.T @ (y[tr] - ym)
        scores = {}
        for k in k_grid:
            k_eff = min(k, X.shape[1])
            best = np.inf
            for a in RIDGE_ALPHAS:
                beta = np.linalg.solve(G[:k_eff, :k_eff] + a * np.eye(k_eff), g[:k_eff])
                r = y[va] - ym - Z[va, :k_eff] @ beta
                s = (np.sqrt(_wmean(w[va], r * r)) if metric == "rmse"
                     else _wmean(w[va], np.abs(r)))
                best = min(best, s)
            scores[k] = best
        per_split.append(scores)
    return {k: float(np.mean([s[k] for s in per_split])) for k in k_grid}


def logistic_fold_cv(X, ycodes, w, fold, val_folds, k_grid, metric: str,
                     n_classes: int) -> dict[int, float]:
    """Weighted softmax auto-k scores over a list of val folds (splits as in
    ``ridge_fold_cv``). Per k-prefix: the engine's L2 softmax fit
    (``_softmax_fit``, sklearn C=1.0 scaling lam = 1/n_train) on every
    standardized train row; a k scores its weighted val logloss or error
    rate (first-argmax prediction), averaged over the splits."""
    from mrmr_spark.select.autok import _softmax_fit

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(ycodes, dtype=np.int64)
    wv = np.ones(len(y)) if w is None else np.asarray(w, dtype=np.float64)
    fold = np.asarray(fold)
    per_split = []
    for v in val_folds:
        tr, va = fold != v, fold == v
        Z = _train_standardized(X, wv, tr)
        scores = {}
        for k in k_grid:
            k_eff = min(k, X.shape[1])
            W, b = _softmax_fit(Z[tr, :k_eff], y[tr], n_classes,
                                None if w is None else wv[tr], lam=1.0 / tr.sum())
            S = Z[va, :k_eff] @ W + b
            if metric == "logloss":
                S = S - S.max(axis=1, keepdims=True)
                loss = np.log(np.exp(S).sum(axis=1)) - S[np.arange(len(S)), y[va]]
            else:
                loss = (S.argmax(axis=1) != y[va]).astype(np.float64)
            scores[k] = _wmean(wv[va], loss)
        per_split.append(scores)
    return {k: float(np.mean([s[k] for s in per_split])) for k in k_grid}
