"""Hypothesis property tests for the Arrow selection kernels vs direct
numpy oracles on randomized small matrices (SURVEY §5 strategy, extended
from the fixed-fixture parity suites to generated inputs).

These target the shared-scan algebra specifically: the
indicator-augmented accumulator (``fused_foldwise_stats``) in its unkeyed
one-fold form (``fused_regression_stats(single_pass=True)``) and keyed with
leave-one-fold-out Chan merges (``finish_loo_stats``), the Gram reduction,
the O(p) r-vector pass, and the fold-grouped all-models loss pass with its
ridge and softmax row losses. Randomized NaN/±inf patterns, row
weights, partition splits and fold taggings are exactly the inputs where
the affine-imputation / Chan-merge algebra could silently drift from the
two-pass definition; the oracles below compute the statistics the naive
way (impute with finite means, then plain weighted moments) in one numpy
shot.

Deterministic derandomized profile; small example counts keep the suite
inside the wall-clock budget (each example runs 1-2 Spark jobs).
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mrmr_spark.select import kernels
from mrmr_spark.select.autok import (
    _grouped_loss_pass,
    _ridge_row_loss,
    _softmax_row_loss,
)
from mrmr_spark.select.relevance import fused_regression_stats

SET = settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def matrix_strategy(max_p=4):
    """(n, p, seed, nan_rate_pct, weighted, n_partitions)."""
    return st.tuples(
        st.integers(min_value=1, max_value=30),
        st.integers(min_value=1, max_value=max_p),
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=40),
        st.booleans(),
        st.integers(min_value=1, max_value=4),
    )


def make_matrix(n, p, seed, nan_rate_pct, weighted):
    """Random (X, y, w) with NaN AND ±inf holes in X; y finite (the
    kernels' callers enforce finite y before the scan); w > 0."""
    rng = np.random.default_rng(seed)
    X = rng.normal(loc=rng.normal(size=p) * 3.0, scale=1.0 + rng.random(p), size=(n, p))
    holes = rng.random((n, p)) < (nan_rate_pct / 100.0)
    bad_vals = rng.choice([np.nan, np.inf, -np.inf], size=(n, p))
    X = np.where(holes, bad_vals, X)
    y = rng.normal(size=n)
    w = rng.uniform(0.1, 3.0, size=n) if weighted else np.ones(n)
    return X, y, w


def np_imputed_stats(X, y, w):
    """The naive two-pass definition the fused kernel must reproduce:
    impute non-finite with the column's finite mean (0 if none), then
    plain weighted centered moments of the imputed matrix."""
    fin = np.isfinite(X)
    nfin = fin.sum(axis=0)
    rawsum = np.where(fin, X, 0.0).sum(axis=0)
    m = np.where(nfin > 0, rawsum / np.maximum(nfin, 1), 0.0)
    Xq = np.where(fin, X, m[None, :])
    sw = float(w.sum())
    col_wmeans = (w @ Xq) / sw
    y_wmean = float(w @ y) / sw
    Xc = Xq - col_wmeans[None, :]
    yc = y - y_wmean
    return {
        "sw": sw,
        "impute_means": m,
        "col_wmeans": col_wmeans,
        "y_wmean": y_wmean,
        "C": Xc.T @ (Xc * w[:, None]),
        "c_y": Xc.T @ (yc * w),
        "c_yy": float(w @ (yc * yc)),
    }


def to_sdf(spark, X, y, w, n_partitions, extra=None):
    n, p = X.shape
    pdf = pd.DataFrame({f"x{j}": X[:, j] for j in range(p)})
    pdf["y"] = y
    pdf["w"] = w
    if extra:
        for k, v in extra.items():
            pdf[k] = v
    return spark.createDataFrame(pdf).repartition(n_partitions)


def assert_stats_close(got, exp, rtol=1e-9, atol=1e-9):
    assert float(got["sw"]) == pytest.approx(exp["sw"], rel=1e-12)
    for k in ("impute_means", "col_wmeans", "C", "c_y"):
        np.testing.assert_allclose(got[k], exp[k], rtol=rtol, atol=atol, err_msg=k)
    assert float(got["y_wmean"]) == pytest.approx(exp["y_wmean"], rel=1e-9, abs=1e-9)
    assert float(got["c_yy"]) == pytest.approx(exp["c_yy"], rel=1e-9, abs=1e-9)


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@SET
@given(matrix_strategy())
def test_fused_singlepass_matches_numpy(sp, params):
    n, p, seed, nan_rate, weighted, parts = params
    X, y, w = make_matrix(n, p, seed, nan_rate, weighted)
    sdf = to_sdf(sp, X, y, w, parts)
    got = fused_regression_stats(
        sdf, [f"x{j}" for j in range(p)], "y",
        "w" if weighted else None, quantize_f32=False, single_pass=True,
    )["pass1"]
    assert_stats_close(got, np_imputed_stats(X, y, w))


@SET
@given(matrix_strategy(), st.integers(min_value=2, max_value=4))
def test_foldwise_loo_matches_subset(sp, params, n_folds):
    """finish_loo_stats(v) over the fold-keyed accumulators must equal the
    naive statistics of exactly the rows whose fold != v — the LOO Chan
    merge is the trickiest algebra of the shared-scan auto-k. Run on
    randomly partitioned rows (masked per-fold blocks) and on a frame
    whose every batch holds a single fold (the whole-batch branch)."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    n, p, seed, nan_rate, weighted, parts = params
    X, y, w = make_matrix(n, p, seed, nan_rate, weighted)
    rng = np.random.default_rng(seed + 1)
    fold = rng.integers(0, n_folds, size=n)
    sdf = to_sdf(sp, X, y, w, parts, extra={"_fold": fold})
    one_fold_batches = reduce(
        DataFrame.union,
        [sdf.where(F.col("_fold") == f).coalesce(1) for f in range(n_folds)],
    )
    for frame in (sdf, one_fold_batches):
        accs = kernels.fused_foldwise_stats(
            frame, [f"x{j}" for j in range(p)], "y", "_fold", n_folds,
            "w" if weighted else None, quantize_f32=False,
        )
        # per-fold occupancy tail == raw row counts
        np.testing.assert_array_equal(
            accs[:, -1], np.bincount(fold, minlength=n_folds).astype(float)
        )
        for v in range(n_folds):
            tr = fold != v
            got = kernels.finish_loo_stats(accs, v, p, quantize_f32=False)
            if not tr.any():
                assert float(got["sw"]) == 0.0
                continue
            assert_stats_close(got, np_imputed_stats(X[tr], y[tr], w[tr]))


@SET
@given(matrix_strategy(max_p=6))
def test_gram_pass_matches_numpy(sp, params):
    """The Arrow Gram reduction must equal the naive weighted
    second-moment matrix of the imputed standardized columns at every
    width from p=1 to p=6."""
    n, p, seed, nan_rate, weighted, parts = params
    X, y, w = make_matrix(n, p, seed, nan_rate, weighted)
    exp = np_imputed_stats(X, y, w)
    sd = np.sqrt(np.maximum(np.diag(exp["C"]) / exp["sw"], 1e-12))
    y_sd = max(np.sqrt(exp["c_yy"] / exp["sw"]), 1e-6)
    sdf = to_sdf(sp, X, y, w, parts)
    got = kernels.gram_pass(
        sdf, [f"x{j}" for j in range(p)], "w" if weighted else None,
        exp["impute_means"], exp["col_wmeans"], sd,
        y_col="y", y_wmean=exp["y_wmean"], y_wstd=y_sd,
        quantize_f32=False, clip=None,
    )
    fin = np.isfinite(X)
    Z = (np.where(fin, X, exp["impute_means"][None, :]) - exp["col_wmeans"][None, :]) / sd
    zy = (y - exp["y_wmean"]) / y_sd
    Za = np.column_stack([Z, zy])
    G = Za.T @ (Za * w[:, None]) / exp["sw"]
    G = 0.5 * (G + G.T)
    np.testing.assert_allclose(got["R"], G[:p, :p], rtol=1e-9, atol=1e-9)
    np.testing.assert_allclose(got["r_y"], G[:p, p], rtol=1e-9, atol=1e-9)


@SET
@given(matrix_strategy())
def test_r_vector_pass_matches_numpy(sp, params):
    """The O(p) cached-path job-2 accumulator vs the naive definition
    (non-finite entries contribute 0, exactly like gram_pass with zero
    impute means on the copula Z columns)."""
    n, p, seed, nan_rate, weighted, parts = params
    X, y, w = make_matrix(n, p, seed, nan_rate, weighted)
    sdf = to_sdf(sp, X, y, w, parts)
    got = kernels.r_vector_pass(
        sdf, [f"x{j}" for j in range(p)], "w" if weighted else None, "y",
        quantize_f32=False, clip=None,
    )
    Z = np.where(np.isfinite(X), X, 0.0)
    sw = float(w.sum())
    np.testing.assert_allclose(got["r_y"], (w * y) @ Z / sw, rtol=1e-9, atol=1e-9)
    assert got["c_yy"] == pytest.approx(float(w @ (y * y)), rel=1e-9)
    assert got["sw"] == pytest.approx(sw, rel=1e-12)


def fold_tags(rng, n, n_folds):
    """Fold tags 0..n_folds-1 plus out-of-range tags (-1 and n_folds) and
    nulls, as a nullable column and as the numpy tags (nulls as -1)."""
    fold = rng.integers(-1, n_folds + 1, size=n)
    null = rng.random(n) < 0.1
    tags = pd.array([None if z else int(f) for f, z in zip(fold, null)], dtype="Int64")
    return tags, np.where(null, -1, fold)


@SET
@given(matrix_strategy(), st.integers(min_value=1, max_value=5),
       st.integers(min_value=1, max_value=3))
def test_regression_loss_pass_matches_numpy(sp, params, n_models, n_folds):
    """The fold-grouped all-models val-loss GEMM pass vs numpy per fold,
    including the non-finite-y row mask (a NaN y row must drop out
    entirely instead of poisoning every model's accumulated loss) and
    rows whose fold is null or out of range (skipped)."""
    n, p, seed, nan_rate, weighted, parts = params
    X, y, w = make_matrix(n, p, seed, nan_rate, weighted)
    rng = np.random.default_rng(seed + 2)
    y = np.where(rng.random(n) < 0.2, np.nan, y)  # val target holes
    imput = rng.normal(size=(n_folds, p))
    mu = rng.normal(size=(n_folds, p))
    sd = rng.uniform(0.5, 2.0, size=(n_folds, p))
    y_wmean = rng.normal(size=n_folds)
    B = rng.normal(size=(n_folds, p, n_models))
    tags, fold = fold_tags(rng, n, n_folds)
    sdf = to_sdf(sp, X, y, w, parts, extra={"_fold": tags})
    for metric in ("rmse", "mae"):
        got = _grouped_loss_pass(
            sdf, [f"x{j}" for j in range(p)], "y", "w" if weighted else None,
            "_fold", imput, mu, sd, n_models, _ridge_row_loss(y_wmean, B, metric),
        )
        for f in range(n_folds):
            ok = (fold == f) & np.isfinite(y)
            if not ok.any():
                assert np.isinf(got[f]).all()
                continue
            Xf = np.where(np.isfinite(X[ok]), X[ok], imput[f][None, :])
            Z = (Xf - mu[f][None, :]) / sd[f][None, :]
            R = (y[ok] - y_wmean[f])[:, None] - Z @ B[f]
            L = np.abs(R) if metric == "mae" else R * R
            exp = (w[ok] @ L) / w[ok].sum()
            np.testing.assert_allclose(got[f], exp, rtol=1e-9, atol=1e-12)


@SET
@given(matrix_strategy(), st.integers(min_value=2, max_value=3),
       st.integers(min_value=1, max_value=3), st.integers(min_value=1, max_value=3))
def test_classification_loss_pass_matches_numpy(sp, params, n_classes, n_models, n_folds):
    """The fold-grouped all-models softmax loss pass (logloss + error) vs
    numpy per fold, with NaN-label holes and null/out-of-range folds
    (both skipped)."""
    n, p, seed, nan_rate, weighted, parts = params
    X, _, w = make_matrix(n, p, seed, nan_rate, weighted)
    rng = np.random.default_rng(seed + 3)
    y = rng.integers(0, n_classes, size=n).astype(np.float64)
    y = np.where(rng.random(n) < 0.2, np.nan, y)  # val label holes
    imput = rng.normal(size=(n_folds, p))
    mu = rng.normal(size=(n_folds, p))
    sd = rng.uniform(0.5, 2.0, size=(n_folds, p))
    Ws = rng.normal(size=(n_folds, p, n_models * n_classes))
    bs = rng.normal(size=(n_folds, n_models * n_classes))
    tags, fold = fold_tags(rng, n, n_folds)
    sdf = to_sdf(sp, X, y, w, parts, extra={"_fold": tags})
    for metric in ("logloss", "error"):
        got = _grouped_loss_pass(
            sdf, [f"x{j}" for j in range(p)], "y", "w" if weighted else None,
            "_fold", imput, mu, sd, n_models,
            _softmax_row_loss(Ws, bs, n_classes, metric),
        )
        for f in range(n_folds):
            ok = (fold == f) & np.isfinite(y)
            m = int(ok.sum())
            if not m:
                assert np.isinf(got[f]).all()
                continue
            Xf = np.where(np.isfinite(X[ok]), X[ok], imput[f][None, :])
            Z = (Xf - mu[f][None, :]) / sd[f][None, :]
            S = (Z @ Ws[f] + bs[f][None, :]).reshape(m, n_models, n_classes)
            yi = y[ok].astype(np.int64)
            if metric == "logloss":
                mx = S.max(axis=2, keepdims=True)
                lse = mx[:, :, 0] + np.log(np.exp(S - mx).sum(axis=2))
                L = lse - S[np.arange(m)[:, None], np.arange(n_models)[None, :], yi[:, None]]
            else:
                L = (S.argmax(axis=2) != yi[:, None]).astype(np.float64)
            exp = (w[ok] @ L) / w[ok].sum()
            np.testing.assert_allclose(got[f], exp, rtol=1e-9, atol=1e-12)


@SET
@given(matrix_strategy(), st.integers(min_value=2, max_value=4))
def test_fused_class_stats_match_numpy(sp, params, n_classes):
    """The classification fused kernel: global imputed Gram + per-class
    centered ANOVA blocks (the round-3 advice fix — no raw-sum
    cancellation) vs the naive per-class computation."""
    n, p, seed, nan_rate, weighted, parts = params
    X, _, w = make_matrix(n, p, seed, nan_rate, weighted)
    rng = np.random.default_rng(seed + 4)
    yc = rng.integers(0, n_classes, size=n).astype(np.float64)
    sdf = to_sdf(sp, X, yc, w, parts)
    got = kernels.fused_singlepass_class_stats(
        sdf, [f"x{j}" for j in range(p)], "y", n_classes,
        "w" if weighted else None, quantize_f32=False,
    )
    fin = np.isfinite(X)
    nfin = fin.sum(axis=0)
    m = np.where(nfin > 0, np.where(fin, X, 0.0).sum(axis=0) / np.maximum(nfin, 1), 0.0)
    Xq = np.where(fin, X, m[None, :])
    sw = float(w.sum())
    cw = (w @ Xq) / sw
    Xc = Xq - cw[None, :]
    np.testing.assert_allclose(got["impute_means"], m, rtol=1e-9, atol=1e-9)
    np.testing.assert_allclose(got["col_wmeans"], cw, rtol=1e-9, atol=1e-9)
    np.testing.assert_allclose(got["C"], Xc.T @ (Xc * w[:, None]), rtol=1e-9, atol=1e-9)
    assert float(got["sw"]) == pytest.approx(sw, rel=1e-12)
    for c in range(n_classes):
        sel = yc == c
        np.testing.assert_allclose(
            got["class_w"][c], w[sel].sum(), rtol=1e-9, atol=1e-12
        )
        np.testing.assert_allclose(
            got["B"][c], w[sel] @ Xc[sel] if sel.any() else np.zeros(p),
            rtol=1e-9, atol=1e-9,
        )
        np.testing.assert_allclose(
            got["A"][c], w[sel] @ (Xc[sel] ** 2) if sel.any() else np.zeros(p),
            rtol=1e-9, atol=1e-9,
        )


# ---------------------------------------------------------------------------
# ranged_percentiles vs the JVM `percentile` aggregate (round-5 hardening:
# the newest numerical kernel — tie collapse, binary-search range location,
# NULL handling — exercised on generated distributions instead of the one
# gate fixture)
# ---------------------------------------------------------------------------

def percentile_case_strategy():
    """(n, seed, kind-per-column, n_partitions, quantile-set id).

    kind: 0=continuous, 1=heavy ties (values from a 3-int pool),
    2=constant, 3=all-null, 4=mixed nulls+ties. Three columns, one kind
    each — every example exercises several regimes against the SAME range
    exchange (the tie-skew interaction the round-4 fixes were about).
    """
    return st.tuples(
        st.integers(min_value=1, max_value=60),
        st.integers(min_value=0, max_value=10_000),
        st.tuples(*[st.integers(min_value=0, max_value=4)] * 3),
        st.integers(min_value=1, max_value=4),
        st.integers(min_value=0, max_value=2),
    )


_QSETS = [
    [0.0, 0.25, 0.5, 0.75, 1.0],
    [0.1, 0.5, 0.9],
    [0.37],
]


def _make_percentile_col(rng, n, kind):
    if kind == 0:
        return rng.normal(size=n) * 10.0
    if kind == 1:
        return rng.choice([1.0, 2.0, 7.0], size=n)
    if kind == 2:
        return np.full(n, 3.25)
    if kind == 3:
        return np.full(n, np.nan)
    x = rng.choice([0.0, 5.0, 5.0, 9.0], size=n)
    x[rng.random(n) < 0.3] = np.nan
    return x


@SET
@given(percentile_case_strategy())
def test_ranged_percentiles_match_jvm_percentile(sp, params):
    """f64-exact equality with `percentile(col, array(qs))` — same
    (n-1)*q interpolation, computed as range-partitioned order statistics
    (binning.py ranged_percentiles). NaN in the pandas frame becomes SQL
    NULL, matching the aggregate's null-dropping."""
    import pyspark.sql.functions as F

    from mrmr_spark.select.binning import ranged_percentiles

    n, seed, kinds, parts, qi = params
    rng = np.random.default_rng(seed)
    qs = _QSETS[qi]
    cols = [f"c{j}" for j in range(len(kinds))]
    pdf = pd.DataFrame(
        {c: _make_percentile_col(rng, n, k) for c, k in zip(cols, kinds)}
    )
    sdf = sp.createDataFrame(pdf).repartition(parts)

    got = ranged_percentiles(sdf, cols, qs)

    exp_row = sdf.select(
        *[
            F.percentile(F.col(c), F.array(*[F.lit(q) for q in qs])).alias(c)
            for c in cols
        ]
    ).collect()[0]
    for c, k in zip(cols, kinds):
        exp = exp_row[c]
        if exp is None:  # all-null column -> aggregate returns NULL
            assert np.isnan(got[c]).all()
            continue
        np.testing.assert_array_equal(
            got[c], np.asarray(exp, dtype=np.float64), err_msg=f"{c} kind={k}"
        )
