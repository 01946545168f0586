import numpy as np
import oracle_sift as oracle
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mrmr_spark.select import select_mrmr
from mrmr_spark.select.autok import AutoKConfig, build_k_grid, select_k_evaluate
from mrmr_spark.select.loops import select_k_elbow


def test_build_k_grid_matches_reference_shape():
    assert build_k_grid(5, 20) == [5, 7, 9, 11, 13, 15, 17, 19, 20]
    g = build_k_grid(5, 100)
    assert g[0] == 5 and g[-1] == 100
    assert 40 in g and 75 in g and 150 not in g


def test_select_k_elbow():
    # strong gains then a plateau from k=6 on
    obj = np.array([1.0, 1.8, 2.4, 2.8, 3.0, 3.02, 3.03, 3.035, 3.04, 3.041])
    k = select_k_elbow(obj, min_k=2, max_k=10, min_rel_gain=0.02, patience=3)
    assert 5 <= k <= 7


@pytest.fixture(scope="module")
def autok_data(spark):
    rng = np.random.default_rng(77)
    n = 1500
    pdf = pd.DataFrame({"grp": np.arange(n) % 25, "t": np.arange(n)})
    for j in range(12):
        pdf[f"x{j}"] = rng.normal(size=n)
    pdf["y"] = 2 * pdf["x0"] + 1.0 * pdf["x1"] + 0.5 * pdf["x2"] + 0.3 * rng.normal(size=n)
    return spark.createDataFrame(pdf).cache()


FEATS = [f"x{j}" for j in range(12)]


def test_auto_k_time_holdout(autok_data):
    cfg = AutoKConfig(k_method="evaluate", strategy="time_holdout", max_k=5, min_k=1)
    res = select_mrmr(
        autok_data, FEATS, "y", "auto", task="regression",
        auto_k_config=cfg, time_col="t",
    )
    assert 2 <= len(res.names) <= 6  # 3 signal features + maybe a stray
    assert {"x0", "x1"}.issubset(set(res.names))


def test_auto_k_group_cv(autok_data):
    cfg = AutoKConfig(k_method="evaluate", strategy="group_cv", max_k=5, min_k=1, n_splits=2)
    res = select_mrmr(
        autok_data, FEATS, "y", "auto", task="regression",
        auto_k_config=cfg, group_col="grp",
    )
    assert {"x0", "x1"}.issubset(set(res.names))
    assert len(res.names) <= 8


def _weighted_with_holes(df):
    """``df`` plus a positive weight column ``w`` and null/NaN holes in two
    features, so the oracle comparisons cover weighting and the train
    split's mean imputation."""
    t = F.col("t")
    return (
        df.withColumn("w", 0.5 + (t % 7) / 4.0)
        .withColumn("x2", F.when(t % 11 == 0, None).otherwise(F.col("x2")))
        .withColumn("x5", F.when(t % 13 == 0, float("nan")).otherwise(F.col("x5")))
    )


def _group_folds(n_splits):
    """The engine's group-CV fold of every row, collected with the data."""
    return F.pmod(F.xxhash64(F.col("grp")), F.lit(n_splits)).alias("_fold")


def _holdout_folds(pdf, val_frac=0.2):
    """Time-holdout folds of the collected rows: 1 at or after the
    (n-1)·q-interpolated percentile cut, as the engine tags them."""
    return (pdf["t"] >= np.percentile(pdf["t"], 100 * (1 - val_frac))).astype(int)


def test_group_cv_shared_scan_matches_per_split_loop(autok_data):
    """Group-CV ridge scores (one fold-keyed fused stats scan; rmse losses
    from the fold accumulators, mae from one fold-grouped loss scan) must
    match the per-split NumPy oracle, weighted and unweighted: the
    leave-one-fold-out Chan merge of per-fold augmented-Gram accumulators
    is algebraically each train split's own statistics."""
    n_splits = 3
    df = _weighted_with_holes(autok_data)
    pdf = df.select(*FEATS, "y", "w", _group_folds(n_splits)).toPandas()
    assert set(pdf["_fold"]) == set(range(n_splits))
    for weight_col in (None, "w"):
        for metric in ("rmse", "mae"):
            cfg = AutoKConfig(strategy="group_cv", metric=metric, min_k=1,
                              max_k=8, n_splits=n_splits)
            _, _, got = select_k_evaluate(
                df, FEATS, "y", cfg, weight_col=weight_col, group_col="grp"
            )
            want = oracle.ridge_fold_cv(
                pdf[FEATS].to_numpy(), pdf["y"].to_numpy(),
                pdf[weight_col].to_numpy() if weight_col else None,
                pdf["_fold"].to_numpy(), range(n_splits), build_k_grid(1, 8),
                metric,
            )
            assert got == pytest.approx(want, rel=1e-9), (weight_col, metric)


def test_classification_group_cv_shared_scan_matches_loop(autok_cls_data):
    """The classification group-CV path (fold-keyed fused stats + one
    shared bounded collect + fold-grouped loss — 2 scans + 1 collect) must
    match the per-split NumPy oracle, weighted and unweighted, when
    n <= fit_subsample (every split then fits on its complete train
    split)."""
    n_splits = 3
    df = _weighted_with_holes(autok_cls_data)
    pdf = df.select(*CLS_FEATS, "y", "w", _group_folds(n_splits)).toPandas()
    assert set(pdf["_fold"]) == set(range(n_splits))
    codes = oracle.factorize_sorted(pdf["y"])
    for weight_col in (None, "w"):
        for metric in ("logloss", "error"):
            cfg = AutoKConfig(strategy="group_cv", metric=metric, min_k=1,
                              max_k=6, n_splits=n_splits)
            _, _, got = select_k_evaluate(
                df, CLS_FEATS, "y", cfg, weight_col=weight_col,
                group_col="grp", task="classification",
            )
            want = oracle.logistic_fold_cv(
                pdf[CLS_FEATS].to_numpy(), codes,
                pdf[weight_col].to_numpy() if weight_col else None,
                pdf["_fold"].to_numpy(), range(n_splits), build_k_grid(1, 6),
                metric, n_classes=3,
            )
            assert got == pytest.approx(want, rel=1e-6), (weight_col, metric)


def test_holdout_null_time_rows_are_dropped(autok_data):
    """Rows with a null time_col must be excluded from both splits (the
    former where(t<cut)/where(t>=cut) semantics) — not crash the Arrow
    mapper with a null fold index."""
    with_nulls = autok_data.withColumn(
        "t_n", F.when(F.col("t") % 7 == 0, None).otherwise(F.col("t"))
    )
    cfg = AutoKConfig(k_method="evaluate", strategy="time_holdout",
                      max_k=5, min_k=1)
    bk_n, _, scores_n = select_k_evaluate(
        with_nulls, FEATS, "y", cfg, time_col="t_n", task="regression"
    )
    bk_f, _, scores_f = select_k_evaluate(
        with_nulls.where(F.col("t_n").isNotNull()), FEATS, "y", cfg,
        time_col="t_n", task="regression",
    )
    assert bk_n == bk_f
    for kk in scores_f:
        assert scores_n[kk] == pytest.approx(scores_f[kk], rel=1e-12)


@pytest.mark.parametrize("task", ["regression", "classification"])
def test_time_holdout_constant_time_raises(autok_data, autok_cls_data, task):
    """A constant time_col puts every row at or after the cut, so the train
    side is empty: a ValueError naming time_col and the cut, not a bare
    ZeroDivisionError from the empty train statistics."""
    df = autok_data if task == "regression" else autok_cls_data
    cfg = AutoKConfig(strategy="time_holdout", max_k=5, min_k=1)
    with pytest.raises(ValueError, match=r"no train rows.*t_const < 7\.0"):
        select_k_evaluate(
            df.withColumn("t_const", F.lit(7)),
            FEATS if task == "regression" else CLS_FEATS, "y", cfg,
            time_col="t_const", task=task,
        )


@pytest.mark.parametrize("val_frac", [1.0, -0.5, 1.5])
def test_time_holdout_rejects_val_frac_out_of_range(autok_cls_data, monkeypatch, val_frac):
    """val_frac outside (0, 1) is a caller bug (1.0 leaves no train rows;
    -0.5 and 1.5 are no fraction of the rows): it must raise a ValueError
    before any Spark job, not fail inside a Python worker or run silently
    (the target factorization and the percentile cut are stubbed to fail
    here)."""
    from mrmr_spark.select import binning, preprocess

    def no_job(*a, **kw):
        raise AssertionError("a Spark job ran before val_frac was checked")

    monkeypatch.setattr(preprocess, "factorize_target", no_job)
    monkeypatch.setattr(binning, "ranged_percentiles", no_job)
    cfg = AutoKConfig(strategy="time_holdout", max_k=5, min_k=1, val_frac=val_frac)
    with pytest.raises(ValueError, match="val_frac"):
        select_k_evaluate(autok_cls_data, CLS_FEATS, "y", cfg, time_col="t",
                          task="classification")


def test_evaluate_raises_on_non_finite_y(autok_data):
    """The shared-scan regression evaluates must enforce the reference's
    y-validation like every other regression backend (select_mrmr raises on
    a NaN y): without the check a single NaN y NaN-poisons the fused Gram,
    every (k, alpha) score goes inf, and select_k_evaluate silently returns
    max_k. The counter is read from the fold accumulators' tail — no extra
    scan."""
    bad = autok_data.withColumn(
        "y_bad", F.when(F.col("t") == 7, float("nan")).otherwise(F.col("y"))
    )
    for strategy, kw in (
        ("time_holdout", {"time_col": "t"}),
        ("group_cv", {"group_col": "grp"}),
    ):
        cfg = AutoKConfig(k_method="evaluate", strategy=strategy,
                          max_k=5, min_k=1, n_splits=2)
        with pytest.raises(ValueError, match="Non-finite values in y"):
            select_k_evaluate(bad, FEATS, "y_bad", cfg, task="regression", **kw)


def test_group_cv_invalid_n_splits_raises(autok_data):
    """n_splits < 2 is a caller bug and must raise — not be silently
    rewritten to 2-fold CV (the pre-scan era raised 'at least 2 groups')."""
    cfg = AutoKConfig(k_method="evaluate", strategy="group_cv",
                      max_k=5, min_k=1, n_splits=1)
    with pytest.raises(ValueError, match="n_splits"):
        select_k_evaluate(
            autok_data, FEATS, "y", cfg, task="regression", group_col="grp"
        )


def test_group_cv_null_group_rows_participate(autok_data):
    """A NULL group is a legitimate group value: its rows must be folded
    (xxhash64 folds null via its seed), not dropped or crash."""
    with_nulls = autok_data.withColumn(
        "g_n", F.when(F.col("grp") % 5 == 0, None).otherwise(F.col("grp"))
    )
    cfg = AutoKConfig(k_method="evaluate", strategy="group_cv",
                      max_k=5, min_k=1, n_splits=3)
    bk, names, scores = select_k_evaluate(
        with_nulls, FEATS, "y", cfg, group_col="g_n", task="regression"
    )
    assert 1 <= bk <= 5 and all(np.isfinite(v) for v in scores.values())


def test_group_cv_tiny_group_count_falls_back_to_round_robin(autok_data):
    """With very few groups, hash folding can collide every group into one
    fold. The scorer must detect this from the fold occupancy (no
    distinct-count pre-scan on the common path) and retry once with an
    exact round-robin group->fold broadcast map instead of raising."""
    # long groups 0/1 with n_splits=5 are a verified xxhash64 collision
    # (both land in one fold), so this deterministically exercises the
    # retry path
    two_grp = autok_data.withColumn("g2", (F.col("grp") % 2).cast("long"))
    assert (
        two_grp.select(
            F.countDistinct(F.pmod(F.xxhash64(F.col("g2")), F.lit(5)))
        ).collect()[0][0] == 1
    ), "fixture no longer collides; pick other group values"
    cfg = AutoKConfig(k_method="evaluate", strategy="group_cv",
                      max_k=5, min_k=1, n_splits=5)
    res = select_mrmr(
        two_grp, FEATS, "y", "auto", task="regression",
        auto_k_config=cfg, group_col="g2",
    )
    assert {"x0", "x1"}.issubset(set(res.names))


def test_evaluate_strategies_kernel_scan_counts(autok_data, monkeypatch):
    """Scan-count regression guard: squared-error evaluate reads the data
    with ONE kernel scan for either strategy (fused fold-keyed stats;
    validation losses follow algebraically from the same accumulators),
    mae with TWO (stats + fold-grouped row-wise loss)."""
    from mrmr_spark.select import kernels

    for strategy, kw, metric, want in (
        ("group_cv", {"group_col": "grp"}, "rmse", 1),
        ("group_cv", {"group_col": "grp"}, "mae", 2),
        ("time_holdout", {"time_col": "t"}, "rmse", 1),
        ("time_holdout", {"time_col": "t"}, "mae", 2),
    ):
        cfg = AutoKConfig(k_method="evaluate", strategy=strategy, max_k=5,
                          min_k=1, n_splits=3, metric=metric)
        monkeypatch.setattr(kernels, "PLAN_LOG", [])
        select_k_evaluate(autok_data, FEATS, "y", cfg, task="regression", **kw)
        assert len(kernels.PLAN_LOG) == want, (strategy, metric, len(kernels.PLAN_LOG))


def test_classification_holdout_shared_scan_matches_loop(autok_cls_data):
    """Classification time holdout is the group-CV evaluator with folds
    {0: train, 1: val} and only fold 1 scored: its scores must match the
    NumPy oracle on the same split, weighted and unweighted (identical fit
    sample: n <= fit_subsample)."""
    df = _weighted_with_holes(autok_cls_data)
    pdf = df.select(*CLS_FEATS, "y", "w", "t").toPandas()
    codes = oracle.factorize_sorted(pdf["y"])
    for weight_col in (None, "w"):
        for metric in ("logloss", "error"):
            cfg = AutoKConfig(strategy="time_holdout", metric=metric,
                              min_k=1, max_k=6)
            _, _, got = select_k_evaluate(
                df, CLS_FEATS, "y", cfg, weight_col=weight_col, time_col="t",
                task="classification",
            )
            want = oracle.logistic_fold_cv(
                pdf[CLS_FEATS].to_numpy(), codes,
                pdf[weight_col].to_numpy() if weight_col else None,
                _holdout_folds(pdf).to_numpy(), [1], build_k_grid(1, 6),
                metric, n_classes=3,
            )
            assert got == pytest.approx(want, rel=1e-6), (weight_col, metric)


def test_time_holdout_shared_scan_matches_split_frames(autok_data):
    """Regression time holdout (one fused stats scan; rmse losses from the
    fold accumulators, mae from one loss scan over the val rows) must match
    the NumPy oracle on the same train/val split, weighted and
    unweighted."""
    df = _weighted_with_holes(autok_data)
    pdf = df.select(*FEATS, "y", "w", "t").toPandas()
    for weight_col in (None, "w"):
        for metric in ("rmse", "mae"):
            cfg = AutoKConfig(strategy="time_holdout", metric=metric,
                              min_k=1, max_k=8)
            _, _, got = select_k_evaluate(
                df, FEATS, "y", cfg, weight_col=weight_col, time_col="t"
            )
            want = oracle.ridge_fold_cv(
                pdf[FEATS].to_numpy(), pdf["y"].to_numpy(),
                pdf[weight_col].to_numpy() if weight_col else None,
                _holdout_folds(pdf).to_numpy(), [1], build_k_grid(1, 8),
                metric,
            )
            assert got == pytest.approx(want, rel=1e-9), (weight_col, metric)


def test_holdout_fit_sample_is_train_side_only(autok_cls_data, monkeypatch):
    """With n > fit_subsample the time-holdout softmax fits share one
    bounded draw from the train side (fold 0) alone: exactly
    fit_subsample rows, every one before the cut."""
    from mrmr_spark.select import autok, preprocess

    draws, fit_rows = [], []
    real_draw, real_fit = preprocess.deterministic_subsample, autok._softmax_fit

    def spy_draw(df, n, seed=0, key_cols=None):
        draws.append(real_draw(df, n, seed, key_cols))
        return draws[-1]

    def spy_fit(Z, y, *a, **kw):
        fit_rows.append(len(y))
        return real_fit(Z, y, *a, **kw)

    monkeypatch.setattr(preprocess, "deterministic_subsample", spy_draw)
    monkeypatch.setattr(autok, "_softmax_fit", spy_fit)
    cfg = AutoKConfig(strategy="time_holdout", metric="logloss", min_k=1,
                      max_k=3, fit_subsample=400)
    select_k_evaluate(autok_cls_data, CLS_FEATS, "y", cfg, time_col="t",
                      task="classification")
    assert len(draws) == 1
    rows = draws[0].select("t", "_fold").collect()
    assert len(rows) == 400
    assert {r["_fold"] for r in rows} == {0}
    assert max(r["t"] for r in rows) < 1200  # the cut is t = 1199.2
    assert fit_rows and set(fit_rows) == {400}


@pytest.fixture(scope="module")
def autok_cls_data(spark):
    rng = np.random.default_rng(31)
    n = 1500
    pdf = pd.DataFrame({"grp": np.arange(n) % 25, "t": np.arange(n)})
    for j in range(10):
        pdf[f"x{j}"] = rng.normal(size=n)
    logit = 1.8 * pdf["x0"] - 1.4 * pdf["x1"] + 0.4 * rng.normal(size=n)
    pdf["y"] = np.where(logit > 0.8, "hi", np.where(logit < -0.8, "lo", "mid"))
    return spark.createDataFrame(pdf).cache()


CLS_FEATS = [f"x{j}" for j in range(10)]


def test_auto_k_classification_logloss(autok_cls_data):
    cfg = AutoKConfig(
        k_method="evaluate", strategy="time_holdout", metric="logloss",
        max_k=5, min_k=1,
    )
    res = select_mrmr(
        autok_cls_data, CLS_FEATS, "y", "auto", task="classification",
        auto_k_config=cfg, time_col="t",
    )
    assert {"x0", "x1"}.issubset(set(res.names))
    assert len(res.names) <= 6  # 2 signal features; noise should not help
    scores = res.extras["auto_k_scores"]
    # logloss at the best k beats the largest (noise-padded) k or ties
    assert min(scores.values()) <= scores[max(scores)] + 1e-9


def test_auto_k_classification_error_group_cv(autok_cls_data):
    cfg = AutoKConfig(
        k_method="evaluate", strategy="group_cv", metric="error",
        max_k=5, min_k=1, n_splits=2,
    )
    res = select_mrmr(
        autok_cls_data, CLS_FEATS, "y", "auto", task="classification",
        auto_k_config=cfg, group_col="grp",
    )
    assert {"x0", "x1"}.issubset(set(res.names))
    scores = res.extras["auto_k_scores"]
    assert all(0.0 <= v <= 1.0 for v in scores.values())
    # the 2-signal model must clearly beat majority-class guessing (~0.55)
    assert min(scores.values()) < 0.35


def test_auto_k_metric_validation(autok_data, autok_cls_data):
    from mrmr_spark.select.autok import resolve_metric

    assert resolve_metric("auto", "regression") == "rmse"
    assert resolve_metric("auto", "classification") == "logloss"
    with pytest.raises(ValueError, match="invalid for task='regression'"):
        resolve_metric("logloss", "regression")
    with pytest.raises(ValueError, match="invalid for task='classification'"):
        resolve_metric("rmse", "classification")


def test_softmax_fit_matches_closed_form_separable():
    # sanity: on a linearly separable 2-class problem the fitted decision
    # boundary must classify training data correctly and logits must align
    # with the generating direction
    from mrmr_spark.select.autok import _softmax_fit

    rng = np.random.default_rng(5)
    n = 800
    Z = rng.normal(size=(n, 4))
    y = (Z[:, 0] - 0.5 * Z[:, 1] > 0).astype(np.int64)
    W, b = _softmax_fit(Z, y, 2, None, lam=1.0 / n)
    margin = Z @ (W[:, 1] - W[:, 0]) + (b[1] - b[0])
    assert np.mean((margin > 0) == (y == 1)) > 0.97
    d = W[:, 1] - W[:, 0]
    assert d[0] > 0 and d[1] < 0 and abs(d[0]) > abs(d[2]) and abs(d[0]) > abs(d[3])


def _fold_column(rng, n, n_folds):
    """Fold tags 0..n_folds-1 plus out-of-range tags (-1 and n_folds) and
    nulls: the grouped loss passes must skip the last three."""
    fold = rng.integers(-1, n_folds + 1, size=n)
    null = rng.random(n) < 0.05
    tags = pd.array([None if z else int(f) for f, z in zip(fold, null)], dtype="Int64")
    return tags, np.where(null, -1, fold)


def test_regression_loss_pass_parity(spark):
    """The fold-grouped Arrow loss pass must equal the driver-side numpy
    loss of every fold (same impute/standardize/GEMM algebra, float64),
    skipping rows with a NaN target, a null fold or an out-of-range
    fold."""
    from mrmr_spark.select.autok import _grouped_loss_pass, _ridge_row_loss

    rng = np.random.default_rng(11)
    n, p, M, S = 400, 6, 9, 3
    X = rng.normal(size=(n, p))
    X[rng.random(size=(n, p)) < 0.05] = np.nan
    y = rng.normal(size=n)
    y[rng.random(size=n) < 0.1] = np.nan
    w = rng.uniform(0.5, 2.0, size=n)
    cols = [f"x{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"], pdf["w"] = y, w
    pdf["fold"], fold = _fold_column(rng, n, S)
    df = spark.createDataFrame(pdf).repartition(7)

    imput = rng.normal(size=(S, p))
    mu = rng.normal(size=(S, p))
    sd = rng.uniform(0.5, 2.0, size=(S, p))
    ym = rng.normal(size=S)
    B = rng.normal(size=(S, p, M))

    for metric in ("rmse", "mae"):
        got = _grouped_loss_pass(
            df, cols, "y", "w", "fold", imput, mu, sd, M, _ridge_row_loss(ym, B, metric)
        )
        assert got.shape == (S, M)
        for f in range(S):
            sel = (fold == f) & np.isfinite(y)
            Z = (np.where(np.isfinite(X[sel]), X[sel], imput[f]) - mu[f]) / sd[f]
            R = (y[sel] - ym[f])[:, None] - Z @ B[f]
            L = np.abs(R) if metric == "mae" else R * R
            np.testing.assert_allclose(got[f], (w[sel] @ L) / w[sel].sum(), rtol=1e-12)


def test_classification_loss_pass_parity(spark):
    from mrmr_spark.select.autok import _grouped_loss_pass, _softmax_row_loss

    rng = np.random.default_rng(12)
    n, p, M, C, S = 300, 5, 4, 3, 3
    X = rng.normal(size=(n, p))
    y = rng.integers(0, C, size=n).astype(float)
    y[rng.random(size=n) < 0.1] = np.nan
    w = rng.uniform(0.5, 2.0, size=n)
    cols = [f"x{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["yc"], pdf["w"] = y, w
    pdf["fold"], fold = _fold_column(rng, n, S)
    df = spark.createDataFrame(pdf).repartition(5)

    imput = np.zeros((S, p))
    mu = rng.normal(size=(S, p))
    sd = rng.uniform(0.5, 2.0, size=(S, p))
    Ws = rng.normal(size=(S, p, M * C))
    bs = rng.normal(size=(S, M * C))

    got_ll, got_er = (
        _grouped_loss_pass(df, cols, "yc", "w", "fold", imput, mu, sd, M,
                           _softmax_row_loss(Ws, bs, C, metric))
        for metric in ("logloss", "error")
    )
    for f in range(S):
        sel = (fold == f) & np.isfinite(y)
        yi = y[sel].astype(np.int64)
        m = int(sel.sum())
        Z = (X[sel] - mu[f]) / sd[f]
        Sc = (Z @ Ws[f] + bs[f][None, :]).reshape(m, M, C)
        mx = Sc.max(axis=2, keepdims=True)
        lse = mx[:, :, 0] + np.log(np.exp(Sc - mx).sum(axis=2))
        sy = Sc[np.arange(m)[:, None], np.arange(M)[None, :], yi[:, None]]
        ws = w[sel]
        np.testing.assert_allclose(got_ll[f], (ws @ (lse - sy)) / ws.sum(), rtol=1e-12)
        want_er = (ws @ (Sc.argmax(axis=2) != yi[:, None]).astype(float)) / ws.sum()
        np.testing.assert_allclose(got_er[f], want_er, rtol=1e-12)


def test_auto_k_wide_path_no_codegen_cliff(spark):
    """Round-2 verdict #1: at the default max_k=100 the evaluate path must
    not build |k_grid|x|alphas| aggregate expressions of up to 100 terms
    each (the measured Spark codegen-compile cliff); the Arrow GEMM loss
    pass keeps JVM expression width O(p) regardless of the k grid."""
    rng = np.random.default_rng(3)
    n, p = 800, 100
    pdf = pd.DataFrame({f"x{j}": rng.normal(size=n) for j in range(p)})
    pdf["t"] = np.arange(n).astype(float)
    pdf["y"] = 3 * pdf["x0"] - 2 * pdf["x1"] + 0.5 * rng.normal(size=n)
    df = spark.createDataFrame(pdf)

    path = [f"x{j}" for j in range(p)]
    cfg = AutoKConfig(max_k=100, min_k=5)
    best_k, sel, scores = select_k_evaluate(df, path, "y", cfg, time_col="t")
    assert set(scores) == set(build_k_grid(5, 100))
    assert all(np.isfinite(v) for v in scores.values())
    # signal features lead the path: a small prefix must win over the
    # noise-padded k=100 model
    assert best_k < 100 and scores[best_k] <= scores[100]


def test_auto_k_gaussian_elbow(autok_data):
    cfg = AutoKConfig(k_method="elbow", max_k=10, min_k=2)
    res = select_mrmr(
        autok_data, FEATS, "y", "auto", task="regression",
        estimator="gaussian", auto_k_config=cfg, subsample=None,
    )
    assert {"x0", "x1"}.issubset(set(res.names[:4]))
    assert len(res.names) <= 10
