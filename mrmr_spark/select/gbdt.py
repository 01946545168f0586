"""GBDT wrapper feature selection with Spark ML boosted trees.

Spark-native re-expression of the reference's CatBoost selection tier
(/root/reference/sift/catboost.py:1050-1671 ``catboost_select`` and the
thin wrappers catboost.py:1678-1864): recursive importance-guided search
over a geometric feature-count grid with multi-split held-out evaluation,
leakage-safe per-fold prefiltering, and the 'forward' algorithm shape
(rank once by full-model importance, evaluate count prefixes —
catboost.py algorithm='forward').

CatBoost itself is an optional dependency of the reference and is not in
this runtime; the model here is Spark ML's ``GBTRegressor`` /
``GBTClassifier`` (binary) / ``RandomForestClassifier`` (multiclass —
Spark ML's GBT is binary-only), with split-gain feature importances in
place of SHAP/loss-change (the reference's own 'prediction' importance
tier). Approximate parity tier: selection-set quality is asserted, not
bit-equality — GBDT internals differ across libraries by design
(SURVEY.md §7 hard-point 5).

Search semantics kept from the reference: geometric grid
``p → p·step → p·step² → … → min_features`` (catboost.py:1056-1060),
explicit ``feature_counts`` override, score ``tolerance`` — within
tolerance of the best mean score the SMALLEST count wins (parsimony).
Splits: time holdout via an exact percentile cut, group CV via hash
folds, else a seeded random holdout — the same split machinery as auto-k.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrmr_spark.select.api import SelectionResult
from mrmr_spark.select.preprocess import (
    assert_numeric,
    deterministic_subsample,
    ensure_weight_column,
    factorize_target,
)


def build_feature_counts(
    p: int,
    min_features: int = 5,
    step_function: float = 0.67,
    feature_counts: list[int] | None = None,
) -> list[int]:
    """Geometric count grid, descending (catboost.py:1056-1060)."""
    if feature_counts is not None:
        return sorted({int(c) for c in feature_counts if 1 <= c <= p}, reverse=True)
    counts = []
    c = p
    floor = max(1, min(min_features, p))
    while c > floor:
        counts.append(int(c))
        c = int(np.ceil(c * step_function))
        if counts and c >= counts[-1]:
            c = counts[-1] - 1
    counts.append(floor)
    return sorted(set(counts), reverse=True)


def _fit_model(df, feat_cols, label_col, task, n_classes, n_estimators,
               max_depth, seed, weight_col):
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(
        inputCols=list(feat_cols), outputCol="_vec", handleInvalid="keep"
    ).transform(df)
    kwargs = dict(featuresCol="_vec", labelCol=label_col, maxDepth=max_depth, seed=seed)
    if weight_col:
        kwargs["weightCol"] = weight_col
    if task == "regression":
        from pyspark.ml.regression import GBTRegressor

        est = GBTRegressor(maxIter=n_estimators, **kwargs)
    elif n_classes <= 2:
        from pyspark.ml.classification import GBTClassifier

        est = GBTClassifier(maxIter=n_estimators, **kwargs)
    else:
        from pyspark.ml.classification import RandomForestClassifier

        est = RandomForestClassifier(numTrees=n_estimators, **kwargs)
    return est.fit(vec), vec.schema


def _score(model, df, feat_cols, label_col, task, weight_col):
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(
        inputCols=list(feat_cols), outputCol="_vec", handleInvalid="keep"
    ).transform(df)
    pred = model.transform(vec)
    if task == "regression":
        from pyspark.ml.evaluation import RegressionEvaluator

        ev = RegressionEvaluator(labelCol=label_col, predictionCol="prediction",
                                 metricName="rmse")
    else:
        from pyspark.ml.evaluation import MulticlassClassificationEvaluator

        ev = MulticlassClassificationEvaluator(
            labelCol=label_col, metricName="logLoss",
            probabilityCol="probability",
        )
    if weight_col:
        ev.setWeightCol(weight_col)
    return float(ev.evaluate(pred))


def select_gbdt(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    k: int | None = None,
    *,
    task: str = "regression",
    min_features: int = 5,
    step_function: float = 0.67,
    feature_counts: list[int] | None = None,
    tolerance: float = 0.01,
    n_splits: int = 1,
    test_size: float = 0.25,
    group_col: str | None = None,
    time_col: str | None = None,
    weight_col: str | None = None,
    prefilter_k: int | None = 200,
    n_estimators: int = 40,
    max_depth: int = 5,
    subsample: int | None = 50_000,
    seed: int = 0,
) -> SelectionResult:
    """GBDT importance-guided selection with held-out k search.

    ``k`` given: rank by full-data model importance, return top-k (one
    fit). ``k=None``: search ``build_feature_counts`` by mean held-out
    score (rmse / logloss), smallest count within ``tolerance`` of best.
    """
    assert_numeric(df, feature_cols)
    df, wcol = ensure_weight_column(df, weight_col)
    if subsample is not None and df.count() > subsample:
        df = deterministic_subsample(df, subsample, seed)
    keep = list(feature_cols) + [target_col] + ([wcol] if wcol else []) \
        + ([group_col] if group_col else []) + ([time_col] if time_col else [])
    df = df.select(*dict.fromkeys(keep))
    # Spark ML trees reject NaN/inf vectors (CatBoost ingests NaN natively);
    # mean-impute with the engine's standard finite-mean pass
    from mrmr_spark.select import kernels

    p1 = kernels.moments_singlepass_pass(
        df, feature_cols, None, wcol, quantize_f32=False
    )
    imputed = []
    for j, c in enumerate(feature_cols):
        x = F.col(c).cast("double")
        fin = ~F.isnull(x) & ~F.isnan(x) & (F.abs(x) != float("inf"))
        imputed.append(
            F.when(fin, x).otherwise(F.lit(float(p1["impute_means"][j]))).alias(c)
        )
    others = [c for c in df.columns if c not in feature_cols]
    df = df.select(*imputed, *others).persist()
    try:
        labels = None
        n_classes = 0
        label_col = target_col
        if task == "classification":
            df, labels = factorize_target(df, target_col, "_y_code")
            n_classes = len(labels)
            label_col = "_y_code"

        # fit-cost telemetry: per-fit seconds by stage — model fits dominate
        # the wrapper tier's runtime at scale, so the result metadata shows
        # where the time went (stage, #features, seconds)
        fit_log: list[dict] = []

        def _timed_fit(stage, frame, cols, n_est_, depth_):
            t0 = time.perf_counter()
            m, _ = _fit_model(frame, cols, label_col, task, n_classes,
                              n_est_, depth_, seed, wcol)
            fit_log.append({"stage": stage, "n_features": len(cols),
                            "seconds": round(time.perf_counter() - t0, 3)})
            return m

        def rank_features(frame, cols):
            """Importance ranking on ``frame`` (leakage-safe: per fold)."""
            use = list(cols)
            if prefilter_k is not None and len(use) > prefilter_k:
                # shallow-model prefilter (reference prefilter_method
                # 'catboost': a fast low-depth fit, catboost.py:1068-1069)
                m = _timed_fit("prefilter", frame, use,
                               max(10, n_estimators // 4), 3)
                imp = np.asarray(m.featureImportances.toArray())
                top = np.argsort(-imp)[:prefilter_k]
                use = [use[i] for i in sorted(top)]
            m = _timed_fit("rank", frame, use, n_estimators, max_depth)
            imp = np.asarray(m.featureImportances.toArray())
            order = np.argsort(-imp)
            return [use[i] for i in order], imp[order]

        if k is not None:
            ranked, imp = rank_features(df, feature_cols)
            names = ranked[: min(int(k), len(ranked))]
            rel = np.zeros(len(feature_cols))
            for nm, iv in zip(ranked, imp):
                rel[feature_cols.index(nm)] = iv
            idx = np.array([feature_cols.index(nm) for nm in names], dtype=np.int64)
            return SelectionResult(
                names, idx, rel, list(feature_cols), labels,
                extras={
                    "importance_ranking": ranked,
                    "fit_seconds": fit_log,
                    "total_fit_s": round(sum(d["seconds"] for d in fit_log), 3),
                },
            )

        # --- k search over the geometric grid, multi-split evaluation ----
        def splits():
            if time_col is not None:
                # range-partitioned order statistic (binning.ranged_
                # percentiles), not the value-buffering percentile aggregate
                t = F.col(time_col).cast("double")
                from mrmr_spark.select import binning

                cut = binning.ranged_percentiles(
                    df.select(t.alias("_t_")), ["_t_"], [1 - test_size]
                )["_t_"][0]
                yield df.where(t < float(cut)), df.where(t >= float(cut))
            elif group_col is not None:
                ns = max(2, n_splits)
                fold = F.pmod(F.xxhash64(F.col(group_col), F.lit(seed)), F.lit(ns))
                for f_ in range(min(n_splits, ns)):
                    yield (df.where(fold != f_), df.where(fold == f_))
            else:
                for s in range(n_splits):
                    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns],
                                          F.lit(seed + s)), F.lit(1000))
                    thresh = int(1000 * (1 - test_size))
                    yield df.where(h < thresh), df.where(h >= thresh)

        grid = build_feature_counts(len(feature_cols), min_features,
                                    step_function, feature_counts)
        scores: dict[int, list[float]] = {c: [] for c in grid}
        rank_votes: dict[str, float] = {}
        for train, val in splits():
            ranked, imp = rank_features(train, feature_cols)
            for pos, nm in enumerate(ranked):
                rank_votes[nm] = rank_votes.get(nm, 0.0) + float(imp[pos])
            for c in grid:
                cols_c = ranked[: min(c, len(ranked))]
                m = _timed_fit(f"grid_{c}", train, cols_c,
                               n_estimators, max_depth)
                scores[c].append(_score(m, val, cols_c, label_col, task, wcol))

        mean_scores = {c: float(np.mean(v)) for c, v in scores.items() if v}
        best = min(mean_scores.values())
        chosen = min(c for c, s in mean_scores.items()
                     if s <= best * (1.0 + tolerance) + 1e-12)

        final_ranked = sorted(rank_votes, key=lambda nm: -rank_votes[nm])
        names = final_ranked[:chosen]
        rel = np.zeros(len(feature_cols))
        for nm, v in rank_votes.items():
            rel[feature_cols.index(nm)] = v
        idx = np.array([feature_cols.index(nm) for nm in names], dtype=np.int64)
        return SelectionResult(
            names, idx, rel, list(feature_cols), labels,
            extras={
                "k_scores": mean_scores,
                "chosen_k": chosen,
                "fit_seconds": fit_log,
                "total_fit_s": round(sum(d["seconds"] for d in fit_log), 3),
            },
        )
    finally:
        df.unpersist()


def gbdt_regression(df, feature_cols, target_col, k, **kw) -> list[str]:
    """Thin wrapper mirroring catboost_regression (catboost.py:1678-1774)."""
    return select_gbdt(df, feature_cols, target_col, k, task="regression", **kw).names


def gbdt_classif(df, feature_cols, target_col, k, **kw) -> list[str]:
    """Thin wrapper mirroring catboost_classif (catboost.py:1777-1864)."""
    return select_gbdt(df, feature_cols, target_col, k, task="classification", **kw).names
