"""Relevance estimators (SURVEY.md §2.C) — distributed reductions + tiny
driver formulas.

Each estimator is ONE full-scan Arrow reduction (all p columns in a single
pass, float64 accumulation) followed by closed-form driver math. The
formulas and every numerical guard replicate the reference exactly:

- f_regression (relevance.py:12-54): weighted Pearson r per column,
  F = r²/(1−r²)·(Σw − 2), r² clipped at 0.99999, zero-variance → 0.
- f_classif (relevance.py:57-107): weighted one-way ANOVA,
  F = (SSB/(C−1)) / (SSW/(Σw − C)), guards on dfs and SSW < 1e-12.
- ks_classif (relevance.py:110-131): mean one-vs-rest two-sample KS —
  NOTE the reference ignores sample weights here; so do we.
- rf relevance (relevance.py:134-161): random-forest impurity importances
  (approximate tier: Spark ML RF, not sklearn — set-level parity only).

The driver algebra that finishes the scans lives here once and is shared
with ``cache`` and ``autok``: the F-score (``_f_scores``), the
standardization of a centered imputed Gram into stds, R and r_y
(``_standardized_corr``, ``_weighted_stds``) and the non-finite-y check
(``_require_finite_y``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrmr_spark.select import kernels


def _require_finite_y(n_nonfinite: float) -> None:
    """Reference y-validation (/root/reference/sift/_preprocess.py:199-201)
    from a non-finite-y count that rides an existing scan (the gaussian
    path counts it with one small aggregate over its persisted cache
    source). Without it a non-finite y would NaN-poison every score
    (silently empty selection) or, through the copula, be ranked as an
    ordinary value."""
    if float(n_nonfinite) > 0:
        raise ValueError("Non-finite values in y are not allowed for regression.")


def _f_scores(x_ss: np.ndarray, xy: np.ndarray, y_ss: float, sw) -> np.ndarray:
    """f_regression from centered moments: weighted Pearson r per column,
    F = r²/(1−r²)·(Σw − 2), r² clipped at 0.99999, zero-variance → 0."""
    scores = np.zeros(len(x_ss), dtype=np.float64)
    ok = (x_ss >= 1e-12) & (y_ss >= 1e-12)
    r = np.zeros_like(scores)
    # errstate: an empty frame (sw = 0) degrades to nan statistics by
    # design — silence only the intended invalid/zero divides
    with np.errstate(invalid="ignore", divide="ignore"):
        r[ok] = xy[ok] / np.sqrt(x_ss[ok] * y_ss)
        r2 = np.minimum(r * r, 0.99999)
        scores[ok] = (r2[ok] / (1.0 - r2[ok])) * (sw - 2.0)
    return scores


def _weighted_stds(ss, sw):
    """Weighted std ``sqrt(ss/Σw)`` per column (or of one scalar sum of
    squares); 1 where the variance is ≤ 1e-12, so a constant column is
    left unscaled."""
    with np.errstate(invalid="ignore", divide="ignore"):  # sw=0 nan-degrade
        var = ss / sw
        return np.where(var > 1e-12, np.sqrt(var), 1.0)


def _standardized_corr(C: np.ndarray, sw, c_y=None, y_ss=None) -> dict:
    """Standardization of a centered imputed Gram (z = (x−μ)/σ): the
    weighted stds from its diagonal and ``R = ½(C+Cᵀ)/(σσᵀ·Σw)``; given
    the y-covariances ``c_y`` and y's sum of squares, also ``y_wstd`` and
    the feature↔target correlations ``r_y``."""
    wstds = _weighted_stds(np.diag(C), sw)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = {"wstds": wstds, "R": 0.5 * (C + C.T) / (np.outer(wstds, wstds) * sw)}
        if c_y is not None:
            out["y_wstd"] = float(_weighted_stds(y_ss, sw))
            out["r_y"] = c_y / (wstds * out["y_wstd"] * sw)
    return out


def f_regression_scores(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    weight_col: str | None = None,
    quantize_f32: bool = True,
) -> dict:
    """Returns {'scores', 'sw', 'wmeans', 'wstds', 'impute_means', ...}
    from ONE O(p)-accumulator Arrow scan (kernels.moments_singlepass_pass)
    — the moments are reused by the Gram pass so the full classic-mRMR
    pipeline costs exactly 2 scans."""
    p1 = kernels.moments_singlepass_pass(
        df, feature_cols, y_col, weight_col, quantize_f32
    )
    _require_finite_y(p1["y_nonfinite"])
    sw = p1["sw"]
    with np.errstate(invalid="ignore", divide="ignore"):  # sw=0 nan-degrade
        y_wmean = p1["wy"] / sw
    return {
        "scores": _f_scores(p1["x_ss"], p1["xy_cov"], p1["y_ss"], sw),
        "sw": sw,
        "wmeans": p1["col_wmeans"],
        "wstds": _weighted_stds(p1["x_ss"], sw),
        "impute_means": p1["impute_means"],
        "y_wmean": y_wmean,
        "y_wstd": float(_weighted_stds(p1["y_ss"], sw)),
        "x_ss_unw": p1["x_ss_unw"],
        "n": p1["n"],
        "pass1": p1,
    }


def fused_regression_stats(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    weight_col: str | None = None,
    quantize_f32: bool = True,
    single_pass: bool = False,
) -> dict:
    """Fused fast path for small/medium p (regression). Returns relevance
    scores AND the full correlation matrix + target-correlation vector —
    everything classic mRMR / JMI-r2 needs.

    Two plans computing the same statistics (parity-tested against each
    other at float64 rounding):

    - ``single_pass=False``: pass 1 = the O(p) Arrow moments scan
      (kernels.moments_singlepass_pass), pass 2 = the Arrow centered Gram
      scan (kernels.gram_pass) — the two-scan parity reference; the
      selection API does not run it.
    - ``single_pass=True``: ONE ``mapInArrow`` scan — the augmented
      accumulator of ``kernels.fused_foldwise_stats`` with a single
      literal fold, the plan ``select_mrmr``/``select_jmi`` run. NO
      persist needed. Halves memory traffic: the columnar cache encode it
      avoids is the dominant phase of the e2e pipeline at scale.
    """
    if single_pass:
        accs = kernels.fused_foldwise_stats(
            df, feature_cols, y_col, F.lit(0), 1, weight_col, quantize_f32
        )
        p1 = kernels._finish_fused_acc(accs[0], len(feature_cols), quantize_f32)
        C, c_y, y_ss, y_wmean = p1["C"], p1["c_y"], p1["c_yy"], p1["y_wmean"]
    else:
        p1 = kernels.moments_singlepass_pass(
            df, feature_cols, y_col, weight_col, quantize_f32
        )
        y_wmean = p1["wy"] / p1["sw"]
        cg = kernels.gram_pass(
            df, feature_cols, weight_col, p1["impute_means"], p1["col_wmeans"],
            np.ones(len(feature_cols)), y_col=y_col, y_wmean=y_wmean,
            quantize_f32=quantize_f32, clip=None, normalize=False,
        )
        C, c_y, y_ss = cg["C"], cg["c_y"], cg["c_yy"]

    _require_finite_y(p1["y_nonfinite"])
    sw = p1["sw"]
    std = _standardized_corr(C, sw, c_y, y_ss)
    return {
        "scores": _f_scores(np.diag(C), c_y, y_ss, sw),
        "sw": sw,
        "wmeans": p1["col_wmeans"],
        "wstds": std["wstds"],
        "impute_means": p1["impute_means"],
        "y_wmean": y_wmean,
        "y_wstd": std["y_wstd"],
        "n": p1["n"],
        "R": std["R"],
        "r_y": std["r_y"],
        "pass1": p1,
    }


def _anova_f_from_moments(
    A: np.ndarray, B: np.ndarray, class_w: np.ndarray, sw: float, n_classes: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Weighted one-way ANOVA F from per-class centered moments (reference
    relevance.py:57-107 algebra) → (scores, ss_between, ss_within)."""
    live = class_w >= 1e-12
    wc = np.where(live, class_w, 1.0)[:, None]
    ss_between = ((B * B) / wc * live[:, None]).sum(axis=0)
    ss_within = ((A - (B * B) / wc) * live[:, None]).sum(axis=0)

    df_between = n_classes - 1
    df_within = sw - n_classes
    scores = np.zeros(A.shape[1], dtype=np.float64)
    if df_within > 0 and df_between > 0:
        ok = ss_within >= 1e-12
        scores[ok] = (ss_between[ok] / df_between) / (ss_within[ok] / df_within)
    return scores, ss_between, ss_within


def fused_classification_stats(
    df: DataFrame,
    feature_cols: list[str],
    ycode_col: str,
    n_classes: int,
    weight_col: str | None = None,
    quantize_f32: bool = True,
) -> dict:
    """Fused classification statistics: ONE Arrow scan
    (kernels.fused_singlepass_class_stats) yields the weighted-ANOVA F
    relevance AND the full |corr| redundancy matrix — the classification
    counterpart of ``fused_regression_stats(single_pass=True)``, run by
    ``select_mrmr`` up to ``FUSED_REGRESSION_MAX_P`` features. Statistic
    parity at float64 rounding with the wide route's class-moments scan
    (:func:`f_classif_scores`) plus candidate Gram."""
    st = kernels.fused_singlepass_class_stats(
        df, feature_cols, ycode_col, n_classes, weight_col, quantize_f32
    )
    sw = st["sw"]
    scores, _, _ = _anova_f_from_moments(
        st["A"], st["B"], st["class_w"], sw, n_classes
    )
    std = _standardized_corr(st["C"], sw)
    return {
        "scores": scores,
        "sw": sw,
        "wmeans": st["col_wmeans"],
        "wstds": std["wstds"],
        "impute_means": st["impute_means"],
        "n": st["n"],
        "R": std["R"],
        "class_w": st["class_w"],
    }


def f_classif_scores(
    df: DataFrame,
    feature_cols: list[str],
    ycode_col: str,
    n_classes: int,
    weight_col: str | None = None,
    quantize_f32: bool = True,
) -> dict:
    """Weighted-ANOVA F relevance from ONE O(C·p)-accumulator Arrow scan
    (kernels.class_moments_singlepass_pass)."""
    cm = kernels.class_moments_singlepass_pass(
        df, feature_cols, ycode_col, n_classes, weight_col, quantize_f32
    )
    sw = cm["sw"]
    A, B, class_w = cm["A"], cm["B"], cm["class_w"]  # (C,p),(C,p),(C,)

    scores, ss_between, ss_within = _anova_f_from_moments(
        A, B, class_w, sw, n_classes
    )

    return {
        "scores": scores,
        "sw": sw,
        "wmeans": cm["col_wmeans"],
        # weighted std for downstream standardization: total SS = SSB + SSW
        "wstds": _weighted_stds(ss_between + ss_within, sw),
        "impute_means": cm["impute_means"],
        "n": cm["n"],
        "pass1": cm,
    }


def _imputed_quantized(c: str, mean: float, quantize_f32: bool):
    col = F.col(c).cast("double")
    fin = ~F.isnull(col) & ~F.isnan(col) & (F.abs(col) != float("inf"))
    v = F.when(fin, col).otherwise(F.lit(float(mean)))
    return v.cast("float").cast("double") if quantize_f32 else v


def ks_classif_scores(
    df: DataFrame,
    feature_cols: list[str],
    ycode_col: str,
    n_classes: int,
    impute_means: np.ndarray,
    quantize_f32: bool = True,
) -> np.ndarray:
    """Mean one-vs-rest two-sample KS statistic per feature (C3; reference
    /root/reference/sift/estimators/relevance.py:110-131 — ks_2samp is
    UNWEIGHTED there, classes with <2 members are skipped, and the score is
    the mean over tested classes).

    Spark plan (scipy-free): melt the p imputed columns into (fid, x) rows
    with one generator projection → ONE groupBy (fid, x) with C conditional
    counts → **range-partitioned two-phase cumulative counts** → per-class
    max ECDF gap → a tiny (p × C) collect; the class mean is driver math.

    The cumulative sum is the scale-critical step. A plain
    ``Window.partitionBy(fid).orderBy(x)`` funnels each feature's entire
    distinct-value set through ONE task (the round-2 verdict's
    scale-killer at ``subsample=None``). Instead: ``repartitionByRange``
    on (fid, x) splits every feature's value range across tasks; per-range
    class totals (a tiny #partitions × p frame) are prefix-summed over the
    range ids and broadcast back as offsets, so the in-range window
    partitions by (range, fid) — bounded by partition size regardless of
    per-feature cardinality.

    Cost note (``subsample=None``): the melt materializes n × p rows
    before the (fid, x) groupBy collapses them to distinct values — that
    shuffle volume is INHERENT to the exact global ECDF (every feature's
    full value multiset must be co-sorted somewhere). It is fully parallel
    (no per-feature funnel) but at 10¹² rows × 100s of features it is a
    multi-PB exchange; prefer the reference's own bounded-subsample
    default (50k rows) for KS relevance and reserve ``subsample=None``
    for low-cardinality/heavily-duplicated features where the groupBy
    collapses early via partial aggregation.
    """
    from pyspark.sql.window import Window

    cls = {int(r[0]): float(r[1]) for r in df.groupBy(ycode_col).count().collect()}
    n_tot = sum(cls.values())
    n_c = np.array([cls.get(c, 0.0) for c in range(n_classes)])

    melted = df.select(
        F.col(ycode_col).cast("int").alias("_yc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("fid"),
                        _imputed_quantized(c, impute_means[j], quantize_f32).alias("x"),
                    )
                    for j, c in enumerate(feature_cols)
                ]
            )
        ).alias("fx"),
    ).select(F.col("fx.fid").alias("_fid"), F.col("fx.x").alias("_x"), "_yc")

    counts = melted.groupBy("_fid", "_x").agg(
        *[
            F.count(F.when(F.col("_yc") == c, F.lit(1))).alias(f"n{c}")
            for c in range(n_classes)
        ]
    )
    # phase 1: deterministic range ids; persisted so the range sampling is
    # evaluated once and the totals/offsets join sees the same ids
    ranged = (
        counts.repartitionByRange("_fid", "_x")
        .withColumn("_rid", F.spark_partition_id())
        .persist()
    )
    # materialize BEFORE both consumers read it: the offsets aggregate and
    # the probe join must see ONE _rid assignment. If the cache were lazy
    # and a block got lost, the range exchange could re-sample boundaries
    # and assign different rids per consumer, silently corrupting the
    # cumulative ECDF (same pin rule as copula.rank_gauss_transform).
    ranged.count()
    wo = Window.partitionBy("_fid").orderBy("_rid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranged.groupBy("_rid", "_fid")
        .agg(*[F.sum(f"n{c}").alias(f"t{c}") for c in range(n_classes)])
        .select(
            "_rid",
            "_fid",
            *[
                F.coalesce(F.sum(f"t{c}").over(wo), F.lit(0)).alias(f"o{c}")
                for c in range(n_classes)
            ],
        )
    )
    counts = ranged.join(F.broadcast(offsets), ["_rid", "_fid"])
    # phase 2: in-range cumulative counts + the cross-range offset — group
    # sizes bounded by the range-partition size, never one-task-per-feature
    w = Window.partitionBy("_rid", "_fid").orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = [F.sum(f"n{c}").over(w) + F.col(f"o{c}") for c in range(n_classes)]
    cum_tot = sum(cum[1:], cum[0]) if n_classes > 1 else cum[0]
    gaps = []
    for c in range(n_classes):
        if n_c[c] < 2 or n_tot - n_c[c] < 1:
            gaps.append(F.lit(0.0).alias(f"g{c}"))
            continue
        ecdf_c = cum[c] / F.lit(float(n_c[c]))
        ecdf_rest = (cum_tot - cum[c]) / F.lit(float(n_tot - n_c[c]))
        gaps.append(F.abs(ecdf_c - ecdf_rest).alias(f"g{c}"))
    per_fid = (
        counts.select("_fid", *gaps)
        .groupBy("_fid")
        .agg(*[F.max(f"g{c}").alias(f"g{c}") for c in range(n_classes)])
        .collect()
    )
    ranged.unpersist()

    tested = [c for c in range(n_classes) if n_c[c] >= 2 and n_tot - n_c[c] >= 1]
    scores = np.zeros(len(feature_cols), dtype=np.float64)
    for row in per_fid:
        j = int(row["_fid"])
        ks_sum = sum(float(row[f"g{c}"]) for c in tested)
        scores[j] = ks_sum / max(len(tested), 1)
    return scores


def rf_relevance_scores(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    task: str,
    impute_means: np.ndarray,
    weight_col: str | None = None,
    quantize_f32: bool = True,
    n_estimators: int = 100,
    max_depth: int = 5,
    seed: int = 0,
) -> np.ndarray:
    """Random-forest impurity importances as relevance (C4; reference
    /root/reference/sift/estimators/relevance.py:134-161: sklearn RF with
    max_depth=5, n_estimators=100, random_state=0, sample_weight=w).

    Approximate tier (SURVEY.md §7 hard-point 5): Spark ML's
    ``featureImportances`` is the same normalized impurity-importance
    definition but the tree builder differs (bin-based splits, different
    RNG), so the parity target is top-set overlap, not allclose.
    featureSubsetStrategy mirrors sklearn defaults: all features for
    regression, sqrt for classification.
    """
    from pyspark.ml.feature import VectorAssembler

    proj = df.select(
        *[
            _imputed_quantized(c, impute_means[j], quantize_f32).alias(c)
            for j, c in enumerate(feature_cols)
        ],
        F.col(label_col).cast("double").alias("_label"),
        *([F.col(weight_col).alias("_w")] if weight_col else []),
    )
    vec = VectorAssembler(
        inputCols=feature_cols, outputCol="_vec", handleInvalid="keep"
    ).transform(proj)
    kwargs = dict(
        featuresCol="_vec",
        labelCol="_label",
        numTrees=n_estimators,
        maxDepth=max_depth,
        seed=seed,
        subsamplingRate=1.0,
    )
    if weight_col:
        kwargs["weightCol"] = "_w"
    if task == "classification":
        from pyspark.ml.classification import RandomForestClassifier

        model = RandomForestClassifier(featureSubsetStrategy="sqrt", **kwargs).fit(vec)
    else:
        from pyspark.ml.regression import RandomForestRegressor

        model = RandomForestRegressor(featureSubsetStrategy="all", **kwargs).fit(vec)
    return np.asarray(model.featureImportances.toArray(), dtype=np.float64)
