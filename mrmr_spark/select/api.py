"""User-facing selection API over Spark DataFrames (SURVEY.md §2.F, §3).

Mirrors the reference's entry points (``select_mrmr`` / ``select_jmi`` /
``select_cefsplus``, /root/reference/sift/api.py:231-983) with a DataFrame
in place of the pandas matrix:

    result = select_mrmr(df, feature_cols, target_col, k=10,
                         task="regression")
    result.names  # ranked selected features

Spark lifecycle per call (SURVEY.md §3.1): pass 1 imputation/means scan,
pass 2 centered-moment scan (→ relevance, driver), pass 3 Gram block
reduction on the top_m candidates (→ redundancy matrix, driver), greedy loop
on the driver. No shuffle anywhere except the aggregations' partial→final
exchanges; communication is O(p) + O(top_m²) doubles.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrmr_spark.select import binning, kernels, loops
from mrmr_spark.select import relevance as rel_est
from mrmr_spark.select.preprocess import (
    assert_numeric,
    deterministic_subsample,
    ensure_weight_column,
    factorize_target,
    private_plan,
)


@dataclass
class SelectionResult:
    names: list[str]
    indices: np.ndarray
    relevance: np.ndarray  # full-length relevance vector (input col order)
    feature_cols: list[str]
    labels: list | None = None
    extras: dict = field(default_factory=dict)

    def ranking_df(self, spark):
        rows = [
            (i + 1, n, float(self.relevance[self.indices[i]]))
            for i, n in enumerate(self.names)
        ]
        return spark.createDataFrame(rows, "rank int, feature string, relevance double")


def _default_top_m(top_m: int | None, k: int) -> int:
    tm = max(5 * k, 250) if top_m is None else int(top_m)
    return max(tm, int(k))


def _prefilter(rel: np.ndarray, k: int, top_m: int | None):
    """rel>0 validity filter + argpartition top_m prefilter
    (loops.py:131-146) — preserves the reference's candidate ORDER, which
    defines tie behavior downstream."""
    valid_idx = np.where(rel > 0)[0]
    if valid_idx.size == 0:
        return np.empty(0, dtype=np.int64)
    rel_valid = rel[valid_idx]
    tm = _default_top_m(top_m, k)
    if tm < valid_idx.size:
        top_local = np.argpartition(rel_valid, -tm)[-tm:]
        return valid_idx[top_local]
    return valid_idx


def _check_option(name: str, value, allowed: tuple) -> None:
    """Reject a misspelled option before any Spark job runs: an unknown
    value would otherwise fall through to some default branch and run the
    wrong method without a word."""
    if value not in allowed:
        raise ValueError(
            f"Unknown {name}: {value!r}. Valid options: {list(allowed)}"
        )


def _maybe_subsample(df, subsample, seed, key_cols=None):
    """Returns ``(df, sampled)`` — callers deciding persist need to know
    whether the lineage is now a global sort-limit (re-executing it per
    scan would double full-source reads for a ~subsample-row cache)."""
    if subsample is None:
        return df, False
    n = df.count()
    if n <= subsample:
        return df, False
    return deterministic_subsample(df, subsample, seed, key_cols), True


#: widest feature set served by the fused regression fast path (one scan
#: computes the FULL (p+1)² augmented Gram — relevance, redundancy and
#: imputation in a single reduction). Communication is O(p²) doubles per
#: partition, so the bound caps accumulator size; beyond it the general
#: path prefilters candidates by relevance before the Gram. Round-3
#: measurement at p=40 (rich FE mode, 1.09M rows): fused single-pass
#: 2.97 s vs the general path's 9.78 s, identical selections.
FUSED_REGRESSION_MAX_P = 64


def select_mrmr(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    k,
    *,
    task: str = "regression",
    weight_col: str | None = None,
    relevance: str = "f",
    estimator: str = "classic",
    formula: str = "quotient",
    top_m: int | None = None,
    subsample: int | None = 50_000,
    seed: int = 0,
    quantize_f32: bool = True,
    auto_k_config=None,
    group_col: str | None = None,
    time_col: str | None = None,
    single_pass: bool | None = None,
) -> SelectionResult:
    """Minimum-Redundancy-Maximum-Relevance over a Spark DataFrame.

    classic: relevance estimator per ``relevance`` + |Pearson| redundancy
    (api.py:412-463). relevance ∈ {'f','rf'} for regression,
    {'f','ks','rf'} for classification (reference dispatch api.py:340-346).
    gaussian: copula-MI relevance + Gaussian-MI redundancy — see
    mrmr_spark.select.cache.select_cached (regression only).
    k="auto": build the path to max_k, then pick k by elbow (gaussian
    objective) or held-out evaluation (closed-form ridge; api.py:283-374).
    """
    _valid_rel = {"regression": ("f", "rf"), "classification": ("f", "ks", "rf")}
    _check_option("task", task, tuple(_valid_rel))
    if relevance not in _valid_rel[task]:
        raise ValueError(
            f"relevance='{relevance}' not valid for task='{task}'. "
            f"Valid options: {sorted(_valid_rel[task])}"
        )
    _check_option("estimator", estimator, ("classic", "gaussian"))
    _check_option("formula", formula, ("quotient", "difference"))
    if estimator == "gaussian" and task != "regression":
        raise ValueError("estimator='gaussian' is regression-only; use 'classic'.")
    if k == "auto":
        from mrmr_spark.select.autok import AutoKConfig, check_config, select_k_evaluate

        cfg = auto_k_config or AutoKConfig(
            strategy="time_holdout" if time_col else "group_cv"
        )
        if estimator == "gaussian" and cfg.k_method == "elbow":
            from mrmr_spark.select.cache import build_cache, select_cached

            cache = build_cache(df, feature_cols, weight_col=weight_col,
                                subsample=subsample, seed=seed)
            method = "mrmr_quot" if formula == "quotient" else "mrmr_diff"
            try:
                res = select_cached(cache, target_col, cfg.max_k, method=method,
                                    top_m=top_m, return_objective=True)
            finally:
                cache.unpersist()
            kk = loops.select_k_elbow(
                res.extras["objective"], cfg.min_k, len(res.names),
                cfg.elbow_min_rel_gain, cfg.elbow_patience,
            )
            res.names = res.names[:kk]
            res.indices = res.indices[:kk]
            return res
        check_config(cfg, task, group_col, time_col)
        res = select_mrmr(
            df, feature_cols, target_col, cfg.max_k, task=task,
            weight_col=weight_col, relevance=relevance, estimator=estimator,
            formula=formula, top_m=top_m, subsample=subsample, seed=seed,
            quantize_f32=quantize_f32,
        )
        best_k, names, scores = select_k_evaluate(
            df, res.names, target_col, cfg, weight_col, group_col, time_col,
            task=task,
        )
        res.names = names
        res.indices = res.indices[:best_k]
        res.extras["auto_k_scores"] = scores
        return res

    if estimator == "gaussian":
        from mrmr_spark.select.cache import build_cache, select_cached

        cache = build_cache(
            df, feature_cols, weight_col=weight_col, subsample=subsample, seed=seed
        )
        method = "mrmr_quot" if formula == "quotient" else "mrmr_diff"
        try:
            return select_cached(cache, target_col, k, method=method, top_m=top_m)
        finally:
            cache.unpersist()

    assert_numeric(df, feature_cols)
    df, wcol = ensure_weight_column(df, weight_col)
    df, sampled = _maybe_subsample(df, subsample, seed)
    keep = list(feature_cols) + [target_col] + ([wcol] if wcol else [])
    df = df.select(*keep)

    labels = None
    if task == "regression" and len(feature_cols) <= FUSED_REGRESSION_MAX_P:
        # fused fast path — ONE no-persist Arrow scan (indicator-augmented
        # Gram + Chan merging) is the DEFAULT: round-3 re-measurement
        # (after worker-BLAS pinning) shows it beats the persisted 2-scan
        # path at EVERY scale tested — 1.7 s vs 4.2 s at 1.09M rows,
        # 7.4 s vs 8.2 s at 8.7M, 3.0 s vs 9.8 s at p=40 — with identical
        # selections (1e-11 statistic parity). It is also the only viable
        # plan at 100 TB (the matrix is never materialized), so the fast
        # plan and the scale plan are the same one; no sizing heuristic is
        # needed. ``single_pass=False`` forces the persisted 2-scan path
        # (kept as the parity reference; used automatically for
        # relevance='rf', which re-reads the matrix for the forest fit).
        use_sp = (single_pass is not False) and relevance != "rf"
        if use_sp:
            stats = rel_est.fused_regression_stats(
                df, feature_cols, target_col, wcol, quantize_f32, single_pass=True
            )
        else:
            df = private_plan(df).persist()
            try:
                stats = rel_est.fused_regression_stats(
                    df, feature_cols, target_col, wcol, quantize_f32
                )
                if relevance == "rf":
                    stats["scores"] = rel_est.rf_relevance_scores(
                        df, feature_cols, target_col, task,
                        stats["impute_means"], wcol, quantize_f32,
                    )
            finally:
                df.unpersist()
        rel = stats["scores"]
        cand = _prefilter(rel, k, top_m)
        if cand.size == 0:
            return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, labels)
        R_cand = stats["R"][np.ix_(cand, cand)]
        sel_local = loops.mrmr_greedy(
            R_cand, rel[cand], k, use_quotient=(formula == "quotient"),
            redundancy="abs_corr",
        )
        idx = cand[sel_local]
        return SelectionResult(
            [feature_cols[i] for i in idx], idx, rel, feature_cols, labels,
            extras={"R_cand": R_cand, "cand": cand},
        )

    if (
        task == "classification"
        and relevance == "f"
        and len(feature_cols) <= FUSED_REGRESSION_MAX_P
        and single_pass is not False
    ):
        # fused classification fast path — the single-scan counterpart of
        # the regression branch above: ONE no-persist Arrow scan yields the
        # weighted-ANOVA F relevance AND the full |corr| redundancy
        # matrix (kernels.fused_singlepass_class_stats). ks/rf fall
        # through to the persisted general path (they re-read the
        # matrix); ``single_pass=False`` forces it too (parity reference).
        df, labels = factorize_target(df, target_col, "_y_code")
        stats = rel_est.fused_classification_stats(
            df, feature_cols, "_y_code", len(labels), wcol, quantize_f32
        )
        rel = stats["scores"]
        cand = _prefilter(rel, k, top_m)
        if cand.size == 0:
            return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, labels)
        R_cand = stats["R"][np.ix_(cand, cand)]
        sel_local = loops.mrmr_greedy(
            R_cand, rel[cand], k, use_quotient=(formula == "quotient"),
            redundancy="abs_corr",
        )
        idx = cand[sel_local]
        return SelectionResult(
            [feature_cols[i] for i in idx], idx, rel, feature_cols, labels,
            extras={"R_cand": R_cand, "cand": cand},
        )

    # general path: relevance scans -> prefilter -> Gram on candidates;
    # persist pays for itself once >= 3 executions read the lineage.
    # Regression relevance='f' reads it exactly twice (ONE Arrow moments
    # scan + the candidate Gram), so it runs no-persist like the fused
    # fast paths — at 10¹²-row subsample=None a MEMORY_AND_DISK persist
    # would be exactly the materialization the single-pass redesign exists
    # to avoid. Classification ALWAYS executes the lineage a third time:
    # factorize_target's label distinct() runs before the moments scan —
    # cheap at a column-pruned parquet source but a full re-execution over
    # window/join lineage — so classification persists (the distinct is
    # then also the cache-populating pass). ks/rf genuinely re-read (ECDF
    # melt / forest fits) and keep the persist too. The no-persist reasoning
    # assumes df IS the source lineage: when a subsample was taken, df is a
    # global sort-limit over the full input, and re-executing THAT per scan
    # costs two full-source sorts to avoid caching ~subsample rows — so a
    # sampled lineage always persists (the tradeoff inverts).
    do_persist = relevance != "f" or task == "classification" or sampled
    pinned = private_plan(df).persist() if do_persist else None
    if pinned is not None:
        df = pinned
    if task == "classification":
        # NOTE: factorize_target rebinds df to a derived frame; its scans
        # still hit the persisted parent, but unpersist must target
        # ``pinned``, not the rebound df (which was never persisted).
        df, labels = factorize_target(df, target_col, "_y_code")
        stats = rel_est.f_classif_scores(
            df, feature_cols, "_y_code", len(labels), wcol, quantize_f32
        )
        if relevance == "ks":
            stats["scores"] = rel_est.ks_classif_scores(
                df, feature_cols, "_y_code", len(labels),
                stats["impute_means"], quantize_f32,
            )
        elif relevance == "rf":
            stats["scores"] = rel_est.rf_relevance_scores(
                df, feature_cols, "_y_code", task,
                stats["impute_means"], wcol, quantize_f32,
            )
    else:
        stats = rel_est.f_regression_scores(
            df, feature_cols, target_col, wcol, quantize_f32
        )
        if relevance == "rf":
            stats["scores"] = rel_est.rf_relevance_scores(
                df, feature_cols, target_col, task,
                stats["impute_means"], wcol, quantize_f32,
            )

    rel = stats["scores"]
    cand = _prefilter(rel, k, top_m)
    if cand.size == 0:
        if pinned is not None:
            pinned.unpersist()
        return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, labels)

    cand_cols = [feature_cols[i] for i in cand]
    gram = kernels.gram_pass(
        df,
        cand_cols,
        wcol,
        stats["impute_means"][cand],
        stats["wmeans"][cand],
        stats["wstds"][cand],
        quantize_f32=quantize_f32,
        clip=None,  # classic corr-with-last is unclipped (loops.py:42-55)
    )
    sel_local = loops.mrmr_greedy(
        gram["R"], rel[cand], k, use_quotient=(formula == "quotient"), redundancy="abs_corr"
    )
    if pinned is not None:
        pinned.unpersist()
    idx = cand[sel_local]
    return SelectionResult(
        [feature_cols[i] for i in idx], idx, rel, feature_cols, labels,
        extras={"R_cand": gram["R"], "cand": cand},
    )


def select_jmi(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    k: int,
    *,
    task: str = "regression",
    weight_col: str | None = None,
    estimator: str = "auto",
    aggregation: str = "sum",
    top_m: int | None = None,
    subsample: int | None = 50_000,
    seed: int = 0,
    quantize_f32: bool = True,
    n_bins: int = 10,
    ksg_subsample: int | None = 4096,
) -> SelectionResult:
    """JMI / JMIM (aggregation='min') selection (api.py:495-720).

    estimator 'auto' resolves to 'binned' for classification, 'r2' for
    regression (_preprocess.py:222-226). 'ksg' is the KSG k-NN estimator
    (joint_mi.py:380-421): weights are used for relevance but ignored by
    the estimator itself (as in the reference), and the estimator runs on
    a further ``ksg_subsample`` driver-side budget — this engine's
    neighbor counts are exact brute force (no scipy/KD-tree in the
    runtime), so the O(n²) cost caps the usable n. A small-n estimator in
    the reference too (tree queries per candidate per step).
    """
    _check_option("task", task, ("regression", "classification"))
    _check_option("estimator", estimator, ("auto", "r2", "binned", "ksg"))
    _check_option("aggregation", aggregation, ("sum", "min"))
    if estimator == "auto":
        estimator = "binned" if task == "classification" else "r2"
    if estimator in ("r2", "ksg") and task == "classification":
        raise ValueError(f"estimator='{estimator}' is regression-only; use 'binned'.")

    assert_numeric(df, feature_cols)
    df, wcol = ensure_weight_column(df, weight_col)
    df, sampled = _maybe_subsample(df, subsample, seed)
    keep = list(feature_cols) + [target_col] + ([wcol] if wcol else [])
    df = df.select(*keep)

    if estimator == "r2" and len(feature_cols) <= FUSED_REGRESSION_MAX_P:
        # same default as select_mrmr: one no-persist Arrow scan
        stats = rel_est.fused_regression_stats(
            df, feature_cols, target_col, wcol, quantize_f32, single_pass=True
        )
        rel = stats["scores"]
        cand = _prefilter(rel, k, top_m)
        if cand.size == 0:
            return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, None)
        sel_local = loops.jmi_greedy_r2(
            stats["R"][np.ix_(cand, cand)], stats["r_y"][cand], rel[cand], k,
            use_min=(aggregation == "min"),
        )
        idx = cand[sel_local]
        return SelectionResult([feature_cols[i] for i in idx], idx, rel, feature_cols, None)

    # r2 beyond the fused width reads the matrix exactly twice (moments scan
    # + Gram-with-y on the candidates) — below the >=3-scan persist
    # threshold, so it runs no-persist like select_mrmr's f-path. binned and
    # ksg genuinely re-read (edge/code/histogram scans, driver collect), and
    # a subsampled lineage (global sort-limit) persists — see select_mrmr.
    do_persist = estimator != "r2" or sampled
    pinned = private_plan(df).persist() if do_persist else None
    if pinned is not None:
        df = pinned
    labels = None
    if task == "classification":
        df, labels = factorize_target(df, target_col, "_y_code")
        stats = rel_est.f_classif_scores(
            df, feature_cols, "_y_code", len(labels), wcol, quantize_f32
        )
    else:
        stats = rel_est.f_regression_scores(
            df, feature_cols, target_col, wcol, quantize_f32
        )

    rel = stats["scores"]
    cand = _prefilter(rel, k, top_m)
    if cand.size == 0:
        if pinned is not None:
            pinned.unpersist()
        return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, labels)
    cand_cols = [feature_cols[i] for i in cand]

    if estimator == "r2":
        gram = kernels.gram_pass(
            df,
            cand_cols,
            wcol,
            stats["impute_means"][cand],
            stats["wmeans"][cand],
            stats["wstds"][cand],
            y_col=target_col,
            y_wmean=stats["y_wmean"],
            y_wstd=stats["y_wstd"],
            quantize_f32=quantize_f32,
            clip=None,
        )
        sel_local = loops.jmi_greedy_r2(
            gram["R"], gram["r_y"], rel[cand], k, use_min=(aggregation == "min")
        )
    elif estimator == "binned":
        sel_local = _jmi_binned(
            df, cand_cols, target_col, task, wcol, stats, cand, rel, k,
            aggregation, n_bins, quantize_f32, labels,
            distributed=(subsample is None),
        )
    else:
        sel_local = _jmi_ksg(
            df, cand_cols, target_col, stats, cand, rel, k, aggregation,
            quantize_f32, ksg_subsample, seed,
        )

    if pinned is not None:
        pinned.unpersist()
    idx = cand[sel_local]
    return SelectionResult([feature_cols[i] for i in idx], idx, rel, feature_cols, labels)


def _imputed_expr(c: str, mean_q: float, quantize_f32: bool):
    col = F.col(c).cast("double")
    finite = ~F.isnull(col) & ~F.isnan(col) & (F.abs(col) != float("inf"))
    val = F.when(finite, col).otherwise(F.lit(float(mean_q)))
    if quantize_f32:
        val = val.cast("float").cast("double")
    return val


def _jmi_binned(
    df, cand_cols, target_col, task, wcol, stats, cand, rel, k,
    aggregation, n_bins, quantize_f32, labels, distributed=False,
):
    """Distributed exact binning + greedy JMI loop.

    Bounded path (default, subsample=50k like the reference api.py:511):
    collect the int16 code matrix, loop on the driver. Unbounded path
    (subsample=None): per-step composite-code groupBy histograms — the
    driver never holds more than one entropy row per candidate
    (binning.jmi_greedy_binned_spark)."""
    imput = stats["impute_means"][cand]
    imp_cols = [
        _imputed_expr(c, imput[i], quantize_f32).alias(f"_i_{c}")
        for i, c in enumerate(cand_cols)
    ]
    extra = []
    if task == "classification":
        extra.append(F.col("_y_code").cast("double").alias("_yv"))
    else:
        yv = F.col(target_col).cast("double")
        if quantize_f32:
            yv = yv.cast("float").cast("double")
        extra.append(yv.alias("_yv"))
    extra.append((F.col(wcol) if wcol else F.lit(1.0)).cast("double").alias("_wv"))
    proj = df.select(*imp_cols, *extra)

    icol_names = [f"_i_{c}" for c in cand_cols]
    stds_unw = np.sqrt(np.maximum(stats["x_ss_unw"][cand] / max(stats["n"], 1), 0.0)) \
        if "x_ss_unw" in stats else np.full(len(cand_cols), 1.0)

    bin_cols = list(icol_names)
    if task != "classification":
        bin_cols = bin_cols + ["_yv"]
    # bounded subsample -> one JVM percentile aggregate; the distributed
    # (subsample=None) path computes the same exact edges as range-
    # partitioned order statistics — the aggregate's value→count map
    # grows with n and would not survive a 10¹²-row scan
    if distributed:
        edges = binning.ranged_percentile_edges(proj, bin_cols, n_bins)
    else:
        edges = binning.exact_percentile_edges(proj, bin_cols, n_bins)
    # y std for constant check
    all_stds = np.concatenate([stds_unw, [np.inf]]) if task != "classification" else stds_unw

    if distributed:
        coded = binning.bin_codes_df(
            proj, bin_cols, edges, all_stds, extra_cols=["_yv", "_wv"]
        )
        if task == "classification":
            f_bcols = [f"b_{c}" for c in icol_names]
            y_bcol, ny = "_yv", len(labels)
        else:
            f_bcols = [f"b_{c}" for c in icol_names]
            y_bcol, ny = "b__yv", n_bins
        return binning.jmi_greedy_binned_spark(
            coded, f_bcols, y_bcol, "_wv", rel[cand], k,
            n_bins=n_bins, n_y_states=ny, use_min=(aggregation == "min"),
        )

    codes, extras = binning.collect_bin_codes(
        proj, bin_cols, edges, all_stds, extra_cols=["_yv", "_wv"]
    )
    w = extras["_wv"]
    if task == "classification":
        y_codes = extras["_yv"].astype(np.int64)
        ny = len(labels)
        f_codes = codes
    else:
        y_codes = codes[:, -1].astype(np.int64)
        ny = n_bins
        f_codes = codes[:, :-1]
    return loops.jmi_greedy_binned(
        f_codes, y_codes, w, rel[cand], k, n_bins=n_bins, n_y_states=ny,
        use_min=(aggregation == "min"),
    )


def _jmi_ksg(
    df, cand_cols, target_col, stats, cand, rel, k, aggregation,
    quantize_f32, ksg_subsample, seed,
):
    """Collect the imputed candidate matrix (ksg_subsample-bounded) and run
    the KSG greedy loop on the driver (loops.jmi_greedy_ksg)."""
    from mrmr_spark.select.preprocess import deterministic_subsample

    imput = stats["impute_means"][cand]
    sel = [
        _imputed_expr(c, imput[i], quantize_f32).alias(f"_i_{c}")
        for i, c in enumerate(cand_cols)
    ]
    yv = F.col(target_col).cast("double")
    if quantize_f32:
        yv = yv.cast("float").cast("double")
    sel.append(yv.alias("_yv"))
    proj = df.select(*sel)
    if ksg_subsample is not None:
        n = proj.count()
        if n > ksg_subsample:
            proj = deterministic_subsample(proj, ksg_subsample, seed)
    pdf = proj.toPandas()
    X = pdf[[f"_i_{c}" for c in cand_cols]].to_numpy(np.float64)
    y = pdf["_yv"].to_numpy(np.float64)
    return loops.jmi_greedy_ksg(X, y, rel[cand], k, use_min=(aggregation == "min"))


def select_cefsplus(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    k: int,
    *,
    weight_col: str | None = None,
    top_m: int | None = None,
    corr_prune: float = 0.95,
    subsample: int | None = 50_000,
    seed: int = 0,
    return_objective: bool = False,
) -> SelectionResult:
    """CEFS+ log-det selection via the gaussian copula cache
    (api.py:896-983). Regression only. The cache is built for this call
    and released when it returns or raises."""
    from mrmr_spark.select.cache import build_cache, select_cached

    cache = build_cache(df, feature_cols, weight_col=weight_col, subsample=subsample, seed=seed)
    try:
        return select_cached(
            cache, target_col, k, method="cefsplus", top_m=top_m,
            corr_prune=corr_prune, return_objective=return_objective,
        )
    finally:
        cache.unpersist()
