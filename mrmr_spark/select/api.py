"""User-facing selection API over Spark DataFrames (SURVEY.md §2.F, §3).

Mirrors the reference's entry points (``select_mrmr`` / ``select_jmi`` /
``select_cefsplus``, /root/reference/sift/api.py:231-983) with a DataFrame
in place of the pandas matrix:

    result = select_mrmr(df, feature_cols, target_col, k=10,
                         task="regression")
    result.names  # ranked selected features

Spark lifecycle of classic mRMR and JMI-r2 per call (SURVEY.md §3.1): a
classification target first collects its labels (one ``distinct()``). Up
to ``FUSED_REGRESSION_MAX_P`` features, ONE fused Arrow scan yields
imputation, relevance and the full redundancy matrix together; wider, an
O(p) moments scan (→ imputation, relevance) is followed by a Gram
reduction on the top_m candidates (→ redundancy). The greedy loop runs on
the driver. No shuffle anywhere except the aggregations' partial→final
exchanges; communication is O(p²) doubles on the fused scan and
O(p) + O(top_m²) on the wide one.
"""

from __future__ import annotations

from contextlib import contextmanager
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


def _prepare(df, feature_cols, target_col, weight_col, subsample, seed):
    """Validate, normalize the weights, subsample, and keep only the
    columns the scans read. Returns ``(df, wcol, sampled)``: callers
    deciding persist need to know whether the lineage is now a global
    sort-limit (re-executing it per scan would double full-source reads
    for a ~subsample-row cache)."""
    assert_numeric(df, feature_cols)
    df, wcol = ensure_weight_column(df, weight_col)
    sampled = False
    if subsample is not None and df.count() > subsample:
        df, sampled = deterministic_subsample(df, subsample, seed), True
    keep = list(feature_cols) + [target_col] + ([wcol] if wcol else [])
    return df.select(*keep), wcol, sampled


@contextmanager
def _pinned(df, persist: bool):
    """``df`` itself, or a private persisted copy released on exit."""
    if not persist:
        yield df
        return
    pinned = private_plan(df).persist()
    try:
        yield pinned
    finally:
        pinned.unpersist()


#: widest feature set served by the fused scan (one scan computes the FULL
#: (p+1)² augmented Gram — relevance, redundancy and imputation in a single
#: reduction). Communication is O(p²) doubles per partition, so the bound
#: caps accumulator size; beyond it the wide route prefilters candidates by
#: relevance before the Gram. Round-3 measurement at p=40 (rich FE mode,
#: 1.09M rows): fused single-pass 2.97 s vs the wide route's 9.78 s,
#: identical selections.
FUSED_REGRESSION_MAX_P = 64


def _scan_stats(df, feature_cols, target_col, task, wcol, relevance, fused, quantize_f32):
    """The statistics step. Classification first codes the labels
    (``_y_code``, one ``distinct()``). Then ONE scan: the fused scan
    (relevance, the full R and, for regression, r_y) or the O(p) moments
    scan. ks/rf rescore relevance on top of whichever scan ran. Returns
    ``(df, stats, labels)`` with ``df`` carrying the label codes."""
    labels, y = None, target_col
    if task == "classification":
        df, labels = factorize_target(df, target_col, "_y_code")
        y = "_y_code"
        scan = rel_est.fused_classification_stats if fused else rel_est.f_classif_scores
        stats = scan(df, feature_cols, y, len(labels), wcol, quantize_f32)
    elif fused:
        stats = rel_est.fused_regression_stats(
            df, feature_cols, y, wcol, quantize_f32, True  # the one-scan plan
        )
    else:
        stats = rel_est.f_regression_scores(df, feature_cols, y, wcol, quantize_f32)
    if relevance == "ks":
        stats["scores"] = rel_est.ks_classif_scores(
            df, feature_cols, y, len(labels), stats["impute_means"], quantize_f32
        )
    elif relevance == "rf":
        stats["scores"] = rel_est.rf_relevance_scores(
            df, feature_cols, y, task, stats["impute_means"], wcol, quantize_f32
        )
    return df, stats, labels


def _corr_select(
    df, feature_cols, target_col, k, task, wcol, relevance, top_m, sampled,
    quantize_f32, greedy, with_y=False,
) -> SelectionResult:
    """Relevance + |corr| redundancy selection (classic mRMR, JMI-r2): the
    statistics step, the rel>0 / top_m prefilter, the candidates'
    correlations, then ``greedy(R_cand, r_y_cand, rel_cand)`` on the
    driver (``r_y_cand`` only ``with_y``).

    The feature count alone picks the scan: up to FUSED_REGRESSION_MAX_P
    the fused scan already holds R (and r_y); wider, the Gram runs on the
    candidates after the moments scan. The input lineage executes once
    per scan, plus once for the label ``distinct()``, and each run
    re-reads the source. Persist when ks/rf re-read the matrix (ECDF melt,
    forest fit), when the lineage would run ≥3 times, or when it is a
    sampled global sort-limit that would run ≥2 times (two full-source
    sorts to avoid caching ~subsample rows). Otherwise run no-persist: at
    10¹²-row ``subsample=None`` a MEMORY_AND_DISK persist is exactly the
    materialization the one-scan design avoids.
    """
    fused = len(feature_cols) <= FUSED_REGRESSION_MAX_P
    runs = (task == "classification") + (1 if fused else 2)
    persist = relevance != "f" or runs >= 3 or (sampled and runs >= 2)
    with _pinned(df, persist) as df:
        df, stats, labels = _scan_stats(
            df, feature_cols, target_col, task, wcol, relevance, fused, quantize_f32
        )
        rel = stats["scores"]
        cand = _prefilter(rel, k, top_m)
        if cand.size == 0:
            return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, labels)
        if fused:
            R_cand = stats["R"][np.ix_(cand, cand)]
            r_y = stats["r_y"][cand] if with_y else None
        else:
            y_kw = dict(y_col=target_col, y_wmean=stats["y_wmean"],
                        y_wstd=stats["y_wstd"]) if with_y else {}
            gram = kernels.gram_pass(
                df, [feature_cols[i] for i in cand], wcol,
                stats["impute_means"][cand], stats["wmeans"][cand],
                stats["wstds"][cand], quantize_f32=quantize_f32,
                clip=None,  # classic corr-with-last is unclipped (loops.py:42-55)
                **y_kw,
            )
            R_cand, r_y = gram["R"], gram.get("r_y")
    idx = cand[greedy(R_cand, r_y, rel[cand])]
    return SelectionResult(
        [feature_cols[i] for i in idx], idx, rel, feature_cols, labels,
        extras={"R_cand": R_cand, "cand": cand},
    )


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

    df, wcol, sampled = _prepare(df, feature_cols, target_col, weight_col, subsample, seed)
    use_quotient = formula == "quotient"
    return _corr_select(
        df, feature_cols, target_col, k, task, wcol, relevance, top_m, sampled,
        quantize_f32,
        lambda R, r_y, rel: loops.mrmr_greedy(
            R, rel, k, use_quotient=use_quotient, redundancy="abs_corr"
        ),
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

    df, wcol, sampled = _prepare(df, feature_cols, target_col, weight_col, subsample, seed)
    use_min = aggregation == "min"
    if estimator == "r2":
        return _corr_select(
            df, feature_cols, target_col, k, task, wcol, "f", top_m, sampled,
            quantize_f32,
            lambda R, r_y, rel: loops.jmi_greedy_r2(R, r_y, rel, k, use_min=use_min),
            with_y=True,
        )

    # binned and ksg read the moments scan's x_ss_unw and need no R; they
    # re-read the matrix (edge/code/histogram scans, driver collect), so
    # the frame is always persisted
    with _pinned(df, True) as df:
        df, stats, labels = _scan_stats(
            df, feature_cols, target_col, task, wcol, "f", False, quantize_f32
        )
        rel = stats["scores"]
        cand = _prefilter(rel, k, top_m)
        if cand.size == 0:
            return SelectionResult([], np.empty(0, np.int64), rel, feature_cols, labels)
        cand_cols = [feature_cols[i] for i in cand]
        if estimator == "binned":
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
