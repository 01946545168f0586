"""Gaussian-copula feature cache + cached selection (SURVEY.md D3, F6).

``build_cache`` is the Spark form of the reference's ``FeatureCache``
(copula.py:13-82): a persisted DataFrame of copula-transformed features
(float32-quantized Z) keyed by an explicit row key, plus small driver-side
artifacts (valid columns, names). Reuse across targets = keep the Z frame
persisted and re-run only the r-vector/Gram reductions per target
(tests mirror tests/test_cefsplus.py:18-34 of the reference).

Spark lifecycle (SURVEY.md §3.2): job 1 = melt + per-column global-sort
copula transform (the one heavyweight shuffle, amortized over all p columns);
job 2+3 = Gram/r block reduction on the persisted Z; greedy loops on the
driver.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mrmr_spark.select import kernels, loops
from mrmr_spark.select.api import SelectionResult, _check_option, _default_top_m, _imputed_expr
from mrmr_spark.select.copula import rank_gauss_transform
from mrmr_spark.select.preprocess import (
    assert_numeric,
    deterministic_subsample,
    ensure_weight_column,
    private_plan,
)
from mrmr_spark.select.relevance import _require_finite_y

ROW_KEY = "_cache_rk"


@dataclass
class FeatureCache:
    src: DataFrame          # persisted (subsampled) source incl. row key + weight
    z: DataFrame            # persisted wide Z frame (row key, weight, z_*)
    weight_col: str | None
    valid_cols: np.ndarray  # indices into feature_names that survived pruning
    feature_names: list[str]
    z_cols: list[str]
    n_rows: int | None = None       # src row count (backend choice downstream)
    driver_max_cells: int | None = None  # rank-gauss backend cap (None=default)

    def unpersist(self):
        self.src.unpersist()
        self.z.unpersist()


def build_cache(
    df: DataFrame,
    feature_cols: list[str],
    weight_col: str | None = None,
    subsample: int | None = 50_000,
    seed: int = 0,
    min_std: float = 1e-12,
    row_key_col: str | None = None,
    driver_max_cells: int | None = None,
) -> FeatureCache:
    """``driver_max_cells``: rank-gauss backend cap forwarded to
    ``rank_gauss_transform`` (None = its ``RANKGAUSS_DRIVER_MAX_CELLS``
    default, 0 = always the distributed melt). At the reference's default
    50k-row subsample the driver kernel cuts the transform from ~6.7 s of
    Spark job overhead to ~0.3 s of NumPy; the distributed pipeline is the
    ``subsample=None`` full-corpus path.

    ``row_key_col``: optional caller-supplied UNIQUE integer key. The row
    key defines the copula midrank tie order (``_midrank_long`` sorts by
    (value, key)), so with the default ``monotonically_increasing_id`` the
    transform of a tie-heavy column is valid but partition-layout-dependent
    — rerunning on a different cluster size / file split can permute tied
    rows' z values. A stable business key makes the cached selection
    bit-reproducible across layouts (audit / checkpoint-resume at scale)
    and is what the SQL oracle of the ``gaussian_mrmr_cached`` gate row
    relies on. Uniqueness is the caller's contract (duplicate keys would
    collapse rows in the wide-Z reassembly groupBy)."""
    assert_numeric(df, feature_cols)
    df, wcol = ensure_weight_column(df, weight_col)
    if subsample is not None and df.count() > subsample:
        df = deterministic_subsample(df, subsample, seed)

    # weights stored float32 like the reference cache (copula.py:80)
    wexpr = (F.col(wcol) if wcol else F.lit(1.0)).cast("float").cast("double")
    rkexpr = (
        F.col(row_key_col).cast("long")
        if row_key_col
        else F.monotonically_increasing_id()
    )
    src = private_plan(
        df.withColumn("weight", wexpr).withColumn(ROW_KEY, rkexpr)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = src.count()  # pin row keys
    if row_key_col is not None:
        # duplicate keys would silently collapse rows in the wide-Z
        # reassembly groupBy — fail loud; one extra single-column agg on
        # the persisted frame, O(distinct keys) shuffle
        n_keys = src.select(ROW_KEY).distinct().count()
        if n_keys != n_rows:
            raise ValueError(
                f"row_key_col={row_key_col!r} is not unique: "
                f"{n_rows} rows but {n_keys} distinct keys."
            )

    p1 = kernels.moments_singlepass_pass(
        src, feature_cols, None, "weight", quantize_f32=False
    )
    n = max(p1["n"], 1.0)
    stds = np.sqrt(np.maximum(p1["x_ss_unw"] / n, 0.0))
    valid = np.where(stds > min_std)[0]
    if valid.size == 0:
        raise ValueError("All features were filtered out (constant or invalid).")
    valid_names = [feature_cols[i] for i in valid]

    imputed = src.select(
        ROW_KEY,
        "weight",
        *[_imputed_expr(c, p1["impute_means"][i], False).alias(c)
          for i, c in zip(valid, valid_names)],
    )
    pins: list = []
    z = private_plan(rank_gauss_transform(
        imputed, valid_names, "weight", ROW_KEY, z_prefix="z_", store_f32=True,
        pin=pins, n_rows=n_rows, driver_max_cells=driver_max_cells,
    )).persist(StorageLevel.MEMORY_AND_DISK)
    z.count()
    for dep in pins:  # the ranged melt is only needed until Z materializes
        dep.unpersist()

    return FeatureCache(
        src=src,
        z=z,
        weight_col="weight",
        valid_cols=valid,
        feature_names=list(feature_cols),
        z_cols=[f"z_{c}" for c in valid_names],
        n_rows=n_rows,
        driver_max_cells=driver_max_cells,
    )


def select_cached(
    cache: FeatureCache,
    target_col: str,
    k: int,
    method: str = "cefsplus",
    top_m: int | None = None,
    corr_prune: float = 0.95,
    return_objective: bool = False,
) -> SelectionResult:
    """Gaussian-path selection on a pre-built cache (cefsplus.py:448-535)."""
    _check_option("method", method, ("cefsplus", "mrmr_quot", "mrmr_diff", "jmi", "jmim"))
    # the reference rejects a non-finite y; the copula would rank it as an
    # ordinary value. One small aggregate over the persisted source
    # (<= subsample rows) — the input lineage is never re-read.
    yv = F.col(target_col).cast("double")
    bad = yv.isNull() | F.isnan(yv) | (F.abs(yv) == float("inf"))
    _require_finite_y(cache.src.select(F.count(F.when(bad, 1))).first()[0])
    # y copula transform on the SAME subsampled rows/weights (f32 cast first,
    # matching to_numpy(y, float32) at cefsplus.py:460)
    ysrc = cache.src.select(
        ROW_KEY, "weight", F.col(target_col).cast("float").cast("double").alias("_yv")
    )
    pins: list = []
    zy = rank_gauss_transform(
        ysrc, ["_yv"], "weight", ROW_KEY, z_prefix="zy_", pin=pins,
        n_rows=cache.n_rows, driver_max_cells=cache.driver_max_cells,
    )
    joined = cache.z.join(zy.select(ROW_KEY, "zy__yv"), ROW_KEY)

    p = len(cache.z_cols)
    tm = min(_default_top_m(top_m, k), p)
    if tm < p:
        # two-job lifecycle (SURVEY.md §3.2; reference cefsplus.py:464-487):
        # job 2 ranks ALL p features with an O(p)-accumulator r-vector scan;
        # job 3 computes the O(m²) Gram on the top_m candidates ONLY. A full
        # p×p Gram here would put an O(p²)-double accumulator in every task
        # (p = 5,000 → 200 MB/partition) to produce rows/columns the greedy
        # loop never reads.
        rv = kernels.r_vector_pass(
            joined, cache.z_cols, "weight", "zy__yv", quantize_f32=True,
            clip=0.999999,
        )
        r = rv["r_y"]
        cand = np.argpartition(np.abs(r), -tm)[-tm:]
        cand_cols = [cache.z_cols[i] for i in cand]
        zero_m = np.zeros(len(cand))
        gram = kernels.gram_pass(
            joined, cand_cols, "weight", zero_m, zero_m, np.ones(len(cand)),
            quantize_f32=True, clip=0.999999,
        )
        R_cand = gram["R"]
    else:
        # no prefilter: ONE fused scan yields the full Gram and r together
        zero = np.zeros(p)
        gram = kernels.gram_pass(
            joined, cache.z_cols, "weight", zero, zero, np.ones(p),
            y_col="zy__yv", y_wmean=0.0, y_wstd=1.0,
            quantize_f32=True, clip=0.999999,
        )
        r = gram["r_y"]
        cand = np.arange(p)
        R_cand = gram["R"]
    for dep in pins:  # reductions collected -> the y-melt pin can go
        dep.unpersist()
    rel = loops.gaussian_mi_from_corr(r)

    keep = loops.greedy_corr_prune(R_cand, np.abs(r[cand]), corr_prune)
    cand = cand[keep]
    R_cand = R_cand[np.ix_(keep, keep)]
    r_cand = r[cand].astype(np.float64)
    rel_cand = rel[cand].astype(np.float64)
    k_actual = min(k, len(cand))

    objective = None
    if method == "cefsplus":
        if return_objective:
            sel_local, objective = loops.cefsplus_greedy(
                R_cand, r_cand, k_actual, rel_cand, return_objective=True
            )
        else:
            sel_local = loops.cefsplus_greedy(R_cand, r_cand, k_actual, rel_cand)
    elif method in ("mrmr_quot", "mrmr_diff"):
        sel_local = loops.mrmr_greedy(
            R_cand, rel_cand, k_actual,
            use_quotient=(method == "mrmr_quot"), redundancy="gaussian_mi",
        )
    else:
        sel_local = loops.jmi_greedy_r2(
            R_cand, r_cand, rel_cand, k_actual, use_min=(method == "jmim")
        )

    sel_valid = cand[sel_local]
    sel_original = cache.valid_cols[sel_valid]
    names = [cache.feature_names[i] for i in sel_original]

    rel_full = np.zeros(len(cache.feature_names))
    rel_full[cache.valid_cols] = rel
    extras = {"r": r, "R_cand": R_cand}
    if return_objective:
        if objective is None:
            objective = loops.objective_from_corr_path(
                R_cand[np.ix_(sel_local, sel_local)], r_cand[sel_local]
            )
        extras["objective"] = objective
    return SelectionResult(
        names, np.asarray(sel_original), rel_full, cache.feature_names, extras=extras
    )
