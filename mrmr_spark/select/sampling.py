"""Smart leverage subsampler for panel data (SURVEY.md §3.3 step 1;
reference /root/reference/sift/sampling/smart.py:108-398).

Spark re-derivation, component by component:

- **Leverage scores** (smart.py:12-47): the reference takes a randomized
  SVD of the n×p standardized matrix. Here the same right-singular
  structure comes from an EXACT eigendecomposition of the p×p standardized
  Gram (one distributed Gram pass → driver ``eigh``): Zᵀ Z = V S² Vᵀ, so
  U = Z V S⁻¹ and the multi-alpha ridge leverage
  ``lev_i = mean_α Σ_k u_ik² · s²_k/(s²_k+α)`` is a per-row GEMM against
  driver-broadcast (V, S, ᾱ-weights). Because Σ_i u_ik² = 1 exactly, the
  global leverage mean is the analytic Σ_k w̄_k / n — no extra pass.
- **Pilot residual boost** (smart.py:239-266): closed-form ridge
  (``linear.fit_ridge``) replaces HistGradientBoostingRegressor (sklearn
  absent; the pilot is a hard-case detector and β is capped at
  ``residual_weight_cap`` either way — documented deviation). Pilot rows
  by deterministic hash; r² on the held-out half via two aggregates.
- **Per-group Poisson calibration** (smart.py:284-360): ``applyInPandas``
  per group — the reference's tau binary search, anchor share cap,
  min-coverage top-up and π accumulation run verbatim inside each group,
  rng seeded per (random_state, group). With no group column, rows are
  salted into 64 hash shards and calibrated per shard (shards are
  exchangeable random subsets; the reference's single-group path would
  serialize the whole table through one task).
- **Weights** (smart.py:373-381): w = 1/π clipped at the global
  ``weight_clip_quantile`` (exact percentile aggregate), mean-normalized.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrmr_spark.select import kernels


@dataclass
class SmartSamplerConfig:
    """Mirrors reference SmartSamplerConfig (smart.py:53-100); ``anchor_fn``
    becomes ``anchor_col`` — a boolean column produced Spark-side (e.g. by
    mrmr_spark.operators.anchors window expressions)."""

    sample_frac: float = 0.10
    group_col: str | None = None
    time_col: str | None = None
    min_per_group: int = 2
    pilot_sample_size: int = 50_000
    weight_clip_quantile: float = 0.99
    residual_weight_cap: float = 0.4
    uniform_floor: float = 0.05
    anchor_col: str | None = None
    anchor_max_share: float = 0.4
    random_state: int = 42
    n_hash_shards: int = 64  # pseudo-groups when group_col is None


def _poisson_calibrated(rng, local_scores: np.ndarray, budget: int):
    """Verbatim reference tau calibration (smart.py:284-319): binary-search
    tau so Σ min(1, tau·p) = budget, then Bernoulli draws at π = min(1, tau·p)."""
    m = local_scores.size
    if budget <= 0 or m == 0:
        return np.array([], dtype=int), np.zeros(0, dtype=np.float32)
    s = np.maximum(local_scores.astype(np.float64), 0.0)
    s_sum = s.sum()
    p = np.full(m, 1.0 / m) if s_sum == 0 else s / s_sum
    p_max = p.max()
    if p_max == 0:
        return np.array([], dtype=int), np.zeros(0, dtype=np.float32)

    def expected(tau):
        return float(np.minimum(1.0, tau * p).sum())

    lo, hi = 0.0, max(1.0, budget / p_max)
    while expected(hi) < budget and hi < 1e12:
        hi *= 2.0
    for _ in range(40):
        mid = 0.5 * (lo + hi)
        if expected(mid) < budget:
            lo = mid
        else:
            hi = mid
    pi = np.minimum(1.0, hi * p)
    chosen = rng.random(m) < pi
    return np.nonzero(chosen)[0].astype(int), pi.astype(np.float32)


def smart_sample(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    config: SmartSamplerConfig | None = None,
    **kwargs,
) -> DataFrame:
    """Informative subsampler: leverage + pilot-residual scores, per-group
    Poisson sampling with anchors and min coverage. Returns the sampled
    DataFrame with a mean-normalized ``sample_weight`` column (approximate
    inverse inclusion probability, smart.py 'Note')."""
    config = config or SmartSamplerConfig()
    for k_, v in kwargs.items():
        if not hasattr(config, k_):
            raise TypeError(f"Unknown smart_sample option: {k_}")
        setattr(config, k_, v)
    if not (0 < config.sample_frac <= 1):
        raise ValueError("sample_frac must be in (0, 1].")
    missing = set(feature_cols + [y_col]) - set(df.columns)
    for c in (config.group_col, config.time_col, config.anchor_col):
        if c is not None and c not in df.columns:
            missing.add(c)
    if missing:
        raise ValueError(f"Missing columns: {sorted(missing)}")

    cols = list(feature_cols)
    d = len(cols)
    seed = int(config.random_state)

    # ---- moments + Gram (float32 matrix like the reference, smart.py:169) --
    df = df.persist()
    try:
        p1 = kernels.moments_singlepass_pass(df, cols, None, None, quantize_f32=True)
        n = int(p1["n"])
        var = p1["x_ss"] / max(n, 1)
        sds = np.where(var > 1e-24, np.sqrt(var), 1.0)
        mus = p1["col_wmeans"]
        gram = kernels.gram_pass(
            df, cols, None, p1["impute_means"], mus, sds,
            quantize_f32=True, clip=None, normalize=True,
        )
        # Zᵀ Z = n·R ⇒ exact eigenstructure of the standardized matrix
        evals, evecs = np.linalg.eigh(gram["R"] * gram["sw"])
        order = np.argsort(evals)[::-1]
        k_top = int(min(128, d, max(16, np.ceil(np.log2(d + 1)) * 8)))
        k_top = max(1, min(k_top, min(n, d) - 1)) if min(n, d) > 1 else 1
        s2 = np.maximum(evals[order][:k_top], 0.0)
        V = evecs[:, order][:, :k_top].astype(np.float32)
        S = np.sqrt(s2)
        # multi-alpha weights, exactly smart.py:24-32
        s2_pos = s2[s2 > 1e-8]
        if s2_pos.size:
            qs = np.percentile(s2_pos, [5, 25, 50, 75, 95]).astype(np.float32)
            alphas = np.unique(np.clip(np.array([1e-6, *qs], dtype=np.float32), 1e-8, None))
        else:
            alphas = np.array([1e-6], dtype=np.float32)
        invS = (1.0 / (S + 1e-12)).astype(np.float32)
        W_alpha = (s2[:, None] / (s2[:, None] + alphas[None, :])).astype(np.float32)
        lev_mean = float(W_alpha.mean(axis=1).sum()) / max(n, 1)  # analytic E[lev]

        # ---- pilot residual scores ------------------------------------------
        beta = 0.0
        res_expr = F.lit(1.0)
        res_mean = 1.0
        if config.residual_weight_cap > 0:
            bad_y = df.select(
                F.count(
                    F.when(
                        F.col(y_col).isNull()
                        | F.isnan(F.col(y_col).cast("double"))
                        | (F.abs(F.col(y_col).cast("double")) == float("inf")),
                        1,
                    )
                ).alias("b")
            ).collect()[0].b
            if bad_y:
                raise ValueError(
                    "y must be finite (no NaN or inf) when residual_weight_cap > 0"
                )
            from mrmr_spark.select.linear import fit_ridge
            from mrmr_spark.select.preprocess import deterministic_subsample

            ps = min(n, config.pilot_sample_size)
            pilot = df if n <= ps else deterministic_subsample(df, ps, seed, cols + [y_col])
            split = F.pmod(
                F.xxhash64(*[F.col(c) for c in cols], F.lit(seed + 1)), F.lit(2)
            )
            pilot = pilot.withColumn("_half", split).persist()
            try:
                n_tr = pilot.where(F.col("_half") == 0).count()
                n_va = ps - n_tr
                if n_tr >= 50 and n_va >= 20:
                    model = fit_ridge(
                        pilot.where(F.col("_half") == 0), cols, y_col, alpha=1.0
                    )
                    yv = F.col(y_col).cast("double")
                    pe = model.predict_expr()
                    row = pilot.where(F.col("_half") == 1).select(
                        F.avg((yv - pe) * (yv - pe)).alias("mse"),
                        F.var_pop(yv).alias("vy"),
                    ).collect()[0]
                    r2 = max(0.0, min(1.0, 1.0 - row.mse / (row.vy + 1e-12)))
                    beta = min(config.residual_weight_cap, r2)
                    if beta > 0:
                        raw_res = F.greatest(
                            F.abs(F.col(y_col).cast("double") - pe), F.lit(1e-12)
                        )
                        res_mean = float(
                            df.select(F.avg(raw_res)).collect()[0][0] or 1.0
                        )
                        res_expr = raw_res
            finally:
                pilot.unpersist()

        # ---- per-group Poisson sampling (applyInPandas) ---------------------
        if config.group_col:
            grp = config.group_col
            work = df
            shard_added = False
        else:
            grp = "_sgrp"
            work = df.withColumn(
                grp,
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in cols], F.lit(seed + 2)),
                    F.lit(config.n_hash_shards),
                ),
            )
            shard_added = True
        work = work.withColumn("_res_raw", res_expr.cast("double"))

        from pyspark.sql.types import DoubleType, StructField, StructType

        # NOTE: StructType.add mutates in place — never call it on a
        # DataFrame's cached schema object
        out_schema = StructType(
            list(work.schema.fields) + [StructField("_pi", DoubleType())]
        )
        frac = config.sample_frac
        min_pg = config.min_per_group if config.group_col else 0
        anchor_col = config.anchor_col
        anchor_max_share = config.anchor_max_share
        floor_ = config.uniform_floor
        impute_means = p1["impute_means"].astype(np.float32)
        mus32 = mus.astype(np.float32)
        sds32 = sds.astype(np.float32)
        beta_ = beta

        def sample_group(pdf):
            m = len(pdf)
            g = pdf[grp].iloc[0]
            rng = np.random.default_rng(
                [seed & 0x7FFFFFFF, zlib.crc32(str(g).encode())]
            )
            X = pdf[cols].to_numpy(dtype=np.float32, copy=True)
            fin = np.isfinite(X)
            X = np.where(fin, X, impute_means[None, :])
            Z = (X - mus32[None, :]) / sds32[None, :]
            U = (Z @ V) * invS[None, :]
            lev = np.maximum((U * U) @ W_alpha, 1e-12).mean(axis=1) / max(lev_mean, 1e-12)
            res = pdf["_res_raw"].to_numpy(dtype=np.float64) / res_mean
            base = (1.0 - beta_) * lev + beta_ * res
            base = (1.0 - floor_) * base + floor_  # global base mean is 1 analytically

            target_g = max(min_pg, int(np.floor(frac * m)))
            pi = np.zeros(m, dtype=np.float64)
            if target_g >= m:
                pi[:] = 1.0
            else:
                if anchor_col is not None:
                    amask = pdf[anchor_col].to_numpy(dtype=bool)
                else:
                    amask = np.zeros(m, dtype=bool)
                a_idx = np.nonzero(amask)[0]
                if a_idx.size:
                    if anchor_max_share <= 0:
                        a_idx = np.array([], dtype=int)
                    else:
                        keep = min(
                            max(1, int(np.floor(anchor_max_share * target_g))), target_g
                        )
                        if a_idx.size > keep:
                            top = np.argpartition(-base[a_idx], keep - 1)[:keep]
                            a_idx = a_idx[top]
                pi[a_idx] = 1.0
                pool = np.setdiff1d(np.arange(m), a_idx, assume_unique=True)
                remaining = max(0, target_g - a_idx.size)
                if remaining > 0 and pool.size > 0:
                    chosen, pi_local = _poisson_calibrated(rng, base[pool], remaining)
                    if chosen.size:
                        pi[pool[chosen]] = np.minimum(
                            1.0, pi[pool[chosen]] + pi_local[chosen]
                        )
                    short = remaining - chosen.size
                    if short > 0:
                        left_mask = np.ones(pool.size, dtype=bool)
                        if chosen.size:
                            left_mask[chosen] = False
                        leftover = pool[left_mask]
                        if leftover.size:
                            need = min(short, leftover.size)
                            top = np.argpartition(-base[leftover], need - 1)[:need]
                            pi[leftover[top]] = 1.0
            out = pdf[pi > 0].copy()
            out["_pi"] = pi[pi > 0]
            return out

        sampled = work.groupBy(grp).applyInPandas(sample_group, out_schema).persist()
        try:
            # weights: 1/π, clip at the global quantile, mean→1 (smart.py:373-381)
            wexpr = 1.0 / F.greatest(F.least(F.col("_pi"), F.lit(1.0)), F.lit(1e-12))
            sampled_w = sampled.withColumn("_w_raw", wexpr)
            if 0.5 < config.weight_clip_quantile < 1.0:
                # range-partitioned order statistic, not the percentile
                # aggregate (whose value->count map grows with distinct
                # weights — the sampler output is unbounded at scale)
                from mrmr_spark.select import binning

                cap = binning.ranged_percentiles(
                    sampled_w.select("_w_raw"), ["_w_raw"],
                    [config.weight_clip_quantile],
                )["_w_raw"][0]
                sampled_w = sampled_w.withColumn(
                    "_w_raw", F.least(F.col("_w_raw"), F.lit(float(cap)))
                )
            wmean = sampled_w.select(F.avg("_w_raw")).collect()[0][0]
            result = sampled_w.withColumn(
                "sample_weight", F.col("_w_raw") / F.lit(float(wmean) + 1e-12)
            ).drop("_w_raw", "_pi", "_res_raw", *(["_sgrp"] if shard_added else []))
            result = result.persist()
            result.count()
            return result
        finally:
            sampled.unpersist()
    finally:
        df.unpersist()
