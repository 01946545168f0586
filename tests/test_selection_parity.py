"""Ranking + score parity of the Spark selection engine vs the pandas oracle
(re-derived reference math), on the reference's own canonical fixtures
(FIXTURES.md F3/F4; mirrors sift tests/test_smoke.py, test_pandas.py,
test_optimizations.py assertion patterns)."""

import numpy as np
import pandas as pd
import pytest

import oracle_sift as oracle
from mrmr_spark.select import select_cefsplus, select_jmi, select_mrmr
from mrmr_spark.select.api import FUSED_REGRESSION_MAX_P
from mrmr_spark.select.relevance import f_classif_scores, f_regression_scores


@pytest.fixture(scope="module")
def fixture_small(spark):
    rng = np.random.default_rng(42)
    X = rng.normal(size=(500, 20))
    y_reg = X[:, 0] + 0.5 * X[:, 1] + 0.1 * rng.normal(size=500)
    y_cls = (X[:, 0] + X[:, 1] > 0).astype(int)
    cols = [f"f{i}" for i in range(20)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["target_reg"] = y_reg
    pdf["target_cls"] = y_cls
    sdf = spark.createDataFrame(pdf).repartition(6).cache()
    sdf.count()
    return pdf, sdf, cols


@pytest.fixture(scope="module")
def fixture_large(spark):
    rng = np.random.default_rng(7)
    n, p = 1000, 50
    X = rng.normal(size=(n, p))
    y = X[:, 0] + 0.5 * X[:, 1] + 0.3 * X[:, 2] + 0.1 * rng.normal(size=n)
    w = rng.uniform(0.5, 2.0, size=n)
    cols = [f"x{i}" for i in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["target"] = y
    pdf["wgt"] = w
    sdf = spark.createDataFrame(pdf).repartition(6).cache()
    sdf.count()
    return pdf, sdf, cols


def test_f_regression_parity(fixture_small):
    pdf, sdf, cols = fixture_small
    got = f_regression_scores(sdf, cols, "target_reg", None)["scores"]
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    exp = oracle.f_regression(X32, pdf["target_reg"].to_numpy(np.float32), np.ones(len(pdf)))
    assert np.allclose(got, exp, rtol=1e-8), np.max(np.abs(got - exp) / exp)


def test_f_classif_parity(fixture_small):
    pdf, sdf, cols = fixture_small
    from mrmr_spark.select.preprocess import factorize_target

    sdf2, labels = factorize_target(sdf, "target_cls")
    got = f_classif_scores(sdf2, cols, "_y_code", len(labels), None)["scores"]
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    exp = oracle.f_classif(X32, oracle.factorize_sorted(pdf["target_cls"]), np.ones(len(pdf)))
    assert np.allclose(got, exp, rtol=1e-8)


def test_mrmr_regression_parity(fixture_small):
    pdf, sdf, cols = fixture_small
    res = select_mrmr(sdf, cols, "target_reg", 5, task="regression")
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    rel = oracle.f_regression(X32, pdf["target_reg"].to_numpy(np.float32), np.ones(len(pdf)))
    exp = oracle.mrmr_classic(X32, rel, 5, np.ones(len(pdf)), "quotient", top_m=250)
    assert res.names == [cols[i] for i in exp]
    assert "f0" in res.names and len(res.names) == 5


def test_mrmr_classification_parity(fixture_small):
    pdf, sdf, cols = fixture_small
    res = select_mrmr(sdf, cols, "target_cls", 5, task="classification")
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    rel = oracle.f_classif(X32, oracle.factorize_sorted(pdf["target_cls"]), np.ones(len(pdf)))
    exp = oracle.mrmr_classic(X32, rel, 5, np.ones(len(pdf)), "quotient", top_m=250)
    assert res.names == [cols[i] for i in exp]


def test_mrmr_difference_formula(fixture_small):
    pdf, sdf, cols = fixture_small
    res = select_mrmr(sdf, cols, "target_reg", 6, task="regression", formula="difference")
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    rel = oracle.f_regression(X32, pdf["target_reg"].to_numpy(np.float32), np.ones(len(pdf)))
    exp = oracle.mrmr_classic(X32, rel, 6, np.ones(len(pdf)), "difference", top_m=250)
    assert res.names == [cols[i] for i in exp]


def test_weighted_mrmr_and_scale_invariance(fixture_large):
    pdf, sdf, cols = fixture_large
    res1 = select_mrmr(sdf, cols, "target", 8, task="regression", weight_col="wgt")
    from pyspark.sql import functions as F

    sdf10 = sdf.withColumn("wgt", F.col("wgt") * 10.0)
    res2 = select_mrmr(sdf10, cols, "target", 8, task="regression", weight_col="wgt")
    assert res1.names == res2.names  # weight-scale invariance

    w = oracle.norm_weights(pdf["wgt"].to_numpy(), len(pdf))
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    rel = oracle.f_regression(X32, pdf["target"].to_numpy(np.float32), w)
    exp = oracle.mrmr_classic(X32, rel, 8, w, "quotient", top_m=250)
    assert res1.names == [cols[i] for i in exp]
    assert "x0" in res1.names


def test_top_m_prefilter(fixture_large):
    pdf, sdf, cols = fixture_large
    res = select_mrmr(sdf, cols, "target", 5, task="regression", top_m=12)
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    rel = oracle.f_regression(X32, pdf["target"].to_numpy(np.float32), np.ones(len(pdf)))
    exp = oracle.mrmr_classic(X32, rel, 5, np.ones(len(pdf)), "quotient", top_m=12)
    assert res.names == [cols[i] for i in exp]


def test_jmi_r2_parity(fixture_small):
    pdf, sdf, cols = fixture_small
    for agg in ("sum", "min"):
        res = select_jmi(sdf, cols, "target_reg", 5, task="regression", aggregation=agg)
        X32 = oracle.impute_f32(pdf[cols].to_numpy())
        rel = oracle.f_regression(X32, pdf["target_reg"].to_numpy(np.float32), np.ones(len(pdf)))
        exp = oracle.jmi_classic(
            X32, pdf["target_reg"].to_numpy(np.float32), rel, 5, np.ones(len(pdf)),
            estimator="r2", aggregation=agg, top_m=250,
        )
        assert res.names == [cols[i] for i in exp], agg


def test_jmi_binned_classification_parity(fixture_small):
    pdf, sdf, cols = fixture_small
    res = select_jmi(sdf, cols, "target_cls", 5, task="classification")
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    ycodes = oracle.factorize_sorted(pdf["target_cls"])
    rel = oracle.f_classif(X32, ycodes, np.ones(len(pdf)))
    exp = oracle.jmi_classic(
        X32, ycodes, rel, 5, np.ones(len(pdf)),
        estimator="binned", aggregation="sum", top_m=250, y_kind="discrete",
    )
    assert res.names == [cols[i] for i in exp]


def test_edge_cases_nan_constant_strings(spark):
    """FIXTURES.md F4: NaN imputation, constant-column behavior, string labels."""
    pdf = pd.DataFrame(
        {
            "some_null": [1.0, np.nan, np.nan, 4.0, 5.0],
            "feature_a": [2.0, 2.0, 3.0, 3.0, 4.0],
            "constant": [7.0, 7.0, 7.0, 7.0, 7.0],
            "feature_b": [3.0, 2.0, 1.0, 2.0, 3.0],
            "target_cls": ["a", "a", "b", "b", "b"],
            "target_reg": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    sdf = spark.createDataFrame(pdf)
    cols = ["some_null", "feature_a", "constant", "feature_b"]
    res = select_mrmr(sdf, cols, "target_reg", 2, task="regression")
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    rel = oracle.f_regression(X32, pdf["target_reg"].to_numpy(np.float32), np.ones(5))
    exp = oracle.mrmr_classic(X32, rel, 2, np.ones(5), "quotient", top_m=250)
    assert res.names == [cols[i] for i in exp]
    assert "constant" not in res.names  # zero relevance -> filtered

    res_c = select_mrmr(sdf, cols, "target_cls", 2, task="classification")
    assert res_c.labels == ["a", "b"]
    relc = oracle.f_classif(X32, oracle.factorize_sorted(pdf["target_cls"]), np.ones(5))
    expc = oracle.mrmr_classic(X32, relc, 2, np.ones(5), "quotient", top_m=250)
    assert res_c.names == [cols[i] for i in expc]


def test_determinism(fixture_small):
    _, sdf, cols = fixture_small
    a = select_mrmr(sdf, cols, "target_reg", 5, task="regression")
    b = select_mrmr(sdf, cols, "target_reg", 5, task="regression")
    assert a.names == b.names
    assert np.allclose(a.relevance, b.relevance)


# --- gaussian / copula path ---------------------------------------------------


def test_rank_gauss_cross_range_offsets(spark):
    """The scale-safe copula scan (range-partitioned two-phase cumulative
    weight sum, same pattern as the KS ECDF) must reproduce the reference's
    weighted midrank→ndtri→standardize chain exactly when one column's
    values span MANY range partitions — exercises the cross-range offset
    join directly."""
    import pandas as pd

    from mrmr_spark.functions.ndtri import ndtri
    from mrmr_spark.select.copula import rank_gauss_transform

    rng = np.random.default_rng(29)
    n = 4000  # all-distinct >> the 8 test shuffle partitions
    x = rng.permutation(n).astype(np.float64)
    w = rng.uniform(0.5, 2.0, size=n)
    pdf = pd.DataFrame({"rk": np.arange(n), "x": x, "w": w})
    sdf = spark.createDataFrame(pdf).repartition(8)

    pins: list = []
    out = (
        rank_gauss_transform(sdf, ["x"], "w", "rk", store_f32=False, pin=pins)
        .toPandas()
        .sort_values("rk")
    )
    for d in pins:
        d.unpersist()

    # numpy oracle: reference copula.py:85-117 midrank chain
    order = np.argsort(x, kind="mergesort")
    ws = w[order]
    cum = np.concatenate([[0.0], np.cumsum(ws)[:-1]])
    u = (cum + ws / 2.0) / w.sum()
    z = ndtri(np.clip(u, 1e-6, 1.0 - 1e-6))
    zm = np.average(z, weights=ws)
    zv = np.average((z - zm) ** 2, weights=ws)
    zfin = (z - zm) / (np.sqrt(zv) if zv > 1e-12 else 1.0)
    exp = np.empty(n)
    exp[order] = zfin
    np.testing.assert_allclose(out["z_x"].to_numpy(), exp, rtol=1e-9, atol=1e-12)


def test_weighted_midranks_long(spark):
    """The public midrank surface (copula phases 1-2, SQL-oracled in the
    gate): weighted u parity vs the numpy chain, NULL u for non-finite
    values and tie determinism by row key."""
    import pandas as pd

    from mrmr_spark.select.copula import weighted_midranks

    rng = np.random.default_rng(31)
    n = 500
    x = rng.integers(0, 20, size=n).astype(np.float64)  # heavy ties
    w = rng.uniform(0.5, 2.0, size=n)
    x[7] = np.nan
    x[13] = np.inf
    pdf = pd.DataFrame({"rk": np.arange(n), "x": x, "w": w})
    sdf = spark.createDataFrame(pdf).repartition(8)

    pins: list = []
    out = (
        weighted_midranks(sdf, ["x"], "w", "rk", pin=pins)
        .toPandas()
        .sort_values("rk")
        .reset_index(drop=True)
    )
    for d in pins:
        d.unpersist()

    assert (out["col_idx"] == 0).all()
    assert np.isnan(out.loc[7, "u"]) and np.isnan(out.loc[13, "u"])

    fin = np.isfinite(x)
    # ties broken by ascending row key — same order as the engine's
    # (_val, _rk) sort, so u is deterministic and comparable elementwise
    order = np.lexsort((np.arange(n)[fin], x[fin]))
    idx = np.arange(n)[fin][order]
    ws = w[idx]
    cum = np.concatenate([[0.0], np.cumsum(ws)[:-1]])
    u_sorted = (cum + ws / 2.0) / ws.sum()
    exp = np.empty(n)
    exp[idx] = u_sorted
    np.testing.assert_allclose(
        out.loc[fin, "u"].to_numpy(), exp[fin], rtol=1e-12, atol=1e-15
    )


@pytest.fixture(scope="module")
def gauss_cache(fixture_small, spark):
    """ONE copula cache shared by every cached-gaussian parity test in this
    module (the cache is target-independent by design — reference
    copula.py:25-82 — so sharing it across tests is exactly the intended
    reuse, and it keeps the suite inside its serial wall-clock budget)."""
    from pyspark.sql import functions as F

    from mrmr_spark.select.cache import build_cache

    pdf, sdf, cols = fixture_small
    sdf2 = sdf.withColumn("target2", F.col("f2") + 0.3 * F.col("f3"))
    cache = build_cache(sdf2, cols, subsample=None)
    yield cache
    cache.unpersist()


def test_cefsplus_parity_and_objective(fixture_small):
    """CEFS+ names AND objective path vs the oracle in one call (greedy
    selection is nested, so the k=8 run covers every shorter prefix)."""
    pdf, sdf, cols = fixture_small
    res = select_cefsplus(sdf, cols, "target_reg", 8, subsample=None, return_objective=True)
    exp, exp_obj = oracle.gaussian_select(
        pdf[cols].to_numpy(), pdf["target_reg"].to_numpy(), 8,
        method="cefsplus", return_objective=True,
    )
    assert res.names == [cols[i] for i in exp]
    assert "f0" in res.names
    obj = res.extras["objective"]
    assert len(obj) == 8
    assert (np.diff(obj) >= -1e-8).all()
    assert np.allclose(obj, exp_obj, rtol=1e-6, atol=1e-9)


def test_gaussian_mrmr_and_jmi_parity(fixture_small, gauss_cache):
    pdf, sdf, cols = fixture_small
    X = pdf[cols].to_numpy()
    y = pdf["target_reg"].to_numpy()
    res = select_mrmr(sdf, cols, "target_reg", 5, task="regression", estimator="gaussian", subsample=None)
    exp = oracle.gaussian_select(X, y, 5, method="mrmr_quot")
    assert res.names == [cols[i] for i in exp]

    from mrmr_spark.select.cache import select_cached

    for method in ("jmi", "jmim", "mrmr_diff"):
        got = select_cached(gauss_cache, "target_reg", 5, method=method)
        want = oracle.gaussian_select(X, y, 5, method=method)
        assert got.names == [cols[i] for i in want], method


def test_cache_reuse_across_targets(fixture_small, gauss_cache):
    """Z cache built once serves multiple targets (test_cefsplus.py:18-34)."""
    pdf, sdf, cols = fixture_small
    from mrmr_spark.select.cache import select_cached

    r1 = select_cached(gauss_cache, "target_reg", 4)
    r2 = select_cached(gauss_cache, "target2", 4)
    assert "f0" in r1.names
    assert "f2" in r2.names
    assert r1.names != r2.names


def test_cache_row_key_col(fixture_small, gauss_cache, spark):
    """Caller-supplied row key (build_cache(row_key_col=...)): on tie-free
    data the copula z is key-independent, so the selection must equal the
    default mono-id cache's; duplicate keys must fail loud (they would
    silently collapse rows in the wide-Z reassembly)."""
    import numpy as np

    from mrmr_spark.select.cache import build_cache, select_cached

    pdf, sdf, cols = fixture_small
    keyed = spark.createDataFrame(pdf.assign(_rk=np.arange(len(pdf))))
    cache = build_cache(keyed, cols, subsample=None, row_key_col="_rk")
    try:
        got = select_cached(cache, "target_reg", 5, method="mrmr_quot")
        want = select_cached(gauss_cache, "target_reg", 5, method="mrmr_quot")
        assert got.names == want.names
    finally:
        cache.unpersist()

    dup = spark.createDataFrame(pdf.assign(_rk=np.arange(len(pdf)) % 100))
    with pytest.raises(ValueError, match="not unique"):
        build_cache(dup, cols, subsample=None, row_key_col="_rk")


def test_rank_gauss_driver_backend_equality(fixture_large, spark):
    """The bounded driver rank-gauss kernel (copula.py rank_gauss_numpy)
    vs the distributed melt: same Z values (f32-quantized; the quantize
    absorbs sum-reassociation) and identical selections, on WEIGHTED data
    with a caller row key so the tie order is pinned on both backends.
    The unweighted twin is also gate-oracled end to end
    (gaussian_mrmr_cached vs gaussian_mrmr_cached_driver share one SQL
    oracle)."""
    import numpy as np

    from mrmr_spark.select.cache import ROW_KEY, build_cache, select_cached

    pdf, sdf, cols = fixture_large
    keyed = spark.createDataFrame(pdf.assign(_rk=np.arange(len(pdf))))
    cachea = build_cache(
        keyed, cols, weight_col="wgt", subsample=None, row_key_col="_rk",
        driver_max_cells=0,          # force distributed
    )
    cacheb = build_cache(
        keyed, cols, weight_col="wgt", subsample=None, row_key_col="_rk",
        driver_max_cells=10**9,      # force driver
    )
    try:
        za = cachea.z.toPandas().sort_values(ROW_KEY).reset_index(drop=True)
        zb = cacheb.z.toPandas().sort_values(ROW_KEY).reset_index(drop=True)
        assert list(za.columns) == list(zb.columns)
        zcols = [c for c in za.columns if c.startswith("z_")]
        np.testing.assert_allclose(
            za[zcols].to_numpy(), zb[zcols].to_numpy(), rtol=0, atol=1.2e-7
        )
        for method in ("cefsplus", "mrmr_quot"):
            ra = select_cached(cachea, "target", 5, method=method)
            rb = select_cached(cacheb, "target", 5, method=method)
            assert ra.names == rb.names, method
    finally:
        cachea.unpersist()
        cacheb.unpersist()


def test_ks_classif_parity(fixture_small):
    """C3: Spark window-ECDF KS vs the NumPy ks_2samp re-derivation
    (reference relevance.py:110-131 — unweighted, mean one-vs-rest)."""
    from mrmr_spark.select.preprocess import factorize_target
    from mrmr_spark.select.relevance import ks_classif_scores

    pdf, sdf, cols = fixture_small
    sdf2, labels = factorize_target(sdf, "target_cls")
    means = pdf[cols].to_numpy(np.float64).mean(axis=0)
    got = ks_classif_scores(sdf2, cols, "_y_code", len(labels), means)
    X32 = oracle.impute_f32(pdf[cols].to_numpy())
    exp = oracle.ks_classif(X32, pdf["target_cls"].to_numpy())
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12), np.max(np.abs(got - exp))
    # and the planted signal dominates
    assert set(np.argsort(-got)[:2]) == {0, 1}


def test_ks_classif_cross_range_offsets(spark):
    """The scale-safe ECDF (range-partitioned two-phase cumulative sum,
    round-2 verdict #3) must stay exact when one feature's distinct-value
    set spans MANY range partitions — exercises the cross-range offset
    join, not just the in-range window."""
    import pandas as pd

    from mrmr_spark.select.relevance import ks_classif_scores

    rng = np.random.default_rng(19)
    n = 4000  # all-distinct values >> shuffle partitions (8 in tests)
    x = rng.permutation(n).astype(np.float64)
    y = (x + rng.normal(scale=800.0, size=n) > n / 2).astype(np.int64)
    pdf = pd.DataFrame({"f": x, "yc": y})
    sdf = spark.createDataFrame(pdf).repartition(8)

    got = ks_classif_scores(sdf, ["f"], "yc", 2, np.array([x.mean()]))

    # numpy oracle: mean one-vs-rest two-sample KS
    order = np.argsort(x, kind="mergesort")
    xs, ys = x[order], y[order]
    stats = []
    for c in (0, 1):
        nc, nr = (ys == c).sum(), (ys != c).sum()
        ecdf_c = np.cumsum(ys == c) / nc
        ecdf_r = np.cumsum(ys != c) / nr
        stats.append(np.max(np.abs(ecdf_c - ecdf_r)))
    assert np.allclose(got[0], np.mean(stats), rtol=1e-12)


def test_select_mrmr_ks_relevance(fixture_small):
    """select_mrmr(relevance='ks') end-to-end (reference api.py:341-346)."""
    pdf, sdf, cols = fixture_small
    res = select_mrmr(sdf, cols, "target_cls", 4, task="classification", relevance="ks")
    assert len(res.names) == 4
    assert {"f0", "f1"} & set(res.names[:2])


def test_select_mrmr_rf_relevance(fixture_small, monkeypatch):
    """C4: relevance='rf' (Spark ML RF importances; approximate tier —
    planted-signal recovery, reference relevance.py:134-161). Forest size
    trimmed from the 100-tree default: signal recovery on the planted
    fixture is stable from ~30 trees and the fit time is the suite's cost."""
    import functools

    from mrmr_spark.select import api as api_mod

    pdf, sdf, cols = fixture_small
    monkeypatch.setattr(
        api_mod.rel_est, "rf_relevance_scores",
        functools.partial(api_mod.rel_est.rf_relevance_scores, n_estimators=30),
    )
    res = select_mrmr(sdf, cols, "target_reg", 4, task="regression", relevance="rf")
    assert len(res.names) == 4
    assert "f0" in res.names[:2]
    res_c = select_mrmr(sdf, cols, "target_cls", 4, task="classification", relevance="rf")
    assert len(res_c.names) == 4
    assert {"f0", "f1"} & set(res_c.names[:2])


def test_relevance_dispatch_validation(fixture_small):
    """Invalid (task, relevance) combos raise, mirroring api.py:349-353."""
    pdf, sdf, cols = fixture_small
    with pytest.raises(ValueError, match="not valid"):
        select_mrmr(sdf, cols, "target_reg", 3, task="regression", relevance="ks")
    with pytest.raises(ValueError, match="not valid"):
        select_mrmr(sdf, cols, "target_cls", 3, task="classification", relevance="mi")


def test_jmi_binned_distributed_matches_collected(fixture_small):
    """subsample=None routes the binned estimator through per-step
    distributed composite-code histograms; selection must match the
    collected-codes driver loop (and hence the oracle)."""
    pdf, sdf, cols = fixture_small
    # classification exercises the JMIM (min) aggregation; regression
    # (binned y) exercises the y-binning leg — together they cover both
    # estimator states of the distributed per-step histogram path
    a = select_jmi(sdf, cols, "target_cls", 3, task="classification",
                   aggregation="min")                    # collected (50k budget)
    b = select_jmi(sdf, cols, "target_cls", 3, task="classification",
                   aggregation="min", subsample=None)    # distributed
    assert a.names == b.names
    a = select_jmi(sdf, cols, "target_reg", 3, task="regression", estimator="binned")
    b = select_jmi(sdf, cols, "target_reg", 3, task="regression", estimator="binned",
                   subsample=None)
    assert a.names == b.names


def test_single_pass_default_and_forced_2scan(fixture_small, monkeypatch):
    """The no-persist single-pass scan is the plan up to
    FUSED_REGRESSION_MAX_P features (round-3 measurement: faster at every
    scale tested AND the only viable plan at 100 TB); with the bound at 0
    the same call takes the wide two-scan route (moments scan + candidate
    Gram) — and both select identically."""
    import inspect

    from mrmr_spark.select import api as api_mod
    from mrmr_spark.select import relevance as rel_mod

    pdf, sdf, cols = fixture_small

    seen = []
    orig = rel_mod.fused_regression_stats

    def spy(*a, **kw):
        bound = inspect.signature(orig).bind(*a, **kw)
        seen.append(bound.arguments.get("single_pass", False))
        return orig(*a, **kw)

    monkeypatch.setattr(api_mod.rel_est, "fused_regression_stats", spy)

    r_sp = select_mrmr(sdf, cols, "target_reg", 3, task="regression")
    assert seen == [True]  # default = one no-persist Arrow scan

    monkeypatch.setattr(api_mod, "FUSED_REGRESSION_MAX_P", 0)
    r_2s = select_mrmr(sdf, cols, "target_reg", 3, task="regression")
    assert seen == [True]  # the wide route runs no fused scan
    assert r_sp.names == r_2s.names


def _np_moments(X, y32, w):
    """NumPy definition of the moment statistics the relevance scans
    return: f32 impute of non-finite entries with the raw f64 finite mean,
    then weighted means/stds, the unweighted sumsq around the impute mean
    (constant-column pruning) and the weighted y mean."""
    fin = np.isfinite(X)
    nfin = fin.sum(axis=0)
    m = np.where(nfin > 0, np.where(fin, X, 0.0).sum(axis=0) / np.maximum(nfin, 1), 0.0)
    m32 = m.astype(np.float32).astype(np.float64)
    X32 = oracle.impute_f32(X).astype(np.float64)
    sw = w.sum()
    wm = (w @ X32) / sw
    var = (w @ ((X32 - wm) ** 2)) / sw
    return {
        "impute_means": m32,
        "wmeans": wm,
        "wstds": np.where(var > 1e-12, np.sqrt(var), 1.0),
        "x_ss_unw": ((X32 - m32) ** 2).sum(axis=0),
        "y_wmean": float(w @ y32.astype(np.float64)) / sw,
    }


def test_wide_moments_singlepass_parity(spark):
    """The O(p) Arrow moment scans behind ``f_regression_scores`` and
    ``f_classif_scores`` must reproduce the NumPy oracle — F scores from
    ``oracle_sift`` plus the impute means, weighted means/stds and pruning
    sumsq the downstream Gram and cache reuse — under NaN/−inf entries and
    weights, at a narrow (p=3) and a wider (p=10) width."""
    from mrmr_spark.select.preprocess import factorize_target

    rng = np.random.default_rng(33)
    n, p = 2500, 10
    X = rng.normal(loc=rng.uniform(-8, 8, p), scale=rng.uniform(0.5, 3, p),
                   size=(n, p))
    y_clean = X[:, 0] * 0.4 + rng.normal(size=n)  # y must stay finite
    X[rng.random((n, p)) < 0.04] = np.nan
    X[rng.random((n, p)) < 0.01] = -np.inf
    cols = [f"x{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = y_clean
    pdf["yc"] = [f"c{v}" for v in rng.integers(0, 3, size=n)]
    pdf["w"] = rng.uniform(0.2, 2.5, size=n)
    sdf = spark.createDataFrame(pdf).repartition(7).cache()
    sdf.count()
    sdf2, labels = factorize_target(sdf, "yc")
    codes = oracle.factorize_sorted(pdf["yc"])
    y32 = pdf["y"].to_numpy(np.float32)

    for width in (3, p):
        use = cols[:width]
        Xw = X[:, :width]
        X32 = oracle.impute_f32(Xw)
        for wcol in (None, "w"):
            w = pdf["w"].to_numpy() if wcol else np.ones(n)
            exp = _np_moments(Xw, y32, w)
            tag = f"p={width} w={wcol}"

            got = f_regression_scores(sdf, use, "y", wcol)
            np.testing.assert_allclose(got["scores"], oracle.f_regression(X32, y32, w),
                                       rtol=1e-8, err_msg=f"scores {tag}")
            for key in ("wmeans", "wstds", "impute_means", "x_ss_unw"):
                np.testing.assert_allclose(got[key], exp[key], rtol=1e-9,
                                           atol=1e-9, err_msg=f"{key} {tag}")
            assert got["y_wmean"] == pytest.approx(exp["y_wmean"], rel=1e-9)

            got_c = f_classif_scores(sdf2, use, "_y_code", len(labels), wcol)
            np.testing.assert_allclose(got_c["scores"], oracle.f_classif(X32, codes, w),
                                       rtol=1e-8, err_msg=f"cls scores {tag}")
            for key in ("wmeans", "wstds", "impute_means"):
                np.testing.assert_allclose(got_c[key], exp[key], rtol=1e-9,
                                           atol=1e-9, err_msg=f"cls {key} {tag}")
    sdf.unpersist()


def test_wide_cache_build_oracle_parity(spark):
    """build_cache/select_cached route the pruning moments through the
    Arrow moments scan — the gaussian selection must match the pandas
    oracle exactly."""
    from mrmr_spark.select.cache import build_cache, select_cached

    rng = np.random.default_rng(41)
    n, p = 600, 12
    X = rng.normal(size=(n, p))
    cols = [f"g{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = X[:, 0] + 0.5 * X[:, 1] + 0.1 * rng.normal(size=n)
    sdf = spark.createDataFrame(pdf).repartition(5).cache()
    sdf.count()

    cache = build_cache(sdf, cols, subsample=None)
    try:
        got = select_cached(cache, "y", 5, method="mrmr_quot")
    finally:
        cache.unpersist()
    exp = oracle.gaussian_select(X, pdf["y"].to_numpy(), 5, method="mrmr_quot")
    assert got.names == [cols[i] for i in exp]


def test_plan_log_captures_narrow_selection_scans(spark, monkeypatch):
    """Every selection scan goes through ``kernels.PLAN_LOG`` — the narrow
    (p=3) relevance and cache-build moment scans included — and each
    captured plan is a single Arrow reduction: exactly one Python node."""
    import re

    from mrmr_spark.select import kernels
    from mrmr_spark.select.cache import build_cache
    from mrmr_spark.select.preprocess import factorize_target

    rng = np.random.default_rng(3)
    n = 400
    cols = ["a", "b", "c"]
    pdf = pd.DataFrame(rng.normal(size=(n, 3)), columns=cols)
    pdf["y"] = pdf["a"] + 0.1 * rng.normal(size=n)
    pdf["yc"] = (pdf["b"] > 0).astype(int)
    sdf = spark.createDataFrame(pdf).repartition(3)
    sdf2, labels = factorize_target(sdf, "yc")

    log: list[str] = []
    monkeypatch.setattr(kernels, "PLAN_LOG", log)
    calls = {
        "f_regression_scores": lambda: f_regression_scores(sdf, cols, "y"),
        "f_classif_scores": lambda: f_classif_scores(sdf2, cols, "_y_code", len(labels)),
        "build_cache": lambda: build_cache(sdf, cols, subsample=None).unpersist(),
    }
    python_node = r"(ArrowEvalPython|BatchEvalPython|MapInArrow|FlatMapGroupsInPandas|MapInPandas)"
    for name, call in calls.items():
        before = len(log)
        call()
        plans = log[before:]
        assert plans, f"{name}: no plan captured"
        for plan in plans:
            final = plan.split("== Initial Plan ==")[0]
            assert len(re.findall(python_node, final)) == 1, (name, final)


def test_cached_top_m_two_job_lifecycle(spark, monkeypatch):
    """When top_m < p, select_cached must run the SURVEY §3.2 two-job
    lifecycle: an O(p) r-vector scan ranks all features, and the Gram pass
    sees ONLY the top_m candidate columns (accumulator sized by len(cand),
    not p) — and the selection still matches the pandas oracle given the
    same prefilter."""
    from mrmr_spark.select import kernels
    from mrmr_spark.select.cache import build_cache, select_cached

    rng = np.random.default_rng(17)
    n, p, tm, k = 500, 30, 8, 4
    X = rng.normal(size=(n, p))
    cols = [f"h{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = 2.0 * X[:, 3] - X[:, 7] + 0.1 * rng.normal(size=n)
    sdf = spark.createDataFrame(pdf).repartition(4).cache()
    sdf.count()

    gram_widths: list[int] = []
    real_gram = kernels.gram_pass

    def spy(df, feature_cols, *a, **kw):
        gram_widths.append(len(feature_cols))
        return real_gram(df, feature_cols, *a, **kw)

    cache = build_cache(sdf, cols, subsample=None)
    try:
        monkeypatch.setattr(kernels, "gram_pass", spy)
        got = select_cached(cache, "y", k, method="mrmr_quot", top_m=tm)
    finally:
        monkeypatch.setattr(kernels, "gram_pass", real_gram)
        cache.unpersist()
        sdf.unpersist()
    assert gram_widths == [tm], gram_widths  # Gram sized by candidates, not p
    exp = oracle.gaussian_select(
        X, pdf["y"].to_numpy(), k, method="mrmr_quot", top_m=tm
    )
    assert got.names == [cols[i] for i in exp]


def test_wide_f_path_runs_no_persist(spark, monkeypatch):
    """Regression p > FUSED_REGRESSION_MAX_P with relevance='f' reads the
    matrix exactly twice (one Arrow moments scan + the candidate Gram) —
    below the >= 3-execution persist threshold, so the general path must
    NOT persist: at 10¹² rows a MEMORY_AND_DISK persist is exactly the
    materialization the single-pass redesign avoids. Classification wide
    executes the lineage a THIRD time (factorize_target's label distinct)
    and so persists exactly once; ks/rf keep theirs too.

    NOTE: the spy must patch the CLASSIC DataFrame class — in PySpark 4
    ``pyspark.sql.DataFrame`` is the abstract base and the classic
    subclass overrides ``persist``, so a base-class patch never fires
    (an earlier version of this test was vacuous for exactly that
    reason)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    rng = np.random.default_rng(23)
    n, p = 400, FUSED_REGRESSION_MAX_P + 6
    X = rng.normal(size=(n, p))
    cols = [f"w{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = X[:, 2] + 0.2 * rng.normal(size=n)
    pdf["yc"] = (X[:, 2] > 0).astype(int).astype(str)
    sdf = spark.createDataFrame(pdf)

    persists: list[str] = []
    real_persist = ClassicDF.persist

    def spy(self, *a, **kw):
        persists.append("persist")
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(ClassicDF, "persist", spy)
    res = select_mrmr(sdf, cols, "y", 3, task="regression", subsample=None)
    res_j = select_jmi(sdf, cols, "y", 3, task="regression", estimator="r2",
                       subsample=None)
    assert persists == [], persists  # regression f/r2: zero persists
    res_c = select_mrmr(sdf, cols, "yc", 3, task="classification", subsample=None)
    assert persists == ["persist"], persists  # classification: exactly one
    # a SAMPLED lineage inverts the tradeoff: df is a global sort-limit over
    # the full input, and re-executing it per kernel scan costs two
    # full-source sorts to avoid caching ~subsample rows — so it persists.
    persists.clear()
    res_s = select_mrmr(sdf, cols, "y", 3, task="regression", subsample=300)
    monkeypatch.setattr(ClassicDF, "persist", real_persist)
    assert persists == ["persist"], persists  # sampled regression f: one
    assert res.names[0] == "w2" and res_c.names[0] == "w2"
    assert res_j.names[0] == "w2" and res_s.names[0] == "w2"


def test_default_selection_plan_shapes(spark, monkeypatch):
    """Physical-plan invariants of the default selection paths (the PLANS.md
    selection-scan audit, as a regression test): fused p<=64 runs exactly ONE
    kernel scan, the wide f-path exactly TWO (moments + candidate Gram), and
    every scan is a single MapInArrow stage with no exchange and no
    InMemoryRelation — the matrix is never shuffled or materialized."""
    from mrmr_spark.select import kernels

    rng = np.random.default_rng(31)

    def run(p):
        n = 300
        X = rng.normal(size=(n, p))
        cols = [f"s{j}" for j in range(p)]
        pdf = pd.DataFrame(X, columns=cols)
        pdf["y"] = X[:, 1] + 0.2 * rng.normal(size=n)
        sdf = spark.createDataFrame(pdf)
        monkeypatch.setattr(kernels, "PLAN_LOG", [])
        select_mrmr(sdf, cols, "y", 3, task="regression", subsample=None)
        return kernels.PLAN_LOG

    for p, expected_scans in ((8, 1), (FUSED_REGRESSION_MAX_P + 6, 2)):
        plans = run(p)
        assert len(plans) == expected_scans, (p, len(plans))
        for s in plans:
            s = s.split("== Initial Plan ==")[0]
            assert s.count("MapInArrow") == 1, s
            assert "Exchange" not in s, s
            assert "InMemory" not in s, s


def test_fused_kernels_tree_combine_many_partitions(spark):
    """Past TREE_COMBINE_THRESHOLD partitions the fused kernels pre-merge
    accumulators executor-side (Chan for centered blocks, plain sum for the
    rest) before the driver collect — results must be identical to the
    multi-pass paths through that combine."""
    from mrmr_spark.select.preprocess import factorize_target
    from mrmr_spark.select.relevance import (
        f_classif_scores,
        fused_classification_stats,
        fused_regression_stats,
    )

    rng = np.random.default_rng(21)
    n, p = 2000, 5
    X = rng.normal(loc=3.0, size=(n, p))
    cols = [f"x{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    # derive y BEFORE contaminating X: non-finite y is a ValueError by the
    # reference's contract (tested separately); this test is about combines
    pdf["y"] = X[:, 0] + rng.normal(size=n)
    X[rng.random((n, p)) < 0.05] = np.nan
    pdf[cols] = X
    pdf["yc"] = (rng.random(n) * 3).astype(int).astype(str)
    sdf = spark.createDataFrame(pdf).repartition(100).cache()  # > threshold (64)
    sdf.count()

    a = fused_regression_stats(sdf, cols, "y", None, True, single_pass=False)
    b = fused_regression_stats(sdf, cols, "y", None, True, single_pass=True)
    for key in ("scores", "wmeans", "wstds", "impute_means"):
        np.testing.assert_allclose(b[key], a[key], rtol=1e-9, atol=1e-12, err_msg=key)
    np.testing.assert_allclose(b["R"], a["R"], rtol=1e-9, atol=1e-12)

    sdf2, labels = factorize_target(sdf, "yc")
    m = f_classif_scores(sdf2, cols, "_y_code", len(labels), None)
    f = fused_classification_stats(sdf2, cols, "_y_code", len(labels), None)
    for key in ("scores", "wmeans", "wstds", "impute_means"):
        np.testing.assert_allclose(f[key], m[key], rtol=1e-9, atol=1e-12, err_msg=key)

    # fold-keyed kernel through the same combine: leave-one-fold-out stats
    # at 100 partitions must match the direct fused stats on the filtered
    # split at 8 partitions (NaN contamination included)
    from pyspark.sql import functions as F

    from mrmr_spark.select.kernels import fused_foldwise_stats, finish_loo_stats

    n_folds = 3
    folded = sdf.withColumn(
        "_fold", F.pmod(F.xxhash64((F.col("y") * 1000).cast("long")), F.lit(n_folds))
    ).cache()
    folded.count()
    accs = fused_foldwise_stats(folded, cols, "y", "_fold", n_folds, None,
                                quantize_f32=False)
    st = finish_loo_stats(accs, 0, p, quantize_f32=False)
    direct = fused_regression_stats(
        folded.where(F.col("_fold") != 0).repartition(8), cols, "y", None,
        quantize_f32=False, single_pass=True,
    )["pass1"]
    for key in ("impute_means", "col_wmeans", "c_y"):
        np.testing.assert_allclose(st[key], direct[key], rtol=1e-9,
                                   atol=1e-12, err_msg=key)
    np.testing.assert_allclose(st["C"], direct["C"], rtol=1e-9, atol=1e-9)
    assert st["sw"] == pytest.approx(float(direct["sw"]), rel=1e-12)
    folded.unpersist()


def test_fused_classification_matches_multipass(spark, monkeypatch):
    """The one-scan classification backend (augmented Gram + per-class
    imputed-moment algebra) must reproduce the persisted multi-pass path's
    ANOVA-F scores, standardization stats and correlation matrix — under
    NaN/inf contamination and weights."""
    from mrmr_spark.select.preprocess import factorize_target
    from mrmr_spark.select.relevance import f_classif_scores, fused_classification_stats

    rng = np.random.default_rng(17)
    n, p, C = 3000, 8, 3
    X = rng.normal(loc=rng.uniform(-5, 5, p), scale=rng.uniform(0.5, 3, p),
                   size=(n, p))
    y = rng.integers(0, C, size=n)
    X[:, 0] += 2.0 * y  # planted signal
    X[rng.random((n, p)) < 0.04] = np.nan
    X[rng.random((n, p)) < 0.01] = np.inf
    w = rng.uniform(0.1, 3.0, n)
    cols = [f"x{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = [f"c{v}" for v in y]
    pdf["w"] = w
    sdf = spark.createDataFrame(pdf).repartition(7).cache()
    sdf.count()

    sdf2, labels = factorize_target(sdf, "y")
    for wcol in (None, "w"):
        multi = f_classif_scores(sdf2, cols, "_y_code", len(labels), wcol)
        fused = fused_classification_stats(sdf2, cols, "_y_code", len(labels), wcol)
        for key in ("scores", "wmeans", "wstds", "impute_means"):
            np.testing.assert_allclose(fused[key], multi[key], rtol=1e-9,
                                       atol=1e-12, err_msg=f"{key} w={wcol}")
        assert np.isclose(fused["sw"], multi["sw"])
        # R parity vs an explicit candidate-gram on the same stats
        from mrmr_spark.select import kernels
        gram = kernels.gram_pass(
            sdf2, cols, wcol, multi["impute_means"], multi["wmeans"],
            multi["wstds"], quantize_f32=True, clip=None,
        )
        np.testing.assert_allclose(fused["R"], gram["R"], rtol=1e-9, atol=1e-12)
    assert np.argmax(fused["scores"]) == 0  # the planted signal wins

    # end-to-end: the fused default and the wide route (bound at 0) select
    # identically through select_mrmr
    from mrmr_spark.select import api as api_mod

    a = select_mrmr(sdf, cols, "y", 3, task="classification")
    monkeypatch.setattr(api_mod, "FUSED_REGRESSION_MAX_P", 0)
    b = select_mrmr(sdf, cols, "y", 3, task="classification")
    assert a.names == b.names and a.labels == b.labels


def test_single_pass_backend_matches_two_pass(spark, monkeypatch):
    """The no-persist single-Arrow-scan plan (indicator-augmented Gram +
    Chan merge + affine imputation algebra) must reproduce the two-scan
    plan's statistics (Arrow moments scan + Gram) and, through
    select_mrmr, the wide route's selections — including under NaN/inf
    contamination and weights."""
    from mrmr_spark.select import api as api_mod
    from mrmr_spark.select.relevance import fused_regression_stats

    rng = np.random.default_rng(11)
    n, p = 6000, 10
    X = rng.normal(loc=rng.uniform(-30, 30, p), scale=rng.uniform(0.5, 4, p),
                   size=(n, p))
    y = X[:, 0] * 0.5 + X[:, 3] * 0.2 + rng.normal(size=n)  # finite
    X[rng.random((n, p)) < 0.04] = np.nan
    X[rng.random((n, p)) < 0.01] = np.inf
    w = rng.uniform(0.1, 3.0, n)
    cols = [f"x{j}" for j in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = y
    pdf["w"] = w
    sdf = spark.createDataFrame(pdf).repartition(7).cache()
    sdf.count()

    for wcol in (None, "w"):
        s1 = fused_regression_stats(sdf, cols, "y", wcol, True, single_pass=False)
        s2 = fused_regression_stats(sdf, cols, "y", wcol, True, single_pass=True)
        for k in ("scores", "wmeans", "wstds", "impute_means", "r_y"):
            np.testing.assert_allclose(s1[k], s2[k], rtol=1e-9, atol=1e-12, err_msg=k)
        np.testing.assert_allclose(s1["R"], s2["R"], rtol=1e-7, atol=1e-10)

    a = select_mrmr(sdf, cols, "y", 5, task="regression", subsample=None)
    monkeypatch.setattr(api_mod, "FUSED_REGRESSION_MAX_P", 0)
    b = select_mrmr(sdf, cols, "y", 5, task="regression", subsample=None)
    assert a.names == b.names


def test_digamma_accuracy():
    from mrmr_spark.select.loops import digamma

    # ψ(1) = -γ, ψ(2) = 1-γ, ψ(10) and ψ(100) from tables
    gamma = 0.5772156649015329
    got = digamma(np.array([1.0, 2.0, 10.0, 100.0]))
    exp = np.array([-gamma, 1 - gamma, 2.251752589066721, 4.600161852738087])
    np.testing.assert_allclose(got, exp, atol=1e-10)


def test_ksg_estimator_statistical_sanity():
    """KSG brute-force variant: near-zero MI for independent variables,
    near the analytic Gaussian MI for correlated ones (the reference's
    estimator-quality tier; bit-parity impossible without scipy)."""
    from mrmr_spark.select.loops import ksg_joint_mi

    rng = np.random.default_rng(0)
    n = 1500
    y = rng.normal(size=n)
    s = rng.normal(size=n)                      # independent of y
    f_ind = rng.normal(size=(n, 1))             # independent candidate
    rho = 0.8
    f_cor = (rho * y + np.sqrt(1 - rho**2) * rng.normal(size=n)).reshape(-1, 1)

    mi_ind = ksg_joint_mi(s, f_ind, y)[0]
    mi_cor = ksg_joint_mi(s, f_cor, y)[0]
    analytic = -0.5 * np.log(1 - rho**2)        # ≈ 0.511 nats
    assert mi_ind < 0.05
    assert abs(mi_cor - analytic) < 0.12
    assert mi_cor > mi_ind + 0.3


def test_jmi_ksg_selects_signal(fixture_small):
    pdf, sdf, cols = fixture_small
    res = select_jmi(sdf, cols, "target_reg", 4, task="regression",
                     estimator="ksg")
    assert {"f0", "f1"}.issubset(set(res.names))
    with pytest.raises(ValueError, match="regression-only"):
        select_jmi(sdf, cols, "target_cls", 3, task="classification",
                   estimator="ksg")
