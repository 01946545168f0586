"""Degenerate-input behavior of the selection APIs: empty frames, constant
and all-NaN columns, k=0, single rows, single-class targets — every path
must return an empty/partial selection gracefully, never crash."""

import numpy as np
import pandas as pd
import pytest

from mrmr_spark.select import select_cefsplus, select_jmi, select_mrmr


@pytest.fixture(scope="module")
def edge_df(spark):
    rng = np.random.default_rng(0)
    n = 200
    pdf = pd.DataFrame({f"x{j}": rng.normal(size=n) for j in range(4)})
    pdf["y"] = pdf["x0"] + 0.1 * rng.normal(size=n)
    pdf["const"] = 1.0
    pdf["allnan"] = np.nan
    return spark.createDataFrame(pdf).cache()


def test_constant_and_allnan_features_skipped(edge_df):
    assert select_mrmr(edge_df, ["x0", "x1", "const"], "y", 3).names == ["x0", "x1"]
    assert select_mrmr(edge_df, ["x0", "x1", "allnan"], "y", 3).names == ["x0", "x1"]


def test_nonfinite_regression_target_raises_on_both_backends(edge_df, monkeypatch):
    """Reference contract (_preprocess.py:199-201): non-finite regression y
    raises. The fused route and the wide route (the fused bound at 0) must
    enforce it identically — without the check, a non-finite y
    NaN-poisons every score (silently empty selection)."""
    from pyspark.sql import functions as F

    from mrmr_spark.select import api

    cols = ["x0", "x1", "x2"]
    for bad in (None, float("nan")):
        df_bad = edge_df.withColumn(
            "yb", F.when(F.col("x1") > 1.5, F.lit(bad)).otherwise(F.col("y"))
        )
        for max_p in (api.FUSED_REGRESSION_MAX_P, 0):
            monkeypatch.setattr(api, "FUSED_REGRESSION_MAX_P", max_p)
            with pytest.raises(ValueError, match="Non-finite values in y"):
                select_mrmr(df_bad, cols, "yb", 2, task="regression",
                            subsample=None)
    # and at a wider p=30 on the wide route (Arrow moments scan + Gram)
    rng = np.random.default_rng(5)
    n, p = 150, 30
    wide = pd.DataFrame(rng.normal(size=(n, p)), columns=[f"w{j}" for j in range(p)])
    wide["yb"] = np.where(np.arange(n) % 17 == 0, np.nan, rng.normal(size=n))
    sdfw = edge_df.sparkSession.createDataFrame(wide)
    with pytest.raises(ValueError, match="Non-finite values in y"):
        select_mrmr(sdfw, [f"w{j}" for j in range(p)], "yb", 2,
                    task="regression", subsample=None)
    monkeypatch.undo()
    assert select_mrmr(edge_df, ["x0", "allnan"], "y", 2).names == ["x0"]


def test_nonfinite_classification_target_raises(edge_df):
    """Reference contract (_preprocess.py:190-194): SQL NULL labels raise
    'Missing values', numeric NaN/inf labels raise 'Non-finite values' —
    without the check a double-typed NaN label is distinct from NULL and
    would silently factorize into its own class."""
    from pyspark.sql import functions as F

    cols = ["x0", "x1", "x2"]
    base = edge_df.withColumn("yc", (F.col("x0") > 0).cast("double"))
    with pytest.raises(ValueError, match="Missing values in y"):
        select_mrmr(
            base.withColumn("yc", F.when(F.col("x1") > 1.5, None).otherwise(F.col("yc"))),
            cols, "yc", 2, task="classification", subsample=None)
    for bad in (float("nan"), float("inf")):
        with pytest.raises(ValueError, match="Non-finite values in y"):
            select_mrmr(
                base.withColumn(
                    "yc", F.when(F.col("x1") > 1.5, F.lit(bad)).otherwise(F.col("yc"))),
                cols, "yc", 2, task="classification", subsample=None)


def test_degenerate_frames_return_empty(edge_df, monkeypatch):
    from mrmr_spark.select import api

    empty = edge_df.where("y > 1e18")
    assert select_mrmr(empty, ["x0", "x1"], "y", 2).names == []
    with monkeypatch.context() as m:  # the wide route
        m.setattr(api, "FUSED_REGRESSION_MAX_P", 0)
        assert select_mrmr(empty, ["x0", "x1"], "y", 2).names == []
    assert select_jmi(empty, ["x0", "x1"], "y", 2).names == []
    assert select_mrmr(edge_df.limit(1), ["x0", "x1"], "y", 2).names == []
    assert select_mrmr(edge_df, ["x0", "x1"], "y", 0).names == []


def test_bad_feature_columns_raise_early(edge_df):
    """Missing or non-numeric feature columns must raise ValueError naming
    the columns at the API boundary — not an unresolved-column
    AnalysisException from deep inside the first Spark job."""
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="not found.*nope"):
        select_mrmr(edge_df, ["x0", "nope"], "y", 2)
    strs = edge_df.withColumn("s", F.lit("a"))
    with pytest.raises(ValueError, match="Non-numeric.*'s'"):
        select_mrmr(strs, ["x0", "s"], "y", 2)


def test_k_exceeds_p_and_single_class(edge_df):
    from pyspark.sql import functions as F

    assert len(select_jmi(edge_df, ["x0", "x1"], "y", 9, estimator="ksg").names) == 2
    assert select_cefsplus(edge_df, ["x0", "x1", "const"], "y", 2).names == ["x0", "x1"]
    one_cls = edge_df.withColumn("c", F.lit(1))
    assert select_mrmr(one_cls, ["x0", "x1"], "c", 2, task="classification").names == []


def test_weight_normalization_overflow_safe(edge_df):
    """Huge/tiny weight scales must normalize safely (w/max before mean,
    reference _preprocess.py overflow tests) and give identical selections."""
    from pyspark.sql import functions as F

    big = edge_df.withColumn("w", F.lit(1e300))
    a = select_mrmr(edge_df, ["x0", "x1", "x2"], "y", 2).names
    b = select_mrmr(big, ["x0", "x1", "x2"], "y", 2, weight_col="w").names
    assert a == b


def test_group_cv_requires_two_groups(edge_df):
    from pyspark.sql import functions as F

    from mrmr_spark.select.autok import AutoKConfig

    one_grp = edge_df.withColumn("g", F.lit("only"))
    cfg = AutoKConfig(k_method="evaluate", strategy="group_cv", max_k=3, min_k=1)
    with pytest.raises(ValueError, match="at least 2 groups"):
        select_mrmr(one_grp, ["x0", "x1"], "y", "auto",
                    auto_k_config=cfg, group_col="g")


def test_ivf_train_empty_corpus_raises(spark):
    """ivf_train on an empty corpus must raise a clear ValueError, not an
    opaque numpy error from np.stack/rng.choice on empties — matching the
    selection APIs' degenerate-input contract above."""
    from mrmr_spark.operators.similarity import ivf_train

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty sample"):
        ivf_train(empty, dim=4, n_lists=4)
