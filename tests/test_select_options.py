"""Bad selection options and a non-finite target are rejected at the API
boundary with a ValueError that names the problem.

A misspelled option is rejected before any Spark job runs. A non-finite
target is rejected on the gaussian path too (the copula would otherwise
rank a NaN as an ordinary value), with at most one small aggregate over
the persisted cache source. Either way no persisted frame is left behind.
"""

import numpy as np
import pandas as pd
import pytest

from mrmr_spark.select import select_cefsplus, select_jmi, select_mrmr
from mrmr_spark.select.autok import AutoKConfig, select_k_evaluate
from mrmr_spark.select.cache import build_cache, select_cached

COLS = ["x0", "x1", "x2"]


def _auto(task="regression", group_col="x2", time_col=None, **cfg):
    """select_mrmr(k="auto") under ``AutoKConfig(**cfg)``."""
    return lambda df, c: select_mrmr(
        df, COLS, "y", "auto", task=task, auto_k_config=AutoKConfig(**cfg),
        group_col=group_col, time_col=time_col,
    )


def _pdf(nan_y: bool, seed: int = 5) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(rng.normal(size=(300, 3)), columns=COLS)
    pdf["y"] = pdf["x0"] + 0.1 * rng.normal(size=300)
    if nan_y:
        pdf.loc[7, "y"] = np.nan
    return pdf


@pytest.fixture(scope="module")
def frames(spark):
    return {
        "ok": spark.createDataFrame(_pdf(False)),
        "nan_y": spark.createDataFrame(_pdf(True)),
    }


@pytest.fixture(scope="module")
def nan_y_cache(spark):
    cache = build_cache(spark.createDataFrame(_pdf(True, seed=6)), COLS, subsample=None)
    yield cache
    cache.unpersist()


CASES = [
    # (id, frame, call, message, max new jobs)
    ("jmi-estimator", "ok",
     lambda df, c: select_jmi(df, COLS, "y", 2, estimator="foo"),
     "Unknown estimator: 'foo'", 0),
    ("mrmr-formula", "ok",
     lambda df, c: select_mrmr(df, COLS, "y", 2, formula="quotiant"),
     "Unknown formula: 'quotiant'", 0),
    ("mrmr-estimator", "ok",
     lambda df, c: select_mrmr(df, COLS, "y", 2, estimator="gausian"),
     "Unknown estimator: 'gausian'", 0),
    ("jmi-aggregation", "ok",
     lambda df, c: select_jmi(df, COLS, "y", 2, aggregation="mean"),
     "Unknown aggregation: 'mean'", 0),
    ("jmi-task", "ok",
     lambda df, c: select_jmi(df, COLS, "y", 2, task="regresion"),
     "Unknown task: 'regresion'", 0),
    ("cached-method", "nan_y",
     lambda df, c: select_cached(c, "y", 2, method="mrmr_quotient"),
     "Unknown method: 'mrmr_quotient'", 0),
    ("cached-nan-y", "nan_y",
     lambda df, c: select_cached(c, "y", 2),
     "Non-finite values in y", 1),
    ("gaussian-nan-y", "nan_y",
     lambda df, c: select_mrmr(df, COLS, "y", 2, estimator="gaussian", subsample=None),
     "Non-finite values in y", None),
    ("cefsplus-nan-y", "nan_y",
     lambda df, c: select_cefsplus(df, COLS, "y", 2, subsample=None),
     "Non-finite values in y", None),
    # a bad AutoKConfig is rejected before the selection path runs
    ("autok-strategy", "ok", _auto(strategy="foo"), "Unknown strategy: 'foo'", 0),
    ("autok-k-method", "ok", _auto(k_method="elbw"), "Unknown k_method: 'elbw'", 0),
    ("autok-metric-name", "ok", _auto(strategy="group_cv", metric="rmsee"),
     "Unknown metric: 'rmsee'", 0),
    ("autok-metric-name-classification", "ok",
     _auto(task="classification", strategy="group_cv", metric="foo"),
     "Unknown metric: 'foo'", 0),
    ("autok-metric-task", "ok", _auto(strategy="group_cv", metric="logloss"),
     "metric='logloss' is invalid for task='regression'", 0),
    ("autok-n-splits", "ok", _auto(strategy="group_cv", n_splits=1),
     "n_splits >= 2", 0),
    ("autok-val-frac", "ok", _auto(time_col="x2", val_frac=1.5), "0 < val_frac < 1", 0),
    ("autok-group-col", "ok", _auto(group_col=None, strategy="group_cv"),
     "requires group_col", 0),
    ("autok-time-col", "ok", _auto(strategy="time_holdout"), "requires time_col", 0),
    ("evaluate-metric-name", "ok",
     lambda df, c: select_k_evaluate(
         df, COLS, "y", AutoKConfig(strategy="group_cv", metric="rmsee"), group_col="x2"),
     "Unknown metric: 'rmsee'", 0),
]


@pytest.mark.parametrize(
    "frame, call, message, max_jobs", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_bad_option_or_target_rejected(
    request, spark, frames, nan_y_cache, frame, call, message, max_jobs
):
    """``max_jobs`` bounds the Spark jobs the call may run before it
    raises (None: the gaussian entry points build their cache first)."""
    sc = spark.sparkContext
    cm = spark._jsparkSession.sharedState().cacheManager()
    entries = cm.numCachedEntries()
    group = f"select-options-{request.node.callspec.id}"
    sc.setJobGroup(group, "option validation probe")
    try:
        with pytest.raises(ValueError, match=message):
            call(frames[frame], nan_y_cache)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    if max_jobs is not None:
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs
    # nothing the call persisted outlives it
    assert cm.numCachedEntries() == entries
