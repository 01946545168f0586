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
from mrmr_spark.select.cache import build_cache, select_cached

COLS = ["x0", "x1", "x2"]


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
    # other data than frames["nan_y"]: Spark shares one cache entry between
    # equal plans, so the entry points' own caches must not equal this one
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
