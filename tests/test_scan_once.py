"""Each accumulator scan executes its input lineage once.

The source rows are counted by a PySpark accumulator inside a
``mapInPandas`` placed before a ``repartition``, so a second execution of
the lineage (its shuffle stages included) shows up as a second count.
With AQE on, asking a lineage with an exchange for its partition count
materializes the shuffle stages; a scan that did so before its own
collect would read every source row twice.

Each case states how many passes over the source its path needs (a scan,
or a label ``distinct()``); the count must be exactly that many times N.

Also: a library persist does not drop a caller's cache of an equal plan.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.pca import pca_train
from mrmr_spark.select import select_mrmr
from mrmr_spark.select.autok import AutoKConfig, select_k_evaluate
from mrmr_spark.select.cache import build_cache, select_cached
from mrmr_spark.select.kernels import TREE_COMBINE_THRESHOLD

N = 1200
COLS = [f"x{j}" for j in range(4)]
WIDE = [f"w{j}" for j in range(70)]  # > FUSED_REGRESSION_MAX_P: general path


@pytest.fixture(scope="module")
def aqe(spark):
    """AQE on, as in production sessions (the suite runs with it off):
    without it a partition count never executes anything."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    yield spark
    for k, v in before.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="module")
def counted(aqe):
    """``make(n_parts)`` -> (frame, accumulator): the frame's source rows
    are counted into the accumulator, then repartitioned."""
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(rng.normal(size=(N, len(COLS) + len(WIDE))), columns=COLS + WIDE)
    pdf["y"] = pdf["x0"] - 0.5 * pdf["x1"] + 0.3 * rng.normal(size=N)
    pdf["yc"] = (pdf["y"] > 0).astype(int).astype(str)
    pdf["g"] = rng.integers(0, 40, size=N)
    base = aqe.createDataFrame(pdf)

    def make(n_parts=4):
        acc = aqe.sparkContext.accumulator(0)

        def count_rows(batches):
            for b in batches:
                acc.add(len(b))
                yield b

        return base.mapInPandas(count_rows, base.schema).repartition(n_parts), acc

    return make


CASES = [
    # (id, call, passes over the source)
    ("mrmr-regression",
     lambda df: select_mrmr(df, COLS, "y", 2, subsample=None), 1),
    # factorize_target's label distinct(), then the fused scan
    ("mrmr-classification",
     lambda df: select_mrmr(df, COLS, "yc", 2, task="classification", subsample=None), 2),
    # the row count that decides to subsample, then one sort-limit into the
    # persist: the label distinct() and the fused scan read the cached sample
    ("mrmr-classification-sampled",
     lambda df: select_mrmr(df, COLS, "yc", 2, task="classification", subsample=N // 2), 2),
    # the O(p) moments scan, then the Gram on the candidates (no persist)
    ("mrmr-general-wide",
     lambda df: select_mrmr(df, WIDE, "y", 2, subsample=None), 2),
    ("autok-group-cv-rmse",
     lambda df: select_k_evaluate(
         df, COLS, "y", AutoKConfig(strategy="group_cv", n_splits=3, min_k=1, max_k=4),
         group_col="g"), 1),
    # the fold-keyed stats scan, then the fold-grouped loss scan
    ("autok-group-cv-mae",
     lambda df: select_k_evaluate(
         df, COLS, "y",
         AutoKConfig(strategy="group_cv", n_splits=3, min_k=1, max_k=4, metric="mae"),
         group_col="g"), 2),
    # the persist's count; the moments scan then reads the persisted frame
    ("build-cache",
     lambda df: build_cache(df, COLS, subsample=None).unpersist(), 1),
    ("pca-train",
     lambda df: pca_train(df.select(F.array(*COLS).alias("embedding")), len(COLS)), 1),
]


@pytest.mark.parametrize("call, passes", [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_scan_reads_source_once(counted, call, passes):
    df, acc = counted()
    call(df)
    assert acc.value == passes * N


def test_tree_combine_reads_source_once(aqe, counted):
    """Above TREE_COMBINE_THRESHOLD partitions the executor-side combine
    runs on the scan's own execution too."""
    n_parts = TREE_COMBINE_THRESHOLD + 36
    aqe.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        df, acc = counted(n_parts)
        res = select_mrmr(df, COLS, "y", 2, subsample=None)
        assert acc.value == N
        ref = select_mrmr(counted(4)[0], COLS, "y", 2, subsample=None)
    finally:
        aqe.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert res.names == ref.names
    np.testing.assert_allclose(res.relevance, ref.relevance, rtol=1e-9)


def test_library_persist_keeps_caller_cache(aqe, counted):
    """Spark keeps one cache entry per equal plan: a gaussian selection on
    the frame the caller built a FeatureCache on must leave that cache in
    place, so reusing it reads no source rows."""
    cm = aqe._jsparkSession.sharedState().cacheManager()
    df, acc = counted()
    entries = cm.numCachedEntries()
    cache = build_cache(df, COLS, subsample=None)
    try:
        assert cm.numCachedEntries() == entries + 2
        select_mrmr(df, COLS, "y", 2, estimator="gaussian", subsample=None)
        assert cm.numCachedEntries() == entries + 2
        acc.value = 0
        res = select_cached(cache, "y", 2)
        assert acc.value == 0
        assert res.names
    finally:
        cache.unpersist()
    assert cm.numCachedEntries() == entries
