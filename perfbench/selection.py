"""``selection`` workload: transcripts -> point-in-time features -> the three
mRMR-family selection paths a user runs on them.

One iteration makes three pipeline calls over the same feature frame:

* ``fe_mrmr``: classic mRMR, ``subsample=None`` — FE windows and one
  no-persist Arrow scan do the work (the ROADMAP headline);
* ``gauss_cefsplus``: ``build_cache(subsample=50_000)`` + CEFS+ — the
  deterministic subsample sort-limit, JVM moment scans, copula and persists;
* ``autok_cv``: group-CV auto-k — fold-keyed accumulators over two FE passes
  plus a ridge path on the driver.
"""

from __future__ import annotations

import os
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import oracles
import spans

from mrmr_spark.fe import FEATURE_COLS, build_features
from mrmr_spark.select import loops, relevance, select_mrmr
from mrmr_spark.select import cache as cache_mod
from mrmr_spark.select.api import _prefilter
from mrmr_spark.select.autok import AutoKConfig, select_k_evaluate
from mrmr_spark.select.cache import build_cache, select_cached
from mrmr_spark.select.preprocess import deterministic_subsample
from mrmr_spark.sources.transcripts import write_transcripts_parquet

#: ~30 turns per conversation (Zipf sizes), so 58-63k turns over seeds:
#: enough rows that the 50k-row subsample runs, few enough that a run fits
#: its share of the benchmark's time budget.
N_CONVS = 2_000
Y = "target_next_gap"
K = 8
SUBSAMPLE = 50_000
AUTOK = AutoKConfig(k_method="evaluate", strategy="group_cv", n_splits=4, min_k=2, max_k=20)
COLS = list(FEATURE_COLS)


def prepare(work_dir: str, seed: int) -> dict:
    path = os.path.join(work_dir, f"transcripts_c{N_CONVS}_s{seed}.parquet")
    if not os.path.exists(path):
        write_transcripts_parquet(path + ".tmp", row_group_size=16_384,
                                  n_convs=N_CONVS, mean_turns=30, seed=seed)
        os.replace(path + ".tmp", path)
    return {"transcripts": path, "turns": pq.read_metadata(path).num_rows}


class Workload:
    def __init__(self, spark, data: dict, seed: int):
        self.spark = spark
        self.data = data
        self.tr = spark.read.parquet(data["transcripts"])

    def features(self):
        return build_features(self.tr).where(F.col(Y).isNotNull())

    # -- untraced ------------------------------------------------------------

    def iteration(self, tr: spans.Tracer | None = None) -> dict:
        """One pass of the three pipelines. A tracer (traced run only)
        labels each leg's jobs for the stage reader."""
        feats = self.features()
        with _leg(tr, "fe_mrmr"):
            mrmr = select_mrmr(feats, COLS, Y, K, task="regression", subsample=None)
        with _leg(tr, "gauss_cefsplus"):
            cache = build_cache(feats, COLS, subsample=SUBSAMPLE)
            try:
                gauss = select_cached(cache, Y, K, method="cefsplus")
            finally:
                cache.unpersist()
        with _leg(tr, "autok_cv"):
            best_k, _, scores = select_k_evaluate(
                feats, COLS, Y, AUTOK, group_col="conv_id", task="regression")
        return {"mrmr": mrmr.names, "gauss": gauss.names, "best_k": best_k,
                "scores": scores}

    def cold(self) -> None:
        self.iteration()

    # -- oracle ----------------------------------------------------------------

    def oracle(self) -> dict:
        """Expected outputs from independent NumPy code on the engine's own
        feature matrix (and, for CEFS+, on the engine's 50k subsampled rows).
        The group folds are the engine's ``pmod(xxhash64(conv_id), 4)``."""
        import oracle_sift as sift

        feats = self.features().persist(StorageLevel.MEMORY_AND_DISK)
        try:
            fold = F.pmod(F.xxhash64("conv_id"), F.lit(AUTOK.n_splits)).alias("_fold")
            pdf = feats.select(*COLS, Y, fold).toPandas()
            sub = deterministic_subsample(feats, SUBSAMPLE, 0).select(*COLS, Y).toPandas()
        finally:
            feats.unpersist()
        X = pdf[COLS].to_numpy(np.float64)
        X32 = sift.impute_f32(X)
        ones = np.ones(len(pdf))
        rel = sift.f_regression(X32, pdf[Y].to_numpy(np.float32), ones)
        mrmr = sift.mrmr_classic(X32, rel, K, ones, "quotient", top_m=250)
        gauss = sift.gaussian_select(sub[COLS].to_numpy(np.float64), sub[Y].to_numpy(), K,
                                     method="cefsplus")
        best_k, scores = oracles.ridge_group_cv(
            X, pdf[Y].to_numpy(np.float64), pdf["_fold"].to_numpy(),
            AUTOK.min_k, AUTOK.max_k)
        return {"mrmr": [COLS[i] for i in mrmr], "gauss": [COLS[i] for i in gauss],
                "best_k": best_k, "scores": scores}

    @staticmethod
    def matches(out: dict, exp: dict) -> bool:
        return (out["mrmr"] == exp["mrmr"] and out["gauss"] == exp["gauss"]
                and out["best_k"] == exp["best_k"]
                and sorted(out["scores"]) == sorted(exp["scores"])
                and all(np.isclose(out["scores"][k], exp["scores"][k], rtol=1e-7, atol=0)
                        for k in exp["scores"]))

    # -- traced ----------------------------------------------------------------

    def traced_chain(self, tr: spans.Tracer, ref: spans.Span, cores: int) -> dict:
        """The iteration as a chain of layer calls, one span each. Each
        layer's input is materialized (persisted) outside that layer's span."""
        m: dict[str, float] = {}
        with tr.span("fe") as s:
            self.features().write.format("noop").mode("overwrite").save()
        fe = spans.summarize(tr.of(s), s.wall, cores)
        ran = [st for st in tr.of(s) if st.status != "SKIPPED"]
        window = max(ran, key=lambda st: st.run_ms)
        m.update({
            "sources.input_rows": fe["input_records"],
            # the status store's inputBytes for this parquet scan is only a
            # few KB, so the size of the file the scan reads stands in
            "sources.input_mb": os.path.getsize(self.data["transcripts"]) / spans.MB,
            "fe.wall_s": s.wall, "fe.busy_s": fe["busy_s"],
            "fe.shuffle_write_mb": fe["shuffle_write_mb"], "fe.spill_mb": fe["spill_mb"],
            "fe.task_skew": spans.task_skew(window),
        })

        with tr.span("materialize.features"):
            feats = self.features().persist(StorageLevel.MEMORY_AND_DISK)
            feats.count()
        with tr.span("select.kernels") as s:
            stats = relevance.fused_regression_stats(
                feats.select(*COLS, Y), COLS, Y, None, True, single_pass=True)
        m.update({"kernels.scan_s": s.wall,
                  "kernels.busy_s": spans.summarize(tr.of(s), s.wall, cores)["busy_s"],
                  "kernels.jobs": spans.jobs(tr.of(s)),
                  "kernels.arrow_mb": stats["n"] * (len(COLS) + 1) * 8 / spans.MB})
        with tr.span("select.loops") as s:
            cand = _prefilter(stats["scores"], K, None)
            loops.mrmr_greedy(stats["R"][np.ix_(cand, cand)], stats["scores"][cand], K,
                              use_quotient=True, redundancy="abs_corr")
        m["loops.greedy_s"] = s.wall

        with tr.span("select.preprocess") as s:
            feats.count()  # build_cache counts the rows before sampling
            sub = deterministic_subsample(feats, SUBSAMPLE, 0).persist(
                StorageLevel.MEMORY_AND_DISK)
            sub.count()
        m["preprocess.subsample_s"] = s.wall
        m["preprocess.subsample_spill_mb"] = spans.summarize(tr.of(s), s.wall, cores)["spill_mb"]
        # stages of the untraced-shape gauss leg that scan the whole corpus
        gauss_ref = [st for leg in tr.children(ref, "gauss_cefsplus") for st in tr.of(leg)]
        m["preprocess.fe_passes"] = sum(
            1 for st in gauss_ref
            if st.status != "SKIPPED" and st.input_records == self.data["turns"])

        held = _persisted_mb(self.spark)
        with _traced_rank_gauss(tr):
            with tr.span("select.cache.build") as s_b:
                cache = build_cache(sub, COLS, subsample=SUBSAMPLE)
            m["cache.persisted_mb"] = _persisted_mb(self.spark) - held
            with tr.span("select.cache.select") as s_c:
                select_cached(cache, Y, K, method="cefsplus")
        cache.unpersist()
        sub.unpersist()
        m["cache.build_s"] = s_b.wall
        m["cache.select_s"] = s_c.wall
        m["cache.jobs"] = spans.jobs(tr.subtree(s_b)) + spans.jobs(tr.subtree(s_c))
        m["copula.rank_gauss_s"] = sum(sp.wall for sp in tr.spans if sp.name == "select.copula")

        with tr.span("select.autok") as s:
            select_k_evaluate(feats, COLS, Y, AUTOK, group_col="conv_id", task="regression")
        m["autok.evaluate_s"] = s.wall
        m["autok.jobs"] = spans.jobs(tr.of(s))
        m["autok.driver_s"] = spans.stage_free_time(tr.of(s), s.start, s.end)
        feats.unpersist()
        return m


def _leg(tr: spans.Tracer | None, name: str):
    return tr.span(name) if tr is not None else nullcontext()


@contextmanager
def _traced_rank_gauss(tr: spans.Tracer):
    """Time the copula layer's public transform as a child span of the cache
    call that uses it, by wrapping the name the cache module calls. At 50k
    rows the transform runs on the driver backend, which is eager, so the
    span covers its work."""
    inner = cache_mod.rank_gauss_transform

    def wrapped(*a, **kw):
        with tr.span("select.copula"):
            return inner(*a, **kw)
    cache_mod.rank_gauss_transform = wrapped
    try:
        yield
    finally:
        cache_mod.rank_gauss_transform = inner


def _persisted_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / spans.MB
