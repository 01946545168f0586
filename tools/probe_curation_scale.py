"""Curation-family scale probe: a planted synthetic corpus (longer docs,
bigger vocab, skewed sources — deliberately unlike the tiny gate
fixtures) driven through decontaminate / repetition stats / stratified
sampling / pack_documents / lm_score, timed per stage, with exact
driver-side verification of every planted property via aggregates only
(no 100k-row collects).

Corpus: N_DOCS docs of L_TOKENS tokens drawn from a VOCAB-word
vocabulary by a deterministic per-doc RNG; sources follow a Zipf-ish
split so the sampler sees skewed strata.

Planted truth:
- every doc with doc_id % 37 == 0 gets the benchmark 13-gram injected
  at a deterministic position -> decontaminate(n=13) must flag exactly
  those (a chance 13-gram collision at VOCAB=4000 is ~4000^-13: zero);
- every doc with doc_id % 23 == 0 has its second quarter overwritten
  by a 2-token phrase repeat -> rep2_dup_frac must exceed 0.2 there and
  (statistically) stay ~0 elsewhere at VOCAB >> L;
- every doc with doc_id % 41 == 0 has tokens [100, 130) overwritten by
  a fixed 30-marker passage -> duplicate_spans(n=20) on the %23!=0
  slice (the rep cycle is ALSO a legitimate within-doc duplicate, so
  the slice keeps the passage the only planted truth) must yield
  exactly one 30-token / 11-gram span per passage doc except the
  canonical (min doc_id) copy, and trim_duplicate_spans must remove
  exactly 30 tokens from exactly those docs.

Usage:
  MRMR_PROBE_DOCS=200000 MRMR_PROBE_TOKENS=160 python tools/probe_curation_scale.py

Prints one JSON line: per-stage seconds + verification verdicts.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(os.environ.get("MRMR_PROBE_DOCS", "200000"))
L_TOKENS = int(os.environ.get("MRMR_PROBE_TOKENS", "160"))
VOCAB = int(os.environ.get("MRMR_PROBE_VOCAB", "4000"))
N_SOURCES = 50
BENCH_GRAM = " ".join(f"evalmark{i}" for i in range(13))
REP_PHRASE = ["dupalpha", "dupbeta"]
PASSAGE = [f"passtok{i:02d}" for i in range(30)]
PASSAGE_AT = 100  # after the rep region [L/4, L/2); needs L_TOKENS >= 130
TARGET_VOCAB = 100  # DSIR target distribution = uniform over vocab[:100]
N_TARGET_DOCS = 2000


def build_target_corpus() -> pd.DataFrame:
    """The DSIR target corpus: narrow-vocab docs (vocab[:TARGET_VOCAB]).
    Every corpus doc with doc_id % 29 == 0 is drawn from the SAME narrow
    distribution -> those docs' per-gram importance weights must
    strictly separate from the broad-vocab background."""
    rng = np.random.default_rng(20260819)
    vocab = np.array([f"tok{i:05d}" for i in range(TARGET_VOCAB)])
    ids = rng.integers(0, TARGET_VOCAB, size=(N_TARGET_DOCS, L_TOKENS))
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_TARGET_DOCS, dtype=np.int64),
            "text": [" ".join(r) for r in vocab[ids]],
        }
    )


def build_corpus() -> pd.DataFrame:
    rng = np.random.default_rng(20260818)
    vocab = np.array([f"tok{i:05d}" for i in range(VOCAB)])
    ids = rng.integers(0, VOCAB, size=(N_DOCS, L_TOKENS))
    # plant DSIR target-like docs: every %29 doc drawn from the narrow
    # target vocab (before the rep/passage overwrites, which stack on top)
    nar = np.arange(0, N_DOCS, 29)
    ids[nar] = rng.integers(0, TARGET_VOCAB, size=(len(nar), L_TOKENS))
    # <U16, not the vocab's <U8: the fixed-width dtype silently TRUNCATES
    # later planted tokens (sentL2460 -> sentL246 collided with doc 246's
    # sentinel; passtok00 -> passtok0 folded the passage onto itself)
    toks = vocab[ids].astype("<U16")
    # plant repetition: overwrite the second quarter with a 2-token cycle
    rep_rows = np.arange(0, N_DOCS, 23)
    q = L_TOKENS // 4
    cycle = np.tile(REP_PHRASE, q // 2 + 1)[:q]
    toks[rep_rows, q : 2 * q] = cycle
    if L_TOKENS >= PASSAGE_AT + len(PASSAGE) + 1:
        pass_rows = np.arange(0, N_DOCS, 41)
        toks[pass_rows, PASSAGE_AT : PASSAGE_AT + len(PASSAGE)] = PASSAGE
        # per-doc UNIQUE sentinels flanking the passage: without them a
        # straddling 20-gram occasionally duplicates by a chance match
        # of the one adjacent context token across two passage docs
        # (~C(N/41,2)/VOCAB pairs), legitimately extending the span
        toks[pass_rows, PASSAGE_AT - 1] = [f"sentL{i}" for i in pass_rows]
        toks[pass_rows, PASSAGE_AT + len(PASSAGE)] = [f"sentR{i}" for i in pass_rows]
    texts = [" ".join(row) for row in toks]
    # plant contamination: inject the benchmark 13-gram mid-document
    for i in range(0, N_DOCS, 37):
        t = texts[i].split(" ")
        t[40:40] = BENCH_GRAM.split(" ")
        texts[i] = " ".join(t)
    # Zipf-ish sources: source s gets weight 1/(s+1)
    w = 1.0 / (np.arange(N_SOURCES) + 1)
    src = rng.choice(N_SOURCES, size=N_DOCS, p=w / w.sum())
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "source": [f"src{s}" for s in src],
        }
    )


def main() -> None:
    from pyspark.sql import functions as F

    from mrmr_spark.operators.curation import (
        bigram_lm_counts,
        decontaminate,
        ngram_lm_score,
        pack_documents,
        stratified_sample_exact,
        with_repetition_stats,
    )
    from mrmr_spark.session import get_spark

    t0 = time.time()
    pdf = build_corpus()
    build_s = round(time.time() - t0, 3)

    spark = get_spark(app_name="curation-probe",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.createDataFrame(pdf).repartition(64).persist()
    n = docs.count()

    out: dict = {"n_docs": n, "tokens_per_doc": L_TOKENS, "build_s": build_s}

    # --- decontaminate (planted benchmark table) -------------------------
    bench = spark.createDataFrame(pd.DataFrame({"text": [f"prefix {BENCH_GRAM} suffix"]}))
    t0 = time.time()
    flagged = decontaminate(docs, bench, n=13, mode="flag")
    agg = flagged.agg(
        F.sum(F.col("contaminated").cast("long")).alias("n_flagged"),
        F.sum(F.when(F.col("contaminated"), F.col("doc_id"))).alias("id_sum"),
    ).first()
    out["decontaminate_s"] = round(time.time() - t0, 3)
    planted = np.arange(0, N_DOCS, 37, dtype=np.int64)
    out["decontaminate_ok"] = bool(
        agg.n_flagged == len(planted) and agg.id_sum == int(planted.sum())
    )

    # --- repetition stats -------------------------------------------------
    t0 = time.time()
    rep = with_repetition_stats(docs, ns=(2,))
    chk = rep.agg(
        F.sum(F.when((F.col("doc_id") % 23 == 0) & (F.col("rep2_dup_frac") > 0.2), 1).otherwise(0)).alias("hit"),
        F.max(F.when(F.col("doc_id") % 23 != 0, F.col("rep2_dup_frac"))).alias("bg_max"),
    ).first()
    out["repetition_s"] = round(time.time() - t0, 3)
    out["repetition_ok"] = bool(
        chk.hit == len(range(0, N_DOCS, 23)) and chk.bg_max < 0.2
    )

    # --- stratified sampling (presample tier, skewed strata) -------------
    t0 = time.time()
    samp = stratified_sample_exact(
        docs, "source", 1000, presample_margin=2.5, keep_rank=True
    )
    per = {r.source: r.cnt for r in samp.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    out["sample_s"] = round(time.time() - t0, 3)
    sizes = {r.source: r.cnt for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    out["sample_ok"] = all(per.get(s, 0) == min(1000, c) for s, c in sizes.items())

    # --- pack_documents ---------------------------------------------------
    t0 = time.time()
    pin: list = []
    packed = pack_documents(docs, budget=2048, pin=pin)
    agg = packed.agg(
        F.sum("n_tokens").alias("tot"),
        F.max(F.col("token_offset") + F.col("n_tokens")).alias("end"),
        F.max("chunk_last").alias("last_chunk"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    out["pack_s"] = round(time.time() - t0, 3)
    out["pack_ok"] = bool(
        agg.tot == agg.end and agg.last_chunk == (agg.tot - 1) // 2048 and agg.n == n
    )
    for h in pin:
        h.unpersist()

    # --- duplicate_spans / trim (planted cross-doc passage) ---------------
    # the rep-cycle region is ALSO a true within-doc duplicate under the
    # Lee et al. semantics (correct, but its span truth is intricate), so
    # probe on the %23!=0 slice where the passage is the only planted dup
    if L_TOKENS >= PASSAGE_AT + len(PASSAGE) + 1:
        from mrmr_spark.operators.curation import (
            duplicate_spans,
            trim_duplicate_spans,
        )

        clean = docs.where(F.col("doc_id") % 23 != 0)
        t0 = time.time()
        spans = duplicate_spans(clean, n=20)
        agg = spans.agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("doc_id").alias("id_sum"),
            F.min("n_grams").alias("gmin"),
            F.max("n_grams").alias("gmax"),
            F.min(F.col("tok_end") - F.col("tok_start")).alias("lmin"),
            F.max(F.col("tok_end") - F.col("tok_start")).alias("lmax"),
        ).first()
        out["dup_spans_s"] = round(time.time() - t0, 3)
        dprime = [i for i in range(0, N_DOCS, 41) if i % 23 != 0]
        want_grams = len(PASSAGE) - 20 + 1
        out["dup_spans_ok"] = bool(
            agg.n_spans == len(dprime) - 1
            and agg.id_sum == sum(dprime) - min(dprime)
            and agg.gmin == agg.gmax == want_grams
            and agg.lmin == agg.lmax == len(PASSAGE)
        )
        t0 = time.time()
        chk = trim_duplicate_spans(clean, spans).agg(
            F.sum(F.when(F.col("n_removed_tokens") == len(PASSAGE), 1).otherwise(0)).alias("n_hit"),
            F.sum("n_removed_tokens").alias("tot"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        out["dup_trim_s"] = round(time.time() - t0, 3)
        out["dup_trim_ok"] = bool(
            chk.n_hit == len(dprime) - 1
            and chk.tot == len(PASSAGE) * (len(dprime) - 1)
            and chk.n == clean.count()
        )

    # --- DSIR importance weights + resampling (planted narrow-vocab docs) -
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_logweights,
        dsir_sample,
    )

    tdf = spark.createDataFrame(build_target_corpus())
    t0 = time.time()
    tm = dsir_bucket_counts(tdf, n_buckets=10_000)
    rm = dsir_bucket_counts(docs, n_buckets=10_000)
    lw = dsir_logweights(docs, tm, rm)
    pg = F.col("log_weight") / F.col("n_features")
    chk = lw.agg(
        F.min(F.when(F.col("doc_id") % 29 == 0, pg)).alias("t_min"),
        F.max(F.when(F.col("doc_id") % 29 != 0, pg)).alias("o_max"),
        F.sum(F.when(F.col("doc_id") % 29 == 0, 1).otherwise(0)).alias("n_t"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    out["dsir_s"] = round(time.time() - t0, 3)
    n_planted = len(range(0, N_DOCS, 29))
    out["dsir_sep"] = [round(chk.t_min, 4), round(chk.o_max, 4)]
    out["dsir_ok"] = bool(
        chk.n == n and chk.n_t == n_planted and chk.t_min > chk.o_max
    )
    # r06: the single-pool-pass path (shared doc-bucket counts feeding raw
    # model AND scorer) must agree with the plain two-pass path at corpus
    # scale — exact in decimal mode (Σ_occ dec(lr) == Σ_bkt cnt·dec(lr))
    from mrmr_spark.operators.curation import dsir_doc_bucket_counts

    t0 = time.time()
    plain_dec = dsir_logweights(docs, tm, rm, decimal_terms=True)
    dc = dsir_doc_bucket_counts(docs, n_buckets=10_000).persist()
    rm_pooled = dsir_bucket_counts(None, n_buckets=10_000, doc_counts=dc)
    pooled_dec = dsir_logweights(
        docs, tm, rm_pooled, decimal_terms=True, doc_counts=dc
    )
    diff = (
        plain_dec.alias("a")
        .join(pooled_dec.alias("b"), "doc_id")
        .where(
            (F.col("a.n_features") != F.col("b.n_features"))
            | (F.col("a.log_weight") != F.col("b.log_weight"))
        )
        .count()
    )
    dc.unpersist()
    out["dsir_pooled_s"] = round(time.time() - t0, 3)
    out["dsir_pooled_ok"] = bool(
        diff == 0 and rm_pooled["total"] == rm["total"]
    )

    t0 = time.time()
    k = min(5000, n_planted)
    picked = dsir_sample(lw, k).agg(
        F.sum(F.when(F.col("doc_id") % 29 == 0, 1).otherwise(0)).alias("hit"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    out["dsir_sample_s"] = round(time.time() - t0, 3)
    # planted docs outweigh background by hundreds of nats: the Gumbel
    # top-k must come entirely from the planted set
    out["dsir_sample_ok"] = bool(picked.n == k and picked.hit == k)

    # --- lm_score (model on the doc_id%11==0 slice) -----------------------
    t0 = time.time()
    model = bigram_lm_counts(docs.where(F.col("doc_id") % 11 == 0))
    scored = ngram_lm_score(docs, model, add_k=0.5)
    stats = scored.agg(
        F.count(F.lit(1)).alias("n"), F.avg("ppl").alias("mean_ppl")
    ).first()
    out["lm_score_s"] = round(time.time() - t0, 3)
    out["lm_vocab"] = model["vocab_size"]
    out["lm_ok"] = bool(stats.n == n and stats.mean_ppl > 1.0)
    out["lm_mean_ppl"] = round(stats.mean_ppl, 2)

    out["all_ok"] = all(v for k, v in out.items() if k.endswith("_ok"))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
