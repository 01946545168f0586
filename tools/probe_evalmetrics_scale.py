"""Eval-metric family scale probe: a planted synthetic eval corpus
(deliberately bigger than the gate fixtures) driven through the
generation metrics (BLEU/chrF/ROUGE-L/WER), the classifier metrics
(ROC-AUC, calibration), the preference layer (win rates +
Bradley-Terry) and the bootstrap inference layer, timed per stage,
with exact driver-side verification of every planted truth (template
rollups, bounded group collects — never a corpus collect).

Plants:

- **templates**: every row's (pred, ref) pair is one of 6 fixed
  template pairs chosen by doc_id % 6 (identical / one-substitution /
  truncation / rotation / disjoint / repeated-token). Per template,
  every metric is a CONSTANT, so a groupBy(template).agg(min, max,
  count) must return min == max == the pytest Python oracle's value
  for each of bleu / chrf / rouge_l_f / wer — one 6-row collect
  verifies every one of the N rows exactly.
- **roc_auc**: score = doc_id % 1000 (heavy ties — 1000 tie groups),
  label = doc_id % 2. The exact tie-aware AUC is re-derived on the
  driver from the (score -> count, positives) table (≤1000 rows,
  bounded) with the same midrank identity in numpy; Spark must match
  to 1e-12.
- **calibration**: prob = (doc_id % 100) / 100, label = doc_id % 4 < 2
  -> every bin's acc is exactly 0.5 and conf the exact bin mean.
- **preference**: comparisons between 50 models where the LOWER id
  always wins -> every canonical pair row has win_rate_a == 1.0
  (min aggregate == 1.0 verifies all ~50x50 cells), and the fitted
  Bradley-Terry ratings must be strictly decreasing in model id
  (a total dominance order; 50-row collect).
- **bootstrap**: value = ((doc_id*37+11) % 997)/997 (affine family):
  replicate n_eff must total within 2% of n_boot*N (Poisson(1) mass),
  the percentile CI must contain the exact mean, and a second
  identical run must be bit-identical (hash determinism at scale).
  paired: value_b = value_a - 0.1 exactly -> delta == 0.1 (to the
  1e-12 decimal-quantization floor) and p_value == 1/(b+1) exactly.

Usage:
  MRMR_PROBE_ROWS=200000 python tools/probe_evalmetrics_scale.py

Prints one JSON line: per-stage seconds + verification verdicts.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(os.environ.get("MRMR_PROBE_ROWS", "200000"))
N_BOOT = int(os.environ.get("MRMR_PROBE_BOOT", "50"))

TEMPLATES = [
    ("the quick brown fox jumps over the lazy dog today",
     "the quick brown fox jumps over the lazy dog today"),
    ("the quick brown fox jumps over the lazy dog today",
     "the quick brown cat jumps over the lazy dog today"),
    ("the quick brown fox jumps",
     "the quick brown fox jumps over the lazy dog today"),
    ("over the lazy dog today the quick brown fox jumps",
     "the quick brown fox jumps over the lazy dog today"),
    ("alpha beta gamma delta epsilon", "one two three four five"),
    ("the the the the the", "the cat sat on the mat"),
]


def _expected_template_metrics():
    """Per-template (bleu, chrf, rouge_l_f, wer) from the pytest oracles."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests"))
    from test_evalmetrics import (  # noqa: E402
        _py_bleu_stats, _py_chrf_stats, _py_chrf_from_stats, _py_edit, _py_lcs,
    )

    out = []
    for p, r in TEMPLATES:
        _, _, _, bleu = _py_bleu_stats(p, r)
        chrf = _py_chrf_from_stats(_py_chrf_stats(p, r))
        lcs = _py_lcs(p, r)
        np_, nr_ = len(p.split()), len(r.split())
        prec = lcs / np_ if np_ else 0.0
        rec = lcs / nr_ if nr_ else 0.0
        rouge = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        wer = _py_edit(p, r) / nr_
        out.append((bleu, chrf, rouge, wer))
    return out


def main():
    from pyspark.sql import functions as F

    from mrmr_spark.operators.evalmetrics import (
        bleu_scores, bootstrap_mean_ci, bootstrap_replicates,
        bradley_terry, calibration_report, chrf_scores,
        paired_bootstrap_test, pairwise_win_rates, roc_auc,
        rouge_l_scores, wer_scores,
    )
    from mrmr_spark.session import get_spark

    spark = get_spark(
        app_name="probe-evalmetrics",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings, checks = {}, {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    base = spark.range(N_ROWS).withColumnRenamed("id", "doc_id")
    tpl = F.pmod(F.col("doc_id"), F.lit(len(TEMPLATES)))
    pred = ref = None
    for i, (p, r) in enumerate(TEMPLATES):
        pred = F.when(tpl == i, F.lit(p)) if pred is None else pred.when(tpl == i, F.lit(p))
        ref = F.when(tpl == i, F.lit(r)) if ref is None else ref.when(tpl == i, F.lit(r))
    pairs = base.select("doc_id", tpl.alias("tpl"), pred.alias("pred"), ref.alias("ref"))

    # --- generation metrics: score every row (each metric its own timed
    # stage so per-metric throughput is visible), verify per-template
    # constants via a 6-row rollup — min == max == oracle checks all N rows
    exp = _expected_template_metrics()

    def verify_metric(stage, scored, col, idx):
        rows = timed(stage, lambda: (
            scored.groupBy("tpl")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(col).alias("mn"), F.max(col).alias("mx"))
            .orderBy("tpl").collect()
        ))
        ok = len(rows) == len(TEMPLATES) and sum(r["n"] for r in rows) == N_ROWS
        for r in rows:
            ok = ok and r["mn"] == r["mx"] and abs(r["mn"] - exp[r["tpl"]][idx]) < 1e-9
        checks[f"{stage}_exact"] = bool(ok)

    verify_metric("bleu", bleu_scores(pairs), "bleu", 0)
    verify_metric("chrf", chrf_scores(pairs), "chrf", 1)
    verify_metric("rouge_l", rouge_l_scores(pairs), "rouge_l_f", 2)
    verify_metric("wer", wer_scores(pairs), "wer", 3)

    # --- ROC-AUC on 1000 tie groups
    clf = base.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(1000)).cast("double").alias("score"),
        F.pmod(F.col("doc_id"), F.lit(2)).cast("int").alias("label"),
    )
    pin = []
    auc_row = timed("roc_auc", lambda: roc_auc(clf, pin=pin).collect()[0])
    grp = clf.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"), F.sum("label").alias("p")
    ).orderBy("score").collect()  # bounded: <= 1000 rows
    for h in pin:
        h.unpersist()
    c = np.array([r["c"] for r in grp], dtype=np.int64)
    p = np.array([r["p"] for r in grp], dtype=np.int64)
    cum = np.concatenate(([0], np.cumsum(c)[:-1]))
    s2 = int(np.sum(p * (2 * cum + c + 1)))
    npos, n = int(p.sum()), int(c.sum())
    exp_auc = (s2 - npos * (npos + 1)) / (2.0 * npos * (n - npos))
    checks["roc_auc_exact"] = bool(abs(auc_row["auc"] - exp_auc) < 1e-12
                                   and auc_row["n"] == N_ROWS)

    # --- calibration: every bin acc exactly 0.5 (the label alternates
    # along doc_id // 100, i.e. WITHIN each prob class — N must be a
    # multiple of 200 so each class splits evenly)
    assert N_ROWS % 200 == 0, "probe plant needs N_ROWS % 200 == 0"
    cal = base.select(
        (F.pmod(F.col("doc_id"), F.lit(100)).cast("double") / 100.0).alias("prob"),
        F.pmod(F.floor(F.col("doc_id") / 100), F.lit(2)).cast("int").alias("label"),
    )
    cal_rows = timed("calibration", lambda: calibration_report(cal).collect())
    checks["calibration_exact"] = bool(
        len(cal_rows) == 10
        and all(abs(r["acc"] - 0.5) < 1e-12 for r in cal_rows)
        and sum(r["n"] for r in cal_rows) == N_ROWS
    )

    # --- preference: lower model id always wins
    a = F.pmod(F.col("doc_id"), F.lit(50))
    b = F.pmod(F.col("doc_id") * 7 + 1, F.lit(50))
    cmp_ = base.select(
        F.concat(F.lit("m"), F.format_string("%02d", F.least(a, b))).alias("winner"),
        F.concat(F.lit("m"), F.format_string("%02d", F.greatest(a, b))).alias("loser"),
    ).where(a != b)
    wr = timed("win_rates", lambda: pairwise_win_rates(cmp_)
               .agg(F.min("win_rate_a").alias("mn"), F.count(F.lit(1)).alias("cells"))
               .collect()[0])
    checks["win_rates_total_order"] = bool(wr["mn"] == 1.0 and wr["cells"] > 0)
    bt = timed("bradley_terry", lambda: bradley_terry(cmp_, iters=10)
               .orderBy("item").collect())
    # exact check: re-run the quantized Hunter MM on the driver from the
    # independently collected pair-count table (bounded: <= 50*49 rows)
    import math as _math

    cnts = cmp_.groupBy("winner", "loser").count().collect()
    wins, games, nbr = {}, {}, {}
    for r in cnts:
        a_, b_, n_ = r["winner"], r["loser"], int(r["count"])
        wins[a_] = wins.get(a_, 0) + n_
        for i_, j_ in ((a_, b_), (b_, a_)):
            games[i_] = games.get(i_, 0) + n_
            nbr.setdefault(i_, {})[j_] = nbr.get(i_, {}).get(j_, 0) + n_
    th = {i_: 1.0 for i_ in sorted(games)}
    for _ in range(10):
        new = {}
        for i_ in th:
            den = 0
            for j_, n_ in nbr[i_].items():
                den += _math.floor(n_ / (th[i_] + th[j_]) * 1e12 + 0.5)
            den += _math.floor(2 * 0.5 / (th[i_] + 1) * 1e12 + 0.5)
            t_ = (wins.get(i_, 0) + 0.5) / (den / 1e12)
            new[i_] = min(max(_math.floor(t_ * 1e12 + 0.5) / 1e12, 1e-6), 1e6)
        th = new
    checks["bt_mm_exact"] = bool(
        all(r["rating"] == th[r["item"]] for r in bt) and len(bt) == len(th)
    )

    # --- bootstrap: determinism + CI truth + Poisson mass
    val = base.select(
        "doc_id",
        (F.pmod(F.col("doc_id") * 37 + 11, F.lit(997)).cast("double") / 997.0)
        .alias("value"),
    )
    reps1 = timed("bootstrap_replicates", lambda: bootstrap_replicates(
        val, "value", "doc_id", n_boot=N_BOOT, seed=7, hash_fn="affine"
    ).orderBy("replicate").collect())
    reps2 = bootstrap_replicates(
        val, "value", "doc_id", n_boot=N_BOOT, seed=7, hash_fn="affine"
    ).orderBy("replicate").collect()
    checks["bootstrap_bit_deterministic"] = bool(
        [(r["n_eff"], r["est"]) for r in reps1]
        == [(r["n_eff"], r["est"]) for r in reps2]
    )
    mass = sum(r["n_eff"] for r in reps1) / (N_BOOT * N_ROWS)
    checks["bootstrap_poisson_mass"] = bool(0.98 < mass < 1.02)
    pin2 = []
    ci = timed("bootstrap_ci", lambda: bootstrap_mean_ci(
        val, "value", "doc_id", n_boot=N_BOOT, seed=7, hash_fn="affine", pin=pin2
    ).collect()[0])
    for h in pin2:
        h.unpersist()
    checks["bootstrap_ci_contains_mean"] = bool(
        ci["ci_lo"] <= ci["mean"] <= ci["ci_hi"] and ci["b"] == N_BOOT
    )
    pv = val.withColumn("value_b", F.col("value") - 0.1)
    pin3 = []
    pt = timed("paired_bootstrap", lambda: paired_bootstrap_test(
        pv, "value", "value_b", "doc_id", n_boot=N_BOOT, seed=7,
        hash_fn="affine", pin=pin3,
    ).collect()[0])
    for h in pin3:
        h.unpersist()
    checks["paired_constant_shift_exact"] = bool(
        abs(pt["delta"] - 0.1) < 1e-9
        and pt["p_value"] == 1.0 / (pt["b"] + 1)
        and abs(pt["ci_lo"] - 0.1) < 1e-9
    )

    out = {
        "n_rows": N_ROWS,
        "n_boot": N_BOOT,
        "timings_sec": timings,
        "checks": checks,
        "all_ok": all(checks.values()),
    }
    print(json.dumps(out))
    spark.stop()
    if not out["all_ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
