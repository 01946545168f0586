"""Eval-metric operators: BLEU / ROUGE-L / Bradley-Terry / kappas vs
independent Python oracles, plan asserts, validation."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.evalmetrics import (
    bleu_scores,
    bradley_terry,
    cohens_kappa,
    corpus_bleu,
    fleiss_kappa,
    rouge_l_scores,
)

# ---------------------------------------------------------------------------
# BLEU
# ---------------------------------------------------------------------------


def _py_bleu_stats(pred, ref, max_n=4):
    tp = (pred or "").split()
    tr = (ref or "").split()
    ms, ts = [], []
    for n in range(1, max_n + 1):
        cg = [" ".join(tp[i : i + n]) for i in range(len(tp) - n + 1)]
        rg = [" ".join(tr[i : i + n]) for i in range(len(tr) - n + 1)]
        cc, rc = Counter(cg), Counter(rg)
        ms.append(sum(min(c, rc[g]) for g, c in cc.items()))
        ts.append(len(cg))
    if not tp:
        bp = 0.0
    elif len(tp) >= len(tr):
        bp = 1.0
    else:
        bp = math.exp(1.0 - len(tr) / len(tp))
    if any(m == 0 or t == 0 for m, t in zip(ms, ts)):
        bleu = 0.0
    else:
        prod = 1.0
        for m, t in zip(ms, ts):
            prod *= m / t
        bleu = bp * prod ** (1.0 / max_n)
    return ms, ts, bp, bleu


BLEU_CASES = [
    ("the cat sat on the mat", "the cat sat on the mat", "identical"),
    ("the the the the the", "the cat", "clipping caps repeated grams"),
    ("the cat the cat on the mat", "the cat is on the mat", "partial"),
    ("a b c d e f g", "a b c x e f g", "one substitution"),
    ("short one", "a much longer reference sentence here", "brevity penalty"),
    ("a b c", "c b a", "reversed trigram"),
    ("one", "one", "single token (no higher grams)"),
    ("", "x y", "empty pred"),
    ("x y", "", "empty ref"),
    (None, None, "nulls"),
]


def test_bleu_matches_python_oracle(spark):
    df = spark.createDataFrame(
        [(i, p, r) for i, (p, r, _) in enumerate(BLEU_CASES)],
        "id long, pred string, ref string",
    )
    out = bleu_scores(df).toPandas().set_index("id")
    for i, (p, r, label) in enumerate(BLEU_CASES):
        ms, ts, bp, bleu = _py_bleu_stats(p, r)
        row = out.loc[i]
        for n in range(1, 5):
            assert row[f"match_{n}"] == ms[n - 1], (label, n)
            assert row[f"total_{n}"] == ts[n - 1], (label, n)
        assert abs(row["brevity_penalty"] - bp) < 1e-12, label
        assert abs(row["bleu"] - bleu) < 1e-12, label


def _assert_one_arrow_projection(out):
    """The per-row metrics are one ArrowEvalPython kernel over the input:
    no shuffle, no second Python node."""
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_bleu_is_pure_projection(spark):
    df = spark.createDataFrame([(0, "a b", "a b")], "id long, pred string, ref string")
    _assert_one_arrow_projection(bleu_scores(df))


def test_corpus_bleu_sums_and_partition_invariance(spark):
    rows = [(i, p, r) for i, (p, r, _) in enumerate(BLEU_CASES) if p and r]
    df = spark.createDataFrame(rows, "id long, pred string, ref string")
    stats = [_py_bleu_stats(p, r) for _, p, r in rows]
    np_ = sum(len(p.split()) for _, p, _r in rows)
    nr_ = sum(len(r.split()) for _, _p, r in rows)
    ms = [sum(s[0][n] for s in stats) for n in range(4)]
    ts = [sum(s[1][n] for s in stats) for n in range(4)]
    bp = 1.0 if np_ >= nr_ else math.exp(1.0 - nr_ / np_)
    prod = 1.0
    for m, t in zip(ms, ts):
        prod *= m / t
    expected = bp * prod**0.25

    for parts in (1, 7):
        got = corpus_bleu(bleu_scores(df.repartition(parts))).collect()[0]
        assert got["n_pred"] == np_ and got["n_ref"] == nr_
        for n in range(1, 5):
            assert got[f"match_{n}"] == ms[n - 1]
            assert got[f"total_{n}"] == ts[n - 1]
        assert abs(got["bleu"] - expected) < 1e-12


def test_bleu_max_n_validation(spark):
    df = spark.createDataFrame([("a", "a")], "pred string, ref string")
    with pytest.raises(ValueError, match="max_n"):
        bleu_scores(df, max_n=0)


# ---------------------------------------------------------------------------
# ROUGE-L
# ---------------------------------------------------------------------------


def _py_lcs(a, b):
    a, b = (a or "").split(), (b or "").split()
    dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            dp[i][j] = (
                dp[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(dp[i - 1][j], dp[i][j - 1])
            )
    return dp[-1][-1]


ROUGE_CASES = [
    ("the cat sat on the mat", "the cat sat on the mat"),
    ("a b c d e f", "c d e f a b"),
    ("a b a b a", "b a b a b"),
    ("x y z", "p q r"),
    ("the quick brown fox jumps", "the brown fox"),
    ("a a a a", "a a"),
    ("", "x"),
    (None, "x y"),
    ("w", None),
]


@pytest.mark.parametrize("source", ["arrow", "column"])
def test_rouge_l_matches_python_dp(frame_from, source):
    df = frame_from(
        [(i, p, r) for i, (p, r) in enumerate(ROUGE_CASES)],
        "id long, pred string, ref string",
        source,
    )
    out = rouge_l_scores(df).toPandas().set_index("id")
    for i, (p, r) in enumerate(ROUGE_CASES):
        lcs = _py_lcs(p, r)
        np_, nr_ = len((p or "").split()), len((r or "").split())
        row = out.loc[i]
        assert row["lcs"] == lcs, (source, p, r)
        prec = lcs / np_ if np_ else 0.0
        rec = lcs / nr_ if nr_ else 0.0
        fm = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        assert abs(row["rouge_l_precision"] - prec) < 1e-12
        assert abs(row["rouge_l_recall"] - rec) < 1e-12
        assert abs(row["rouge_l_f"] - fm) < 1e-12


def test_rouge_column_backend_pure_projection(spark):
    df = spark.createDataFrame([(0, "a b", "b a")], "id long, pred string, ref string")
    _assert_one_arrow_projection(rouge_l_scores(df))


def test_rouge_beta_weighting(spark):
    # beta > 1 weights recall: truncated pred has perfect precision, low
    # recall, so F with beta=3 sits near recall
    df = spark.createDataFrame([(0, "a b", "a b c d e f")], "id long, pred string, ref string")
    got = rouge_l_scores(df, beta=3.0).collect()[0]
    p, r, b2 = 1.0, 2 / 6, 9.0
    assert abs(got["rouge_l_f"] - (1 + b2) * p * r / (r + b2 * p)) < 1e-12



# ---------------------------------------------------------------------------
# Bradley-Terry
# ---------------------------------------------------------------------------


def _py_bt_reference(counts, iters=300, prior=0.5):
    """Plain float MM with the same ghost anchor, run to convergence —
    no quantization; the engine's 1e-12-quantized loop must land within
    1e-6 of this."""
    wins, nbr = {}, {}
    items = set()
    for (a, b), n in counts.items():
        wins[a] = wins.get(a, 0) + n
        items |= {a, b}
        nbr.setdefault(a, {}).setdefault(b, 0)
        nbr[a][b] += n
        nbr.setdefault(b, {}).setdefault(a, 0)
        nbr[b][a] += n
    th = {i: 1.0 for i in items}
    for _ in range(iters):
        th = {
            i: (wins.get(i, 0) + prior)
            / (
                sum(n / (th[i] + th[j]) for j, n in nbr[i].items())
                + 2 * prior / (th[i] + 1)
            )
            for i in items
        }
    return th


def test_bt_matches_reference_mm(spark):
    counts = {("A", "B"): 9, ("B", "A"): 1, ("B", "C"): 7, ("C", "B"): 3, ("A", "C"): 5}
    rows = [(w, l) for (w, l), n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "winner string, loser string")
    # same iteration count on both sides: the only difference is the
    # engine's 1e-12 per-step quantization, which stays below 1e-8
    got = {r["item"]: r for r in bradley_terry(df, iters=200).collect()}
    ref = _py_bt_reference(counts, iters=200)
    for i in "ABC":
        assert abs(got[i]["rating"] - ref[i]) < 1e-8, i
    # and the converged fit satisfies the MM fixed point: theta stops moving
    long = {r["item"]: r["rating"] for r in bradley_terry(df, iters=2000).collect()}
    longer = {r["item"]: r["rating"] for r in bradley_terry(df, iters=2200).collect()}
    for i in "ABC":
        assert abs(long[i] - longer[i]) < 1e-6, i
    assert got["A"]["rating"] > got["B"]["rating"] > got["C"]["rating"]
    assert got["A"]["wins"] == 14 and got["A"]["games"] == 15
    assert got["B"]["games"] == 20


def test_bt_partition_invariance_bitexact(spark):
    rows = [(f"m{i % 5}", f"m{(i * 3 + 1) % 5}") for i in range(200)]
    rows = [(w, l) for w, l in rows if w != l]
    df = spark.createDataFrame(rows, "winner string, loser string")
    a = {r["item"]: r["rating"] for r in bradley_terry(df.repartition(1)).collect()}
    b = {r["item"]: r["rating"] for r in bradley_terry(df.repartition(13)).collect()}
    assert a == b  # exact: integer pair counts + deterministic driver loop


def test_bt_undefeated_item_stays_finite(spark):
    # ghost anchor keeps an undefeated item's rating finite and above all
    df = spark.createDataFrame(
        [("champ", "x")] * 10 + [("x", "y")] * 5 + [("y", "x")] * 5,
        "winner string, loser string",
    )
    got = {r["item"]: r["rating"] for r in bradley_terry(df).collect()}
    assert got["champ"] <= 1e6
    assert got["champ"] > got["x"] and got["champ"] > got["y"]


def test_bt_validation(spark):
    df = spark.createDataFrame([("a", "a")], "winner string, loser string")
    with pytest.raises(ValueError, match="self-comparison"):
        bradley_terry(df)
    dfn = spark.createDataFrame([("a", None)], "winner string, loser string")
    with pytest.raises(ValueError, match="NULL"):
        bradley_terry(dfn)
    ok = spark.createDataFrame([("a", "b"), ("b", "c")], "winner string, loser string")
    with pytest.raises(ValueError, match="pairs"):
        bradley_terry(ok, max_pairs=1)
    with pytest.raises(ValueError, match="iters"):
        bradley_terry(ok, iters=0)
    with pytest.raises(ValueError, match="prior"):
        bradley_terry(ok, prior=0.0)


# ---------------------------------------------------------------------------
# kappas
# ---------------------------------------------------------------------------


def test_fleiss_kappa_hand_value(spark):
    # 10 items x 3 raters, labels alternate by (item + rater) parity:
    # every item splits 2-1 -> P_i = 1/3; marginals 50/50 -> P_e = 1/2
    rows = [(i, ["yes", "no"][(i + r) % 2]) for i in range(10) for r in range(3)]
    df = spark.createDataFrame(rows, "item long, label string")
    got = fleiss_kappa(df).collect()[0]
    assert got["n_items"] == 10 and got["n_ratings"] == 30
    assert abs(got["p_bar"] - 1 / 3) < 1e-9
    assert abs(got["p_e"] - 0.5) < 1e-9
    assert abs(got["kappa"] - (1 / 3 - 0.5) / 0.5) < 1e-9


def test_fleiss_perfect_and_degenerate(spark):
    perfect = spark.createDataFrame(
        [(i, lab) for i, lab in enumerate(["a", "b"] * 5) for _ in range(4)],
        "item long, label string",
    )
    got = fleiss_kappa(perfect).collect()[0]
    assert got["p_bar"] == 1.0 and abs(got["kappa"] - 1.0) < 1e-9
    # single observed label: P_e = 1 -> kappa NULL
    one = spark.createDataFrame([(i, "a") for i in range(4) for _ in range(3)], "item long, label string")
    got = fleiss_kappa(one).collect()[0]
    assert got["p_e"] == 1.0 and got["kappa"] is None


def test_fleiss_drops_single_rating_items(spark):
    rows = [(0, "a"), (0, "a"), (1, "b")]  # item 1 has 1 rating -> dropped
    df = spark.createDataFrame(rows, "item long, label string")
    got = fleiss_kappa(df).collect()[0]
    assert got["n_items"] == 1 and got["n_ratings"] == 2


def test_cohens_kappa_hand_value(spark):
    rows = (
        [("yes", "yes")] * 20 + [("no", "no")] * 15
        + [("yes", "no")] * 5 + [("no", "yes")] * 10
    )
    df = spark.createDataFrame(rows, "label_a string, label_b string")
    got = cohens_kappa(df).collect()[0]
    # po = 35/50 = 0.7; pe = (25/50)(30/50) + (25/50)(20/50) = 0.5
    assert got["n"] == 50 and got["agree"] == 35
    assert abs(got["p_o"] - 0.7) < 1e-12
    assert abs(got["p_e"] - 0.5) < 1e-12
    assert abs(got["kappa"] - 0.4) < 1e-12


def test_cohens_kappa_null_rows_excluded(spark):
    rows = [("a", "a"), ("a", None), (None, "b"), ("b", "b")]
    df = spark.createDataFrame(rows, "label_a string, label_b string")
    got = cohens_kappa(df).collect()[0]
    assert got["n"] == 2 and got["agree"] == 2


# ---------------------------------------------------------------------------
# ROC-AUC + calibration
# ---------------------------------------------------------------------------

import random

from mrmr_spark.operators.evalmetrics import (
    calibration_report,
    expected_calibration_error,
    roc_auc,
)


def _auc_rows(n=500, seed=3):
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        s = round(rng.random(), 2)  # 2dp -> heavy ties
        rows.append((s, 1 if rng.random() < s else 0))
    return rows


def _py_auc(rows):
    import pandas as pd

    s = pd.Series([r[0] for r in rows])
    y = pd.Series([r[1] for r in rows])
    r = s.rank(method="average")
    npos, nneg = int(y.sum()), int((1 - y).sum())
    if npos == 0 or nneg == 0:
        return None
    return float((r[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg))


def test_roc_auc_matches_midrank_oracle(spark):
    rows = _auc_rows()
    df = spark.createDataFrame(rows, "score double, label int")
    pin = []
    got = roc_auc(df, pin=pin).collect()[0]
    for h in pin:
        h.unpersist()
    assert abs(got["auc"] - _py_auc(rows)) < 1e-12
    assert got["n"] == len(rows)
    assert got["n_pos"] == sum(y for _, y in rows)


def test_roc_auc_partition_invariance_and_edges(spark):
    rows = _auc_rows(300, seed=9)
    df = spark.createDataFrame(rows, "score double, label int")
    vals = []
    for parts in (1, 11):
        pin = []
        vals.append(roc_auc(df.repartition(parts), pin=pin).collect()[0]["auc"])
        for h in pin:
            h.unpersist()
    assert vals[0] == vals[1]  # bit-identical: integer numerator

    # perfect separation -> 1.0; anti-separation -> 0.0; one class -> NULL
    sep = spark.createDataFrame(
        [(0.9, 1)] * 5 + [(0.1, 0)] * 5, "score double, label int"
    )
    assert roc_auc(sep).collect()[0]["auc"] == 1.0
    anti = spark.createDataFrame(
        [(0.1, 1)] * 5 + [(0.9, 0)] * 5, "score double, label int"
    )
    assert roc_auc(anti).collect()[0]["auc"] == 0.0
    ties = spark.createDataFrame([(0.5, 1), (0.5, 0)], "score double, label int")
    assert roc_auc(ties).collect()[0]["auc"] == 0.5
    one = spark.createDataFrame([(0.5, 1), (0.7, 1)], "score double, label int")
    assert roc_auc(one).collect()[0]["auc"] is None


def test_roc_auc_validation(spark):
    bad = spark.createDataFrame([(0.5, 2)], "score double, label int")
    with pytest.raises(Exception, match="must be 0/1"):
        roc_auc(bad).collect()
    nan = spark.createDataFrame([(float("nan"), 1)], "score double, label int")
    with pytest.raises(Exception, match="non-NULL/NaN"):
        roc_auc(nan).collect()


def test_calibration_report_matches_python(spark):
    rows = [
        (p, 1 if ((i * 7) % 10) < p * 10 else 0)
        for i, p in enumerate([j / 20 for j in range(21)] * 10)
    ]
    df = spark.createDataFrame(rows, "prob double, label int")
    got = calibration_report(df, n_bins=5).toPandas().set_index("bin")
    bins = {}
    for p, y in rows:
        b = min(int(p * 5), 4)
        bins.setdefault(b, []).append((p, y))
    for b, vals in bins.items():
        assert got.loc[b, "n"] == len(vals)
        assert abs(got.loc[b, "conf"] - sum(p for p, _ in vals) / len(vals)) < 1e-9
        assert abs(got.loc[b, "acc"] - sum(y for _, y in vals) / len(vals)) < 1e-12
    # ece
    e = expected_calibration_error(calibration_report(df, n_bins=5)).collect()[0]
    n = len(rows)
    expected = sum(
        len(v) / n * abs(sum(y for _, y in v) / len(v) - sum(p for p, _ in v) / len(v))
        for v in bins.values()
    )
    assert abs(e["ece"] - expected) < 1e-9 and e["n"] == n


def test_calibration_validation(spark):
    with pytest.raises(ValueError, match="n_bins"):
        calibration_report(
            spark.createDataFrame([(0.5, 1)], "prob double, label int"), n_bins=0
        )
    bad = spark.createDataFrame([(1.5, 1)], "prob double, label int")
    with pytest.raises(Exception, match="within"):
        calibration_report(bad).collect()


# ---------------------------------------------------------------------------
# classification report + PSI drift
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import (
    classification_report,
    classification_summary,
    psi_report,
)

CLF_ROWS = (
    [("a", "a")] * 10 + [("a", "b")] * 2 + [("b", "b")] * 8 + [("b", "c")] * 1
    + [("c", "a")] * 3 + [(None, "a")] * 2 + [("d", "zz")] * 2
)


def test_classification_report_matches_python(spark):
    df = spark.createDataFrame(CLF_ROWS, "label string, pred string")
    got = classification_report(df).toPandas().set_index("class")
    sup, prd, tp = {}, {}, {}
    for l, p in CLF_ROWS:
        l = l if l is not None else "<null>"
        sup[l] = sup.get(l, 0) + 1
        prd[p] = prd.get(p, 0) + 1
        if l == p:
            tp[l] = tp.get(l, 0) + 1
    for cls in set(sup) | set(prd):
        row = got.loc[cls]
        s, q, t = sup.get(cls, 0), prd.get(cls, 0), tp.get(cls, 0)
        assert row["support"] == s and row["predicted"] == q and row["tp"] == t
        prec = t / q if q else 0.0
        rec = t / s if s else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        assert abs(row["precision"] - prec) < 1e-12
        assert abs(row["recall"] - rec) < 1e-12
        assert abs(row["f1"] - f1) < 1e-12
    # 'zz' exists only as a prediction: support 0, recall 0
    assert got.loc["zz", "support"] == 0 and got.loc["zz", "recall"] == 0.0


def test_classification_summary_excludes_phantom_classes(spark):
    df = spark.createDataFrame(CLF_ROWS, "label string, pred string")
    rep = classification_report(df)
    got = classification_summary(rep).collect()[0]
    n = len(CLF_ROWS)
    assert got["n"] == n
    # zz has zero support -> excluded; <null>, a, b, c, d remain
    assert got["n_classes"] == 5
    assert abs(got["accuracy"] - 18 / n) < 1e-12
    # macro recall: mean over supported classes only
    recalls = [0.0, 10 / 12, 8 / 9, 0.0, 0.0]  # <null>, a, b, c, d
    assert abs(got["macro_recall"] - sum(recalls) / 5) < 1e-9


def test_psi_report_matches_python(spark):
    import math

    a_counts = {"x": 50, "y": 30, "z": 20}
    b_counts = {"x": 30, "y": 50, "w": 20}
    a = spark.createDataFrame([(k,) for k, n in a_counts.items() for _ in range(n)], "c string")
    b = spark.createDataFrame([(k,) for k, n in b_counts.items() for _ in range(n)], "c string")
    got = psi_report(a, b, "c").toPandas().set_index("category")
    ta, tb = sum(a_counts.values()), sum(b_counts.values())
    expected_total = 0.0
    for cat in set(a_counts) | set(b_counts):
        sa = max(a_counts.get(cat, 0) / ta, 1e-6)
        sb = max(b_counts.get(cat, 0) / tb, 1e-6)
        term = (sa - sb) * math.log(sa / sb)
        expected_total += term
        assert abs(got.loc[cat, "psi_term"] - term) < 1e-12, cat
    assert abs(got["psi"].iloc[0] - expected_total) < 1e-9
    assert (got["psi"] == got["psi"].iloc[0]).all()  # total on every row


def test_psi_identical_distributions_near_zero(spark):
    rows = [(f"c{i % 4}",) for i in range(400)]
    df = spark.createDataFrame(rows, "c string")
    got = psi_report(df, df, "c").toPandas()
    assert (got["psi_term"] == 0.0).all() and got["psi"].iloc[0] == 0.0
    with pytest.raises(ValueError, match="eps"):
        psi_report(df, df, "c", eps=0.0)


def test_psi_null_category_and_invariance(spark):
    rows_a = [("x",), (None,), ("x",), (None,)] * 25
    rows_b = [("x",), ("x",), ("x",), (None,)] * 25
    a = spark.createDataFrame(rows_a, "c string")
    b = spark.createDataFrame(rows_b, "c string")
    one = psi_report(a.repartition(1), b.repartition(1), "c").toPandas()
    many = psi_report(a.repartition(9), b.repartition(9), "c").toPandas()
    assert set(one["category"]) == {"x", "<null>"}
    p1 = one.sort_values("category").reset_index(drop=True)
    p2 = many.sort_values("category").reset_index(drop=True)
    assert (p1["psi"] == p2["psi"]).all()  # decimal-summed total, bit-equal


# ---------------------------------------------------------------------------
# majority vote + win-rate matrix
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import majority_vote, pairwise_win_rates


def test_majority_vote_counts_and_tiebreak(spark):
    rows = (
        [(1, "x")] * 3 + [(1, "y")] * 2          # clear winner
        + [(2, "b")] * 2 + [(2, "a")] * 2        # tie -> lexicographic 'a'
        + [(3, None)] * 2 + [(3, "z")]           # abstentions outvote z
    )
    df = spark.createDataFrame(rows, "problem_id long, answer string")
    got = majority_vote(df).toPandas().set_index("problem_id")
    assert got.loc[1, "answer"] == "x" and got.loc[1, "vote_count"] == 3
    assert got.loc[1, "n_samples"] == 5 and got.loc[1, "n_distinct"] == 2
    assert abs(got.loc[1, "vote_share"] - 0.6) < 1e-12
    assert got.loc[2, "answer"] == "a"           # deterministic tie-break
    assert got.loc[3, "answer"] == "" and got.loc[3, "vote_count"] == 2
    # partition invariance
    alt = majority_vote(df.repartition(7)).toPandas().set_index("problem_id")
    assert (alt["answer"] == got["answer"]).all()


def test_pairwise_win_rates_matches_python(spark):
    rows = (
        [("A", "B")] * 9 + [("B", "A")] * 1
        + [("C", "B")] * 3 + [("B", "C")] * 7
        + [("A", "C")] * 5
    )
    df = spark.createDataFrame(rows, "winner string, loser string")
    got = {
        (r["item_a"], r["item_b"]): r for r in pairwise_win_rates(df).collect()
    }
    ab = got[("A", "B")]
    assert ab["n"] == 10 and ab["wins_a"] == 9 and ab["wins_b"] == 1
    assert abs(ab["win_rate_a"] - 0.9) < 1e-12
    bc = got[("B", "C")]
    assert bc["n"] == 10 and bc["wins_a"] == 7     # B canonical side a
    ac = got[("A", "C")]
    assert ac["n"] == 5 and ac["wins_a"] == 5 and ac["win_rate_a"] == 1.0
    assert len(got) == 3


# ---------------------------------------------------------------------------
# bootstrap CIs + paired significance
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import (
    _POIS1_CDF,
    bootstrap_mean_ci,
    bootstrap_replicates,
    paired_bootstrap_test,
)


def _py_affine_u(i, b, n_boot, seed):
    mixed = i * n_boot + b
    return ((mixed % 2**31) * 2654435761 + seed) % 2**32 / 2**32


def _py_weight(u):
    return sum(1 for c in _POIS1_CDF if u >= c)


def _boot_rows(n=40):
    # deterministic values in [0, 1)
    return [(i, ((i * 37 + 11) % 97) / 97.0) for i in range(n)]


def test_bootstrap_replicates_match_python_oracle(spark):
    rows = _boot_rows()
    df = spark.createDataFrame(rows, "doc_id long, value double")
    got = bootstrap_replicates(
        df, "value", "doc_id", n_boot=25, seed=7, hash_fn="affine"
    ).collect()
    assert len(got) == 25
    for r in got:
        b = r["replicate"]
        ws = [_py_weight(_py_affine_u(i, b, 25, 7)) for i, _ in rows]
        num = sum(w * x for (_, x), w in zip(rows, ws))
        assert r["n_eff"] == sum(ws)                      # exact integer
        assert abs(r["est"] - num / sum(ws)) < 1e-9       # quantized terms
    # Poisson(1) weights: total mass near n per replicate
    mean_eff = sum(r["n_eff"] for r in got) / len(got)
    assert 0.7 * len(rows) < mean_eff < 1.3 * len(rows)


def test_bootstrap_replicates_partition_invariance_bitexact(spark):
    rows = _boot_rows(60)
    df = spark.createDataFrame(rows, "doc_id long, value double")
    outs = []
    for parts in (1, 13):
        got = bootstrap_replicates(
            df.repartition(parts), "value", "doc_id", n_boot=30, seed=3
        ).orderBy("replicate").collect()
        outs.append([(r["n_eff"], r["est"]) for r in got])
    assert outs[0] == outs[1]  # decimal-quantized terms: bit-identical


def test_bootstrap_mean_ci_matches_order_statistics(spark):
    rows = _boot_rows(50)
    df = spark.createDataFrame(rows, "doc_id long, value double")
    pin = []
    got = bootstrap_mean_ci(
        df, "value", "doc_id", n_boot=40, seed=5, alpha=0.1, pin=pin
    ).collect()[0]
    for h in pin:
        h.unpersist()
    reps = sorted(
        r["est"]
        for r in bootstrap_replicates(
            df, "value", "doc_id", n_boot=40, seed=5
        ).collect()
    )
    assert got["b"] == 40
    k_lo = max(int(math.ceil(40 * (0.1 / 2.0))), 1)
    k_hi = min(int(math.ceil(40 * (1.0 - 0.1 / 2.0))), 40)
    assert got["ci_lo"] == reps[k_lo - 1]                 # exact order stats
    assert got["ci_hi"] == reps[k_hi - 1]
    assert got["ci_lo"] <= got["mean"] <= got["ci_hi"]
    assert got["n"] == 50
    obs = sum(x for _, x in rows) / 50
    assert abs(got["mean"] - obs) < 1e-9
    m = sum(reps) / len(reps)
    se_py = math.sqrt(sum((e - m) ** 2 for e in reps) / (len(reps) - 1))
    assert abs(got["se"] - se_py) < 1e-7


def test_paired_bootstrap_constant_shift_and_null(spark):
    rows = [(i, x, x - 0.3) for i, x in _boot_rows(30)]
    df = spark.createDataFrame(rows, "doc_id long, value_a double, value_b double")
    pin = []
    got = paired_bootstrap_test(
        df, "value_a", "value_b", "doc_id", n_boot=50, seed=11, pin=pin
    ).collect()[0]
    for h in pin:
        h.unpersist()
    # constant per-row difference: every replicate delta is exactly 0.3
    assert abs(got["delta"] - 0.3) < 1e-9
    assert abs(got["ci_lo"] - 0.3) < 1e-9 and abs(got["ci_hi"] - 0.3) < 1e-9
    assert got["p_value"] == 1.0 / 51.0                  # no replicate <= 0
    # identical systems: p = 1 exactly
    same = spark.createDataFrame(
        [(i, x, x) for i, x in _boot_rows(30)],
        "doc_id long, value_a double, value_b double",
    )
    pin2 = []
    g2 = paired_bootstrap_test(
        same, "value_a", "value_b", "doc_id", n_boot=50, seed=11, pin=pin2
    ).collect()[0]
    for h in pin2:
        h.unpersist()
    assert g2["p_value"] == 1.0 and g2["delta"] == 0.0


def test_bootstrap_single_aggregation_plan(spark):
    df = spark.createDataFrame(_boot_rows(20), "doc_id long, value double")
    plan = (
        bootstrap_replicates(df, "value", "doc_id", n_boot=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1                   # the replicate groupBy
    assert "Python" not in plan and "InMemory" not in plan


def test_bootstrap_validation(spark):
    df = spark.createDataFrame(_boot_rows(5), "doc_id long, value double")
    with pytest.raises(ValueError, match="n_boot"):
        bootstrap_replicates(df, n_boot=1, value_col="value")
    with pytest.raises(ValueError, match="hash_fn"):
        bootstrap_replicates(df, value_col="value", hash_fn="md5")
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_mean_ci(df, value_col="value", alpha=1.5)
    bad = spark.createDataFrame(
        [(1, float("nan"))], "doc_id long, value double"
    )
    with pytest.raises(Exception, match="finite"):
        bootstrap_replicates(bad, "value", "doc_id", n_boot=5).collect()


def test_bootstrap_cluster_resampling_by_group_id(spark):
    # passing a GROUP id as id_col shares one weight across the group's
    # rows (the cluster bootstrap): replicate means over exploded groups
    # equal replicate means over the group aggregates
    groups = [(g, ((g * 37 + 11) % 97) / 97.0) for g in range(20)]
    per_row = [(g, x) for g, x in groups for _ in range(3)]  # 3 turns/conv
    df_rows = spark.createDataFrame(per_row, "conv_id long, value double")
    df_grp = spark.createDataFrame(groups, "conv_id long, value double")
    r_rows = {
        r["replicate"]: r
        for r in bootstrap_replicates(
            df_rows, "value", "conv_id", n_boot=20, seed=9, hash_fn="affine"
        ).collect()
    }
    r_grp = {
        r["replicate"]: r
        for r in bootstrap_replicates(
            df_grp, "value", "conv_id", n_boot=20, seed=9, hash_fn="affine"
        ).collect()
    }
    for b in r_grp:
        assert r_rows[b]["n_eff"] == 3 * r_grp[b]["n_eff"]
        # identical weighted mean: every group member carries the weight
        assert abs(r_rows[b]["est"] - r_grp[b]["est"]) < 1e-12


# ---------------------------------------------------------------------------
# chrF + Krippendorff's alpha
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import (
    chrf_scores,
    corpus_chrf,
    krippendorff_alpha,
)


def _py_chrf_stats(pred, ref, max_n=6):
    import re

    sp = re.sub(r"\s+", "", pred or "")
    sr = re.sub(r"\s+", "", ref or "")
    stats = []
    for n in range(1, max_n + 1):
        cg = [sp[i : i + n] for i in range(len(sp) - n + 1)]
        rg = [sr[i : i + n] for i in range(len(sr) - n + 1)]
        cc, rc = Counter(cg), Counter(rg)
        m = sum(min(c, rc[g]) for g, c in cc.items())
        stats.append((m, len(cg), len(rg)))
    return stats


def _py_chrf_from_stats(stats, beta=2.0):
    n_ord = len(stats)
    p = sum(m / tc if tc else 0.0 for m, tc, _ in stats) / n_ord
    r = sum(m / tr if tr else 0.0 for m, _, tr in stats) / n_ord
    b2 = beta * beta
    return (1 + b2) * p * r / (b2 * p + r) if b2 * p + r > 0 else 0.0


CHRF_CASES = [
    ("the cat sat", "the cat sat", "identical"),
    ("the cat sat", "the bat sat", "one char class off"),
    ("abc def", "abcdef", "whitespace removed -> identical"),
    ("aaaa", "aa", "clipping"),
    ("xyz", "abc", "disjoint"),
    ("a", "a", "single char (higher orders empty)"),
    ("", "abc", "empty pred"),
    (None, None, "nulls"),
]


def test_chrf_matches_python_oracle(spark):
    df = spark.createDataFrame(
        [(i, p, r) for i, (p, r, _) in enumerate(CHRF_CASES)],
        "id long, pred string, ref string",
    )
    out = chrf_scores(df).toPandas().set_index("id")
    for i, (p, r, label) in enumerate(CHRF_CASES):
        stats = _py_chrf_stats(p, r)
        row = out.loc[i]
        for n in range(1, 7):
            m, tc, tr = stats[n - 1]
            assert row[f"match_{n}"] == m, (label, n)
            assert row[f"total_c_{n}"] == tc and row[f"total_r_{n}"] == tr
        assert abs(row["chrf"] - _py_chrf_from_stats(stats)) < 1e-12, label


def test_chrf_pure_projection_and_corpus(spark):
    rows = [(i, p, r) for i, (p, r, _) in enumerate(CHRF_CASES)]
    df = spark.createDataFrame(rows, "id long, pred string, ref string")
    _assert_one_arrow_projection(chrf_scores(df))

    per_row = [_py_chrf_stats(p, r) for _, p, r in rows]
    sums = [
        tuple(sum(s[n][j] for s in per_row) for j in range(3)) for n in range(6)
    ]
    for parts in (1, 5):
        got = corpus_chrf(chrf_scores(df.repartition(parts))).collect()[0]
        for n in range(1, 7):
            m, tc, tr = sums[n - 1]
            assert got[f"match_{n}"] == m
            assert got[f"total_c_{n}"] == tc and got[f"total_r_{n}"] == tr
        assert abs(got["chrf"] - _py_chrf_from_stats(sums)) < 1e-12


def test_chrf_beta_and_validation(spark):
    df = spark.createDataFrame([(0, "ab", "abcd")], "id long, pred string, ref string")
    # beta -> 0 approaches pure precision weighting
    g1 = chrf_scores(df, beta=0.001).collect()[0]["chrf"]
    stats = _py_chrf_stats("ab", "abcd")
    p = sum(m / tc if tc else 0.0 for m, tc, _ in stats) / 6
    assert abs(g1 - p) < 1e-3
    with pytest.raises(ValueError, match="max_n"):
        chrf_scores(df, max_n=0)
    with pytest.raises(ValueError, match="beta"):
        chrf_scores(df, beta=0.0)


def _py_kripp(rows):
    from collections import defaultdict

    per = defaultdict(Counter)
    for i, l in rows:
        per[i][l] += 1
    per = {i: c for i, c in per.items() if sum(c.values()) >= 2}
    N = sum(sum(c.values()) for c in per.values())
    d_o = (
        sum(
            (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
            / (sum(c.values()) - 1)
            for c in per.values()
        )
        / N
    )
    marg = Counter()
    for c in per.values():
        marg.update(c)
    d_e = (N * N - sum(t * t for t in marg.values())) / (N * (N - 1))
    return d_o, d_e, (1 - d_o / d_e) if d_e > 0 else None


def test_krippendorff_matches_python_oracle(spark):
    # unequal raters per item + a singleton item that must be dropped
    rows = (
        [(1, "a"), (1, "a"), (1, "b")]
        + [(2, "b"), (2, "b")]
        + [(3, "a"), (3, "a"), (3, "a"), (3, "c")]
        + [(4, "c")]                       # singleton -> excluded
    )
    df = spark.createDataFrame(rows, "item long, label string")
    got = krippendorff_alpha(df).collect()[0]
    d_o, d_e, alpha = _py_kripp(rows)
    assert got["n_items"] == 3 and got["n_ratings"] == 9
    assert abs(got["d_o"] - d_o) < 1e-12
    assert abs(got["d_e"] - d_e) < 1e-12
    assert abs(got["alpha"] - alpha) < 1e-12
    # partition invariance (integer numerators + quantized terms)
    alt = krippendorff_alpha(df.repartition(7)).collect()[0]
    assert alt["alpha"] == got["alpha"]


def test_krippendorff_perfect_and_degenerate(spark):
    perfect = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(10) for _ in range(3)],
        "item long, label string",
    )
    assert krippendorff_alpha(perfect).collect()[0]["alpha"] == 1.0
    one_label = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "a")], "item long, label string"
    )
    assert krippendorff_alpha(one_label).collect()[0]["alpha"] is None


# ---------------------------------------------------------------------------
# WER (token edit distance)
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import wer_scores


def _py_edit(a, b):
    a, b = (a or "").split(), (b or "").split()
    dp = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, y in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (x != y))
    return dp[-1]


WER_CASES = [
    ("the cat sat", "the cat sat"),
    ("the cat sat", "the bat sat"),              # 1 substitution
    ("the cat", "the cat sat on the mat"),       # deletions from ref
    ("a b c d e", "c d e"),                      # prefix insertions
    ("x y z", "p q"),                            # disjoint
    ("a b a b", "b a b a"),
    ("one", "one two three four"),
    ("", "x y"),
    ("w v", ""),
    (None, None),
]


@pytest.mark.parametrize("source", ["arrow", "column"])
def test_wer_matches_python_dp(frame_from, source):
    df = frame_from(
        [(i, p, r) for i, (p, r) in enumerate(WER_CASES)],
        "id long, pred string, ref string",
        source,
    )
    out = wer_scores(df).toPandas().set_index("id")
    for i, (p, r) in enumerate(WER_CASES):
        d = _py_edit(p, r)
        np_, nr_ = len((p or "").split()), len((r or "").split())
        row = out.loc[i]
        assert row["edit_dist"] == d, (source, p, r)
        if nr_ > 0:
            assert abs(row["wer"] - d / nr_) < 1e-12
        elif np_ == 0:
            assert row["wer"] == 0.0
        else:
            assert math.isnan(row["wer"]) or row["wer"] is None


def test_wer_column_pure_projection_and_validation(spark):
    df = spark.createDataFrame([(0, "a b", "b a")], "id long, pred string, ref string")
    _assert_one_arrow_projection(wer_scores(df))
    # one kernel per metric: no backend selector is accepted
    for metric in (bleu_scores, chrf_scores, rouge_l_scores, wer_scores):
        with pytest.raises(TypeError, match="backend"):
            metric(df, backend="arrow")


# ---------------------------------------------------------------------------
# hypothesis property sweeps (generated inputs vs Python oracles)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_HSET = settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: tiny alphabet forces repeated tokens — the regime where clipping,
#: LCS ties and edit-distance substitution chains all interact
_tok = st.text(alphabet="abc", min_size=1, max_size=2)
_sent = st.lists(_tok, min_size=0, max_size=8).map(" ".join)
_pairs = st.lists(st.tuples(_sent, _sent), min_size=1, max_size=12)


@given(pairs=_pairs)
@_HSET
def test_property_wer_and_lcs_match_python(spark, pairs):
    df = spark.createDataFrame(
        [(i, p, r) for i, (p, r) in enumerate(pairs)],
        "id long, pred string, ref string",
    )
    wer = wer_scores(df).toPandas().set_index("id")
    rl = rouge_l_scores(df).toPandas().set_index("id")
    for i, (p, r) in enumerate(pairs):
        assert wer.loc[i, "edit_dist"] == _py_edit(p, r), (p, r)
        assert rl.loc[i, "lcs"] == _py_lcs(p, r), (p, r)
        # metric sanity: LCS and edit distance bound each other
        np_, nr_ = len(p.split()), len(r.split())
        assert wer.loc[i, "edit_dist"] >= max(np_, nr_) - rl.loc[i, "lcs"]
        assert wer.loc[i, "edit_dist"] <= np_ + nr_ - 2 * rl.loc[i, "lcs"]


@given(pairs=_pairs)
@_HSET
def test_property_bleu_chrf_match_python(spark, pairs):
    df = spark.createDataFrame(
        [(i, p, r) for i, (p, r) in enumerate(pairs)],
        "id long, pred string, ref string",
    )
    bl = bleu_scores(df).toPandas().set_index("id")
    ch = chrf_scores(df).toPandas().set_index("id")
    for i, (p, r) in enumerate(pairs):
        ms, ts, bp, bleu = _py_bleu_stats(p, r)
        for n in range(1, 5):
            assert bl.loc[i, f"match_{n}"] == ms[n - 1], (p, r, n)
            assert bl.loc[i, f"total_{n}"] == ts[n - 1]
        assert abs(bl.loc[i, "bleu"] - bleu) < 1e-12
        stats = _py_chrf_stats(p, r)
        for n in range(1, 7):
            m, tc, tr = stats[n - 1]
            assert ch.loc[i, f"match_{n}"] == m, (p, r, n)
        assert abs(ch.loc[i, "chrf"] - _py_chrf_from_stats(stats)) < 1e-12


@given(
    data=st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=25,
    ),
    n_boot=st.integers(min_value=2, max_value=30),
    seed=st.integers(min_value=0, max_value=10_000),
    parts=st.integers(min_value=1, max_value=5),
)
@_HSET
def test_property_bootstrap_matches_python(spark, data, n_boot, seed, parts):
    rows = [(i, float(x)) for i, x in enumerate(data)]
    df = spark.createDataFrame(rows, "doc_id long, value double").repartition(parts)
    got = bootstrap_replicates(
        df, "value", "doc_id", n_boot=n_boot, seed=seed, hash_fn="affine"
    ).collect()
    assert len(got) == n_boot
    for r in got:
        ws = [_py_weight(_py_affine_u(i, r["replicate"], n_boot, seed))
              for i, _ in rows]
        assert r["n_eff"] == sum(ws)
        if sum(ws) == 0:
            assert r["est"] is None
        else:
            num = sum(w * x for (_, x), w in zip(rows, ws))
            assert abs(r["est"] - num / sum(ws)) < 1e-7


def test_bootstrap_ci_degenerate_contract(spark):
    # empty input: still ONE row — b=0, NULL se/ci (the documented shape)
    empty = spark.createDataFrame([], "doc_id long, value double")
    pin = []
    row = bootstrap_mean_ci(
        empty, "value", "doc_id", n_boot=5, pin=pin
    ).collect()
    for h in pin:
        h.unpersist()
    assert len(row) == 1
    r = row[0]
    assert r["b"] == 0 and r["se"] is None
    assert r["ci_lo"] is None and r["ci_hi"] is None

    # single surviving replicate: CI collapses to it, se NULL (variance
    # undefined at b=1 — the unguarded divisor would give Inf/NaN)
    from mrmr_spark.operators.evalmetrics import _ci_stats

    reps = spark.createDataFrame(
        [(0, 3, 0.7), (1, 0, None)], "replicate int, n_eff long, est double"
    )
    pin2 = []
    s = _ci_stats(reps, alpha=0.05, pin=pin2).collect()[0]
    for h in pin2:
        h.unpersist()
    assert s["b"] == 1 and s["se"] is None
    assert s["ci_lo"] == 0.7 and s["ci_hi"] == 0.7


# ---------------------------------------------------------------------------
# Wilson intervals + McNemar
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import mcnemar_test, win_rate_intervals


def test_win_rate_intervals_match_python(spark):
    rows = [("A", "B")] * 9 + [("B", "A")] * 1 + [("A", "C")] * 5
    df = spark.createDataFrame(rows, "winner string, loser string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in win_rate_intervals(pairwise_win_rates(df)).collect()
    }
    z = 1.959963984540054
    for (a, b), r in got.items():
        n, p = r["n"], r["win_rate_a"]
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = z / denom * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        assert abs(r["ci_lo"] - max(center - half, 0.0)) < 1e-12
        assert abs(r["ci_hi"] - min(center + half, 1.0)) < 1e-12
        assert r["ci_lo"] <= r["win_rate_a"] or r["win_rate_a"] == 1.0
    # total-dominance cell: Wilson stays a proper interval at p̂ = 1
    ac = got[("A", "C")]
    assert ac["win_rate_a"] == 1.0 and ac["ci_lo"] < 1.0 and ac["ci_hi"] == 1.0
    with pytest.raises(ValueError, match="z"):
        win_rate_intervals(pairwise_win_rates(df), z=0.0)


def test_mcnemar_counts_and_statistic(spark):
    # 30 both-correct, 10 both-wrong, 12 a-only, 3 b-only
    rows = (
        [(1, 1)] * 30 + [(0, 0)] * 10 + [(1, 0)] * 12 + [(0, 1)] * 3
    )
    df = spark.createDataFrame(rows, "value_a int, value_b int")
    r = mcnemar_test(df).collect()[0]
    assert (r["n"], r["both_correct"], r["both_wrong"]) == (55, 30, 10)
    assert (r["a_only"], r["b_only"]) == (12, 3)
    assert abs(r["statistic"] - (abs(12 - 3) - 1) ** 2 / 15) < 1e-12

    # concordant-only: no discordant information -> NULL statistic
    conc = spark.createDataFrame([(1, 1)] * 4 + [(0, 0)] * 2,
                                 "value_a int, value_b int")
    assert mcnemar_test(conc).collect()[0]["statistic"] is None
    # |b - c| <= 1 clamps to zero evidence
    tie = spark.createDataFrame([(1, 0), (0, 1)], "value_a int, value_b int")
    assert mcnemar_test(tie).collect()[0]["statistic"] == 0.0
    # non-binary labels rejected at execution
    bad = spark.createDataFrame([(2, 0)], "value_a int, value_b int")
    with pytest.raises(Exception, match="0/1"):
        mcnemar_test(bad).collect()


# ---------------------------------------------------------------------------
# distinct-n diversity
# ---------------------------------------------------------------------------

from mrmr_spark.operators.evalmetrics import distinct_ngrams


def test_distinct_ngrams_matches_python(spark):
    rows = [
        (1, "the cat sat"), (1, "the cat sat"), (1, "the dog ran"),
        (2, "a a a a"),
        (3, ""),                                 # empty sample still counted
    ]
    df = spark.createDataFrame(rows, "problem_id long, text string")
    got = {
        (r["problem_id"], r["n"]): r
        for r in distinct_ngrams(df, ns=(1, 2)).collect()
    }
    texts = {}
    for p, t in rows:
        texts.setdefault(p, []).append(t)
    for p, ts in texts.items():
        for n in (1, 2):
            grams = [
                " ".join(tok[i : i + n])
                for t in ts
                for tok in [t.split() if t else []]
                for i in range(len(tok) - n + 1)
            ]
            r = got[(p, n)]
            assert r["n_samples"] == len(ts)
            assert r["total_grams"] == len(grams)
            assert r["distinct_grams"] == len(set(grams))
            if grams:
                assert abs(r["distinct_ratio"] - len(set(grams)) / len(grams)) < 1e-12
            else:
                assert r["distinct_ratio"] is None
    # the degenerate sampler is flagged: distinct-1 of "a a a a" = 0.25
    assert abs(got[(2, 1)]["distinct_ratio"] - 0.25) < 1e-12
    assert got[(3, 1)]["total_grams"] == 0 and got[(3, 1)]["n_samples"] == 1
    with pytest.raises(ValueError, match="ns"):
        distinct_ngrams(df, ns=(0,))
