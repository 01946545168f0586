"""Generation-eval metrics + preference analytics: BLEU, ROUGE-L,
Bradley-Terry ratings, inter-annotator agreement.

Completes the eval-harness layer next to ``textstats.qa_scores`` /
``textstats.pass_at_k`` and ``chat.preference_pairs``:

- :func:`bleu_scores` / :func:`corpus_bleu` — Papineni et al. 2002
  modified-n-gram-precision BLEU, sentence- and corpus-level; the exact
  integer gram counts come from one Arrow kernel, the float score is a
  Column formula (zero shuffle — composes with streaming frames
  unchanged). :func:`chrf_scores` / :func:`corpus_chrf` are the
  character-n-gram counterpart, same shape.
- :func:`rouge_l_scores` / :func:`wer_scores` — Lin 2004 ROUGE-L and
  word error rate over numpy LCS / edit-distance DPs in prefix-max /
  prefix-min form (no within-row sequential dependency), one Arrow
  kernel each; the gate's ANSI recursive CTEs compute the same
  recurrences independently.
- :func:`bradley_terry` — Bradley-Terry 1952 strength fitting over
  pairwise preference outcomes via Hunter 2004 MM updates: the pair
  statistics are ONE distributed aggregation (shuffle ∝ distinct pairs,
  never rows), the bounded item table iterates on the driver like
  ``tokenizer.bpe_train``'s merge loop, and every float step is written
  to be engine-mirrorable (term-quantized integer sums) so the gate
  oracle re-derives the full iteration in SQL.
- :func:`fleiss_kappa` / :func:`cohens_kappa` — annotation-QA agreement
  statistics with DECIMAL(28,12)-summed terms (the ``ngram_lm_score``
  pattern) so results are partitioning-independent bit for bit.

Scale notes (100 TB): the per-row metrics are projections — they ride
whatever partitioning the eval frame already has. Bradley-Terry's
distributed work is bounded by the distinct (item, item) comparison
graph (models/policies/annotators — thousands, not corpus-sized); the
caps raise explicit errors rather than letting a mis-keyed join ship a
corpus to the driver. The kappas are two-stage aggregations whose
second stage is O(#items + #labels).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "bleu_scores",
    "bootstrap_replicates",
    "bootstrap_mean_ci",
    "paired_bootstrap_test",
    "roc_auc",
    "calibration_report",
    "expected_calibration_error",
    "classification_report",
    "classification_summary",
    "psi_report",
    "corpus_bleu",
    "chrf_scores",
    "corpus_chrf",
    "krippendorff_alpha",
    "rouge_l_scores",
    "wer_scores",
    "bradley_terry",
    "majority_vote",
    "pairwise_win_rates",
    "win_rate_intervals",
    "mcnemar_test",
    "distinct_ngrams",
    "fleiss_kappa",
    "cohens_kappa",
]

#: separator used to join tokens into n-gram keys; tokens come from a
#: whitespace split so they can never contain it; gram keys stay unambiguous
_GRAM_SEP = " "

def _ws_tokens(col: Column) -> Column:
    """Whitespace tokens of a string column; NULL -> [] (empty text)."""
    return F.filter(
        F.split(F.coalesce(col.cast("string"), F.lit("")), "\\s+"),
        lambda t: t != "",
    )


def _grams(toks: Column, n: int) -> Column:
    """Order-n gram strings of a token array (empty when len < n)."""
    if n == 1:
        return toks
    cnt = F.size(toks) - (n - 1)
    # sequence(1, cnt) DESCENDS when cnt < 1 — guard to an empty array
    seq = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(F.array().cast("array<int>"))
    return F.transform(seq, lambda i: F.array_join(F.slice(toks, i, n), _GRAM_SEP))


def _geo_mean(prod: Column, max_n: int) -> Column:
    """(Π p_n)^(1/max_n). For max_n in {1, 2, 4} this is repeated sqrt —
    IEEE-754 requires sqrt to be correctly rounded, so JVM and any other
    engine agree bit for bit; pow(x, 1/3.0) etc. is libm-dependent."""
    if max_n == 1:
        return prod
    if max_n == 2:
        return F.sqrt(prod)
    if max_n == 4:
        return F.sqrt(F.sqrt(prod))
    return F.pow(prod, F.lit(1.0 / max_n))


def _bleu_formula(mf, tf, np_, nr_, max_n: int) -> tuple[Column, Column]:
    """(brevity_penalty, bleu) from per-order match/total accessors —
    shared by :func:`bleu_scores` and :func:`corpus_bleu` so sentence and
    corpus scores are the same expression."""
    prod = F.lit(1.0)
    nonzero = F.lit(True)
    for n in range(1, max_n + 1):
        m, t = mf(n), tf(n)
        nonzero = nonzero & (m > 0) & (t > 0)
        prod = prod * (m.cast("double") / F.when(t > 0, t).otherwise(1))
    bp = (
        F.when(np_ == 0, F.lit(0.0))
        .when(np_ >= nr_, F.lit(1.0))
        .otherwise(F.exp(F.lit(1.0) - nr_.cast("double") / np_.cast("double")))
    )
    bleu = F.when(nonzero, bp * _geo_mean(prod, max_n)).otherwise(F.lit(0.0))
    return bp, bleu


def _bleu_stats_arrow(tp: Column, tr: Column, max_n: int) -> Column:
    """Per-row [match_1, total_1, ..., match_N, total_N] as one Arrow
    batch (Counter-clipped matches on the token arrays the CALLER
    tokenized — no tokenization in Python, so the only Python work is
    exact integer counting; the float score stays Column-side)."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _stats(preds, refs):
        out = []
        for p, r in zip(preds, refs):
            p = [] if p is None else list(p)
            r = [] if r is None else list(r)
            row = []
            for n in range(1, max_n + 1):
                cg = [" ".join(p[i: i + n]) for i in range(len(p) - n + 1)]
                rg = Counter(" ".join(r[i: i + n]) for i in range(len(r) - n + 1))
                cc = Counter(cg)
                row.append(sum(min(c, rg[g]) for g, c in cc.items()))
                row.append(len(cg))
            out.append(row)
        return pd.Series(out)

    return _stats(tp, tr)


def bleu_scores(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    max_n: int = 4,
) -> DataFrame:
    """Per-row sentence BLEU (Papineni et al. 2002) between a candidate
    and a single reference — zero shuffle, one Arrow kernel
    (plan-asserted in tests; runs on streaming frames unchanged).

    Tokenization is whitespace splitting (BLEU assumes pre-tokenized
    text); NULL reads as empty. For each n ≤ ``max_n`` the clipped match
    count Σ_g min(cnt_cand(g), cnt_ref(g)) and the candidate gram total
    are emitted (``match_n`` / ``total_n`` — exact ints, which is what
    makes :func:`corpus_bleu` a deterministic sum), plus:

    - ``brevity_penalty`` = 1 if len_pred >= len_ref else
      exp(1 - len_ref/len_pred) (0 when the candidate is empty);
    - ``bleu`` = BP · (Π_n p_n)^(1/max_n) with p_n = match_n/total_n,
      and 0 whenever any match_n or total_n is 0 (the unsmoothed
      convention; sentence-level smoothing variants belong to the
      caller, corpus BLEU rarely needs them).

    The geometric mean is computed by repeated ``sqrt`` when max_n is a
    power of two ≤ 4 (correctly rounded per IEEE-754 in every engine),
    keeping the value reproducible bit for bit outside the one ``exp``
    in the brevity penalty.

    The integer match/total stats are Counter-clipped in one Arrow batch
    over the Column-tokenized arrays; the float score is the same Column
    formula :func:`corpus_bleu` applies.
    """
    if max_n < 1:
        raise ValueError(f"bleu_scores: max_n must be >= 1, got {max_n}")
    tp = _ws_tokens(F.col(pred_col))
    tr = _ws_tokens(F.col(ref_col))
    st = df.select("*", F.size(tp).cast("int").alias("n_pred"),
                   F.size(tr).cast("int").alias("n_ref"),
                   _bleu_stats_arrow(tp, tr, max_n).alias("_st"))
    cols = []
    for n in range(1, max_n + 1):
        cols.append(F.element_at("_st", 2 * n - 1).alias(f"match_{n}"))
        cols.append(F.element_at("_st", 2 * n).alias(f"total_{n}"))
    bp, bleu = _bleu_formula(
        lambda n: F.element_at("_st", 2 * n - 1),
        lambda n: F.element_at("_st", 2 * n),
        F.col("n_pred"), F.col("n_ref"), max_n,
    )
    return st.select(
        *[c for c in st.columns if c != "_st"], *cols,
        bp.alias("brevity_penalty"), bleu.alias("bleu"),
    )


def corpus_bleu(scored: DataFrame, max_n: int = 4) -> DataFrame:
    """Corpus-level BLEU from a :func:`bleu_scores` output frame: sums the
    integer ``match_n`` / ``total_n`` / length columns (associative —
    partitioning-independent) and applies the same BP · geometric-mean
    formula once. Returns one row: ``n_pred, n_ref, match_1..N,
    total_1..N, brevity_penalty, bleu``."""
    aggs = [
        F.sum("n_pred").alias("n_pred"),
        F.sum("n_ref").alias("n_ref"),
    ]
    for n in range(1, max_n + 1):
        aggs.append(F.sum(f"match_{n}").alias(f"match_{n}"))
        aggs.append(F.sum(f"total_{n}").alias(f"total_{n}"))
    out = scored.agg(*aggs)
    bp, bleu = _bleu_formula(
        lambda n: F.col(f"match_{n}"), lambda n: F.col(f"total_{n}"),
        F.col("n_pred"), F.col("n_ref"), max_n,
    )
    return out.select("*", bp.alias("brevity_penalty"), bleu.alias("bleu"))


# ---------------------------------------------------------------------------
# chrF (character n-gram F-score)
# ---------------------------------------------------------------------------

def _chrf_formula(mf, tcf, trf, max_n: int, beta: float) -> Column:
    """Order-averaged chrF from per-order accessors — shared by
    :func:`chrf_scores` and :func:`corpus_chrf`."""
    psum = F.lit(0.0)
    rsum = F.lit(0.0)
    for n in range(1, max_n + 1):
        m, tc, tr = mf(n), tcf(n), trf(n)
        psum = psum + F.when(tc > 0, m.cast("double") / tc.cast("double")).otherwise(0.0)
        rsum = rsum + F.when(tr > 0, m.cast("double") / tr.cast("double")).otherwise(0.0)
    p = psum / float(max_n)
    r = rsum / float(max_n)
    b2 = beta * beta
    denom = b2 * p + r
    return F.when(denom > 0, (1.0 + b2) * p * r / denom).otherwise(F.lit(0.0))


def _chrf_stats_arrow(sp: Column, sr: Column, max_n: int) -> Column:
    """Per-row [match_1, total_c_1, total_r_1, ...] as one Arrow batch
    over the Column-side whitespace-stripped strings (stripping stays in
    the engine, with Java-regex ``\\s`` semantics)."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _stats(ps, rs):
        out = []
        for p, r in zip(ps, rs):
            p = p or ""
            r = r or ""
            row = []
            for n in range(1, max_n + 1):
                cg = [p[i: i + n] for i in range(len(p) - n + 1)]
                rg = Counter(r[i: i + n] for i in range(len(r) - n + 1))
                cc = Counter(cg)
                row.append(sum(min(c, rg[g]) for g, c in cc.items()))
                row.append(len(cg))
                row.append(max(len(r) - n + 1, 0))
            out.append(row)
        return pd.Series(out)

    return _stats(sp, sr)


def chrf_scores(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Per-row chrF (Popović 2015): character-n-gram F-score between a
    candidate and a reference — the tokenization-free companion to
    :func:`bleu_scores` (robust to morphology and segmentation choices):
    zero shuffle, one Arrow kernel.

    All whitespace is removed first (the chrF convention — word boundaries
    carry no credit), then for each order n ≤ ``max_n`` the clipped match
    count and both gram totals are emitted (``match_n`` / ``total_c_n`` /
    ``total_r_n`` — exact ints, which is what makes :func:`corpus_chrf` a
    deterministic sum). The score averages precision and recall over ALL
    orders (an order with an empty gram set contributes 0 — the sacrebleu
    epsilon-free convention at these defaults):

        P = (1/N) Σ_n match_n/total_c_n,  R = (1/N) Σ_n match_n/total_r_n,
        chrf = (1+β²)·P·R / (β²·P + R)    (0 when the denominator is 0)

    β = 2 weights recall twice — the standard chrF2.

    The integer stats are Counter-clipped in one Arrow batch over the
    Column-side stripped strings; the float score is the same Column
    formula :func:`corpus_chrf` applies.
    """
    if max_n < 1:
        raise ValueError(f"chrf_scores: max_n must be >= 1, got {max_n}")
    if beta <= 0:
        raise ValueError(f"chrf_scores: beta must be > 0, got {beta}")
    sp = F.regexp_replace(F.coalesce(F.col(pred_col).cast("string"), F.lit("")), r"\s+", "")
    sr = F.regexp_replace(F.coalesce(F.col(ref_col).cast("string"), F.lit("")), r"\s+", "")
    st = df.select("*", _chrf_stats_arrow(sp, sr, max_n).alias("_st"))
    cols = []
    for n in range(1, max_n + 1):
        cols.append(F.element_at("_st", 3 * n - 2).alias(f"match_{n}"))
        cols.append(F.element_at("_st", 3 * n - 1).alias(f"total_c_{n}"))
        cols.append(F.element_at("_st", 3 * n).alias(f"total_r_{n}"))
    chrf = _chrf_formula(
        lambda n: F.element_at("_st", 3 * n - 2),
        lambda n: F.element_at("_st", 3 * n - 1),
        lambda n: F.element_at("_st", 3 * n),
        max_n, beta,
    )
    return st.select(
        *[c for c in st.columns if c != "_st"], *cols, chrf.alias("chrf")
    )


def corpus_chrf(scored: DataFrame, max_n: int = 6, beta: float = 2.0) -> DataFrame:
    """Corpus chrF from a :func:`chrf_scores` frame: sums the integer
    match/total columns (associative — partitioning-independent) and
    applies the same order-averaged F formula once. Returns one row:
    ``match_1..N, total_c_1..N, total_r_1..N, chrf``."""
    aggs = []
    for n in range(1, max_n + 1):
        for c in (f"match_{n}", f"total_c_{n}", f"total_r_{n}"):
            aggs.append(F.sum(c).alias(c))
    out = scored.agg(*aggs)
    chrf = _chrf_formula(
        lambda n: F.col(f"match_{n}"),
        lambda n: F.col(f"total_c_{n}"),
        lambda n: F.col(f"total_r_{n}"),
        max_n, beta,
    )
    return out.select("*", chrf.alias("chrf"))


# ---------------------------------------------------------------------------
# ROUGE-L (LCS)
# ---------------------------------------------------------------------------

def _lcs_arrow(pred_col: Column, ref_col: Column) -> Column:
    """Arrow-vectorized LCS length over token arrays, O(np·nr) per row.

    With DP rows nondecreasing in j, the classic update dp_new[j] =
    max(dp_prev[j], dp_new[j-1], dp_prev[j-1] + match_j) unrolls to

        dp_new[j] = max(dp_prev[j], max_{k<=j}(dp_prev[k-1] + match_k))

    which has no dp_new dependency: each candidate token is one vector
    add + ``maximum.accumulate`` over the reference row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _lcs(preds, refs):
        out = []
        for p, r in zip(preds, refs):
            p = [] if p is None else list(p)
            r = [] if r is None else list(r)
            if not p or not r:
                out.append(0)
                continue
            ra = np.asarray(r, dtype=object)
            dp = np.zeros(len(r) + 1, dtype=np.int64)
            for tok in p:
                m = dp[:-1] + (ra == tok)
                new = dp.copy()
                new[1:] = np.maximum(dp[1:], np.maximum.accumulate(m))
                dp = new
            out.append(int(dp[-1]))
        return pd.Series(out)

    return _lcs(pred_col, ref_col)


def rouge_l_scores(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    beta: float = 1.0,
) -> DataFrame:
    """Per-row ROUGE-L (Lin 2004): LCS-based precision/recall/F between
    a candidate and a reference (whitespace tokens, NULL reads empty).

    Appends ``lcs, n_pred, n_ref, rouge_l_precision, rouge_l_recall,
    rouge_l_f`` with P = LCS/len_pred, R = LCS/len_ref, and
    F = (1+β²)PR / (R + β²P); an empty side yields all zeros. The LCS
    is the numpy DP of :func:`_lcs_arrow` — O(np·nr) per row through one
    Arrow exchange.
    """
    tp = _ws_tokens(F.col(pred_col))
    tr = _ws_tokens(F.col(ref_col))
    lcs = _lcs_arrow(tp, tr)
    np_, nr_ = F.size(tp), F.size(tr)
    lc = lcs.cast("double")
    prec = F.when(np_ > 0, lc / np_).otherwise(F.lit(0.0))
    rec = F.when(nr_ > 0, lc / nr_).otherwise(F.lit(0.0))
    b2 = beta * beta
    denom = rec + b2 * prec
    fm = F.when(denom > 0, (1.0 + b2) * prec * rec / denom).otherwise(F.lit(0.0))
    return df.select(
        "*",
        lcs.cast("int").alias("lcs"),
        np_.cast("int").alias("n_pred"),
        nr_.cast("int").alias("n_ref"),
        prec.alias("rouge_l_precision"),
        rec.alias("rouge_l_recall"),
        fm.alias("rouge_l_f"),
    )


# ---------------------------------------------------------------------------
# WER (word-level edit distance)
# ---------------------------------------------------------------------------

def _edit_distance_arrow(pred_col: Column, ref_col: Column) -> Column:
    """Arrow-vectorized token-level Levenshtein distance, O(np·nr) per
    row, integer arithmetic throughout.

    The classic row update dp_new[j] = min(dp_prev[j]+1, dp_new[j−1]+1,
    dp_prev[j−1]+cost_j) depends on dp_new through the insertion term,
    but insertion chains cost 1 per step, so with m_k = min(dp_prev[k]+1,
    dp_prev[k−1]+cost_k) (and m_0 = dp_prev[0]+1)

        dp_new[j] = j + min_{0≤k≤j} (m_k − k)

    — a prefix-min (``minimum.accumulate``) per candidate token."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _dist(preds, refs):
        out = []
        for p, r in zip(preds, refs):
            p = [] if p is None else list(p)
            r = [] if r is None else list(r)
            if not p or not r:
                out.append(max(len(p), len(r)))
                continue
            ra = np.asarray(r, dtype=object)
            idx = np.arange(len(r) + 1, dtype=np.int64)
            dp = idx.copy()
            for tok in p:
                m = np.minimum(dp[1:] + 1, dp[:-1] + (ra != tok))
                vals = np.concatenate(([dp[0] + 1], m)) - idx
                dp = idx + np.minimum.accumulate(vals)
            out.append(int(dp[-1]))
        return pd.Series(out)

    return _dist(pred_col, ref_col)


def wer_scores(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
) -> DataFrame:
    """Per-row word error rate: token-level Levenshtein distance between
    a hypothesis and a reference (whitespace tokens, NULL reads empty),
    normalized by reference length — the standard ASR/generation fidelity
    metric (WER > 1 is possible for long hypotheses, by convention).

    Appends ``edit_dist, n_pred, n_ref, wer`` with wer = dist/n_ref;
    when the reference is empty, wer is 0.0 against an empty hypothesis
    and NULL otherwise (no defined normalization). The distance is the
    numpy DP of :func:`_edit_distance_arrow` — O(np·nr) per row through
    one Arrow exchange."""
    tp = _ws_tokens(F.col(pred_col))
    tr = _ws_tokens(F.col(ref_col))
    dist = _edit_distance_arrow(tp, tr)
    np_, nr_ = F.size(tp), F.size(tr)
    wer = (
        F.when(nr_ > 0, dist.cast("double") / nr_.cast("double"))
        .when(np_ == 0, F.lit(0.0))
    )
    return df.select(
        "*",
        dist.cast("int").alias("edit_dist"),
        np_.cast("int").alias("n_pred"),
        nr_.cast("int").alias("n_ref"),
        wer.alias("wer"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference ratings
# ---------------------------------------------------------------------------

def _bt_round12(x: float) -> float:
    """floor(x·1e12 + 0.5)/1e12 — half-up quantization written so SQL's
    ``floor`` reproduces it exactly (library round() families differ:
    Python rounds half to even, most SQL engines half away from zero)."""
    return math.floor(x * 1e12 + 0.5) / 1e12


def bradley_terry(
    df: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 15,
    prior: float = 0.5,
    max_items: int = 200_000,
    max_pairs: int = 2_000_000,
) -> DataFrame:
    """Fit Bradley-Terry strengths θ from pairwise preference outcomes
    (one row per comparison: ``winner_col`` beat ``loser_col``) — the
    standard aggregation from DPO/RLHF preference data or eval
    head-to-heads to a model leaderboard.

    Distributed part: ONE aggregation to the per-ordered-pair win-count
    table (shuffle ∝ distinct pairs — items are models/policies/
    annotators, bounded by ``max_items``/``max_pairs`` with explicit
    errors, never corpus-sized). Driver part: Hunter 2004 MM updates

        θ_i ← (W_i + prior) / (Σ_j n_ij/(θ_i + θ_j) + 2·prior/(θ_i + 1))

    where the prior terms are ``prior`` virtual wins and losses against
    a fixed ghost opponent of strength 1 — this anchors the scale (no
    renormalization step) and keeps the MM well-defined for undefeated
    or winless items. Every iteration quantizes each denominator term to
    an integer number of 1e-12 units and sums exactly (integer
    arithmetic), then quantizes θ to 1e-12 and clamps to [1e-6, 1e6]:
    the whole fit is reproducible bit for bit in any engine with IEEE
    doubles + exact integer sums, which is how the gate's SQL oracle
    re-derives all ``iters`` iterations as CTEs.

    Returns one row per item: ``item (string), wins, games, rating``,
    with θ on the ghost-anchored scale (θ > 1: better than even odds
    against the ghost).
    """
    if iters < 1:
        raise ValueError(f"bradley_terry: iters must be >= 1, got {iters}")
    if not (prior > 0):
        raise ValueError(
            f"bradley_terry: prior must be > 0 (the ghost anchor), got {prior}"
        )
    w = F.col(winner_col).cast("string")
    l = F.col(loser_col).cast("string")
    counts = (
        df.select(w.alias("_w"), l.alias("_l"))
        .groupBy("_w", "_l")
        .count()
        .limit(max_pairs + 1)
        .collect()
    )
    if len(counts) > max_pairs:
        raise ValueError(
            f"bradley_terry: > {max_pairs} distinct ordered pairs — the item "
            "domain is not bounded; raise max_pairs only if the driver can "
            "hold the comparison graph"
        )
    for r in counts:
        if r["_w"] is None or r["_l"] is None:
            raise ValueError("bradley_terry: NULL item in a comparison row")
        if r["_w"] == r["_l"]:
            raise ValueError(
                f"bradley_terry: self-comparison for item {r['_w']!r}"
            )

    wins: dict[str, int] = {}
    games: dict[str, int] = {}
    nbr: dict[str, dict[str, int]] = {}
    for r in counts:
        a, b, n = r["_w"], r["_l"], int(r["count"])
        wins[a] = wins.get(a, 0) + n
        for i, j in ((a, b), (b, a)):
            games[i] = games.get(i, 0) + n
            nbr.setdefault(i, {})[j] = nbr.get(i, {}).get(j, 0) + n
    items = sorted(games)
    if len(items) > max_items:
        raise ValueError(
            f"bradley_terry: {len(items)} items exceeds max_items={max_items}"
        )

    th = {i: 1.0 for i in items}
    for _ in range(iters):
        new = {}
        for i in items:
            den = 0  # exact integer sum of 1e-12-quantized terms
            ti = th[i]
            for j, n in nbr[i].items():
                den += math.floor(n / (ti + th[j]) * 1e12 + 0.5)
            den += math.floor(2 * prior / (ti + 1) * 1e12 + 0.5)
            t = (wins.get(i, 0) + prior) / (float(den) / 1e12)
            new[i] = min(max(_bt_round12(t), 1e-6), 1e6)
        th = new

    spark = df.sparkSession
    rows = [(i, wins.get(i, 0), games[i], th[i]) for i in items]
    return spark.createDataFrame(
        rows, "item string, wins long, games long, rating double"
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement
# ---------------------------------------------------------------------------

def _dec(c: Column) -> Column:
    """The ngram_lm_score determinism pattern: per-term DECIMAL(28,12)
    cast so the cross-partition sum is associative (bit-reproducible
    under any partitioning)."""
    return c.cast("decimal(28,12)")


def fleiss_kappa(
    df: DataFrame, item_col: str = "item", label_col: str = "label"
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971, generalized to unequal raters per
    item) over an assignment frame with one row per (item, rating) —
    the annotation-QA statistic for label curation at corpus scale.

    Two aggregation stages, both map-side combinable: (item, label)
    counts, then per-item agreement P_i = Σ_l c_il(c_il−1) /
    (n_i(n_i−1)) and label marginals. Items with fewer than 2 ratings
    carry no pairwise information and are dropped (documented
    deviation from the equal-n textbook form). P̄ and P_e are means of
    DECIMAL(28,12)-quantized terms — partitioning-independent.

    Returns one row: ``n_items, n_ratings, p_bar, p_e, kappa`` (kappa
    NULL when P_e = 1, i.e. a single observed label).
    """
    cnt = (
        df.groupBy(F.col(item_col).alias("_i"), F.col(label_col).alias("_l"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_item = (
        cnt.groupBy("_i")
        .agg(
            F.sum("c").alias("n_i"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("s_i"),
        )
        .where(F.col("n_i") >= 2)
    )
    p_i = F.col("s_i").cast("double") / (
        F.col("n_i").cast("double") * (F.col("n_i") - 1).cast("double")
    )
    items = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_i").alias("n_ratings"),
        F.sum(_dec(p_i)).alias("_p_sum"),
    )
    # marginals over the SAME retained items
    marg = (
        cnt.join(per_item.select("_i"), "_i")
        .groupBy("_l")
        .agg(F.sum("c").alias("t_l"))
    )
    total = marg.agg(F.sum("t_l").alias("_N")).select("_N")
    p_l = F.col("t_l").cast("double") / F.col("_N").cast("double")
    pe = (
        marg.crossJoin(F.broadcast(total))
        .agg(F.sum(_dec(p_l * p_l)).alias("_pe_dec"))
        .select(F.col("_pe_dec").cast("double").alias("p_e"))
    )
    out = items.crossJoin(F.broadcast(pe))
    p_bar = F.col("_p_sum").cast("double") / F.col("n_items").cast("double")
    kappa = F.when(
        F.col("p_e") < 1.0, (p_bar - F.col("p_e")) / (1.0 - F.col("p_e"))
    )
    return out.select(
        "n_items",
        "n_ratings",
        p_bar.alias("p_bar"),
        "p_e",
        kappa.alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame, item_col: str = "item", label_col: str = "label"
) -> DataFrame:
    """Krippendorff's alpha for nominal data (Krippendorff 2004) over an
    assignment frame with one row per (item, rating) — the agreement
    statistic that handles missing ratings and any rater count per item
    exactly (where :func:`fleiss_kappa` assumes a shared rater pool).

    Coincidence-matrix formulation: with per-item label counts n_uc and
    n_u = Σ_c n_uc over items with n_u ≥ 2 (singletons carry no pairwise
    information and are excluded, as Krippendorff specifies), N = Σ n_u:

        D_o = (1/N) Σ_u Σ_c n_uc·(n_u − n_uc)/(n_u − 1)
        D_e = (N² − Σ_c t_c²) / (N·(N − 1))        (t_c = label marginals)
        alpha = 1 − D_o/D_e

    Same two map-side-combinable aggregation stages as the kappas; the
    per-item D_o terms are DECIMAL(28,12)-quantized (partitioning-
    independent bit for bit) and the D_e numerator is exact integer
    arithmetic in DECIMAL(38,0) (t_c² overflows int64 past ~3e9 ratings
    of one label). Returns one row: ``n_items, n_ratings, d_o, d_e,
    alpha`` (alpha NULL when D_e = 0 — a single observed label)."""
    cnt = (
        df.groupBy(F.col(item_col).alias("_i"), F.col(label_col).alias("_l"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_item = (
        cnt.groupBy("_i")
        .agg(F.sum("c").alias("n_i"), F.sum(F.col("c") * F.col("c")).alias("_sq"))
        .where(F.col("n_i") >= 2)
    )
    # Σ_c c·(n_i − c) = n_i² − Σ_c c² — an exact INTEGER numerator (the
    # fleiss s_i trick), so the per-item term is one deterministic
    # rational, not a float sum over labels
    term = (
        (F.col("n_i") * F.col("n_i") - F.col("_sq")).cast("double")
        / (F.col("n_i") - 1).cast("double")
    )
    items = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_i").alias("n_ratings"),
        F.sum(_dec(term)).alias("_do_sum"),
    )
    marg = (
        cnt.join(per_item.select("_i"), "_i")
        .groupBy("_l")
        .agg(F.sum("c").alias("t_l"))
    )
    sq = marg.agg(
        F.sum(F.col("t_l").cast("decimal(38,0)") * F.col("t_l")).alias("_t2")
    )
    out = items.crossJoin(F.broadcast(sq))
    nn = F.col("n_ratings").cast("double")
    d_o = F.col("_do_sum").cast("double") / nn
    d_e = (nn * nn - F.col("_t2").cast("double")) / (nn * (nn - 1.0))
    alpha = F.when(d_e > 0, 1.0 - d_o / d_e)
    return out.select(
        "n_items", "n_ratings", d_o.alias("d_o"), d_e.alias("d_e"),
        alpha.alias("alpha"),
    )


def cohens_kappa(
    df: DataFrame, col_a: str = "label_a", col_b: str = "label_b"
) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two raters' label columns (one
    row per item, both labels non-NULL rows only). P_o is an exact
    integer ratio; P_e sums DECIMAL(28,12)-quantized marginal products
    (partitioning-independent). Returns one row: ``n, agree, p_o, p_e,
    kappa`` (kappa NULL when P_e = 1)."""
    a, b = F.col(col_a).cast("string"), F.col(col_b).cast("string")
    base = df.select(a.alias("_a"), b.alias("_b")).where(
        F.col("_a").isNotNull() & F.col("_b").isNotNull()
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("_a") == F.col("_b")).cast("long")).alias("agree"),
    )
    ma = base.groupBy(F.col("_a").alias("_l")).agg(F.count(F.lit(1)).alias("ca"))
    mb = base.groupBy(F.col("_b").alias("_l")).agg(F.count(F.lit(1)).alias("cb"))
    m = ma.join(mb, "_l", "full_outer").select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    pe_term = (
        F.col("ca").cast("double")
        / F.col("n").cast("double")
        * (F.col("cb").cast("double") / F.col("n").cast("double"))
    )
    pe = (
        m.crossJoin(F.broadcast(tot.select("n")))
        .agg(F.sum(_dec(pe_term)).alias("_pe_dec"))
        .select(F.col("_pe_dec").cast("double").alias("p_e"))
    )
    out = tot.crossJoin(F.broadcast(pe))
    po = F.col("agree").cast("double") / F.col("n").cast("double")
    kappa = F.when(
        F.col("p_e") < 1.0, (po - F.col("p_e")) / (1.0 - F.col("p_e"))
    )
    return out.select("n", "agree", po.alias("p_o"), "p_e", kappa.alias("kappa"))


# ---------------------------------------------------------------------------
# Classifier eval: ROC-AUC + calibration
# ---------------------------------------------------------------------------

def _binary_label(label_col: str) -> Column:
    """0/1 label with an execution-time error on anything else (the
    pass_at_k validation pattern — no extra validation job)."""
    lab = F.col(label_col).cast("long")
    return F.when(
        lab.isNull() | ~lab.isin(0, 1),
        F.raise_error(
            F.lit(f"binary label column {label_col!r} must be 0/1 and non-NULL")
        ),
    ).otherwise(lab)


def roc_auc(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    pin: list | None = None,
) -> DataFrame:
    """Exact ROC-AUC of a score column against 0/1 labels, ties handled
    by midranks (the Mann-Whitney U identity) — the ranking metric for
    quality classifiers, reward models and dedup scorers at corpus scale.

    With per-score groups (count c_s, positives p_s) and cum_s = rows
    strictly below s, the positive midrank sum doubles to the INTEGER

        S2 = Σ_s p_s · (2·cum_s + c_s + 1)

    and AUC = (S2 − n_pos(n_pos+1)) / (2·n_pos·n_neg) — one float
    division at the end, everything before it exact integer arithmetic
    (DECIMAL(38,0) accumulators: S2 ≤ n² overflows int64 past ~3e9
    rows), so the value is reproducible bit for bit and the gate's SQL
    oracle re-derives it from a window cumsum.

    Scale shape: ONE score-keyed aggregation (shuffle ∝ distinct
    scores), then the same range-partitioned two-phase prefix sum the
    pack/copula/KS operators use for cum_s — per-range totals →
    exclusive prefix over O(#ranges) rows broadcast back; the in-range
    window is bounded by the range-partition size (never a single-task
    global window). The ranged group frame is persisted (two consumers
    must see one range-boundary sample); pass ``pin`` (a list) to
    receive the handle, the standard pin contract.

    Returns one row: ``n, n_pos, n_neg, auc`` (auc NULL when either
    class is absent). NULL scores are rejected like bad labels.
    """
    score = F.when(
        F.col(score_col).isNull() | F.isnan(F.col(score_col).cast("double")),
        F.raise_error(F.lit(f"score column {score_col!r} must be non-NULL/NaN")),
    ).otherwise(F.col(score_col).cast("double"))
    grp = (
        df.select(score.alias("_s"), _binary_label(label_col).alias("_y"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_c"), F.sum("_y").alias("_p"))
    )
    ranged = (
        grp.repartitionByRange(F.col("_s"))
        .withColumn("_rid", F.spark_partition_id())
        .persist()
    )
    if pin is not None:
        pin.append(ranged)
    wo = Window.orderBy("_rid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_rid")
        .agg(F.sum("_c").alias("_rc"))
        .select("_rid", F.coalesce(F.sum("_rc").over(wo), F.lit(0)).alias("_roff"))
    )
    wi = Window.partitionBy("_rid").orderBy("_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = ranged.join(F.broadcast(offsets), "_rid").select(
        "_c",
        "_p",
        (F.col("_roff") + F.coalesce(F.sum("_c").over(wi), F.lit(0))).alias("_cb"),
    )
    term = (F.col("_p") * (2 * F.col("_cb") + F.col("_c") + 1)).cast("decimal(38,0)")
    agg = cum.agg(
        F.sum(term).alias("_s2"),
        F.sum("_p").alias("n_pos"),
        F.sum("_c").alias("n"),
    )
    npos, n = F.col("n_pos"), F.col("n")
    nneg = n - npos
    auc = F.when(
        (npos > 0) & (nneg > 0),
        (F.col("_s2").cast("double") - npos.cast("double") * (npos + 1).cast("double"))
        / (2.0 * npos.cast("double") * nneg.cast("double")),
    )
    return agg.select(n.alias("n"), npos.alias("n_pos"), nneg.alias("n_neg"),
                      auc.alias("auc"))


def calibration_report(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Per-bin reliability table for a probabilistic classifier: bin by
    ``floor(prob·n_bins)`` (prob = 1.0 clamps into the last bin), one
    map-side-combined aggregation → ``bin, n, conf`` (mean predicted
    probability; DECIMAL(28,12)-quantized terms so the mean is
    partitioning-independent), ``acc`` (positive fraction — an exact
    integer ratio). Probabilities outside [0, 1] and non-0/1 labels
    raise at execution. Output is ≤ ``n_bins`` rows at any corpus size.
    """
    if n_bins < 1:
        raise ValueError(f"calibration_report: n_bins must be >= 1, got {n_bins}")
    pc = F.col(prob_col).cast("double")
    prob = F.when(
        pc.isNull() | F.isnan(pc) | (pc < 0.0) | (pc > 1.0),
        F.raise_error(F.lit(f"prob column {prob_col!r} must be within [0, 1]")),
    ).otherwise(pc)
    b = F.least(F.floor(prob * n_bins), F.lit(n_bins - 1)).cast("int")
    out = (
        df.select(b.alias("bin"), prob.alias("_p"), _binary_label(label_col).alias("_y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("_p"))).alias("_ps"),
            F.sum("_y").alias("_pos"),
        )
    )
    return out.select(
        "bin",
        "n",
        (F.col("_ps").cast("double") / F.col("n").cast("double")).alias("conf"),
        (F.col("_pos").cast("double") / F.col("n").cast("double")).alias("acc"),
    )


def expected_calibration_error(report: DataFrame) -> DataFrame:
    """ECE from a :func:`calibration_report` frame: Σ_b (n_b/N)·|acc_b −
    conf_b| with DECIMAL(28,12)-quantized terms (the bin frame is tiny,
    but the sum stays deterministic under any layout). Returns one row:
    ``n, ece``."""
    tot = report.agg(F.sum("n").alias("_N"))
    term = (
        F.col("n").cast("double")
        / F.col("_N").cast("double")
        * F.abs(F.col("acc") - F.col("conf"))
    )
    return (
        report.crossJoin(F.broadcast(tot))
        .agg(F.sum(_dec(term)).alias("_e"), F.sum("n").alias("n"))
        .select("n", F.col("_e").cast("double").alias("ece"))
    )


# ---------------------------------------------------------------------------
# Multi-class classification report + distribution drift
# ---------------------------------------------------------------------------

def classification_report(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """Per-class precision/recall/F1 from (label, pred) pairs — the
    multi-class companion to :func:`roc_auc`. ONE aggregation to the
    confusion matrix (bounded by #classes², never corpus-sized), then
    class-level rollups on that tiny frame. NULL labels/predictions are
    kept as the literal class ``"<null>"`` (a real model failure mode —
    silently dropping them would inflate every score).

    Returns one row per class observed on EITHER side: ``class, support``
    (true count), ``predicted`` (predicted count), ``tp``, ``precision``
    (tp/predicted), ``recall`` (tp/support), ``f1`` — ratios of exact
    integers (0.0 where the denominator is 0, the sklearn zero_division=0
    convention)."""
    lab = F.coalesce(F.col(label_col).cast("string"), F.lit("<null>"))
    prd = F.coalesce(F.col(pred_col).cast("string"), F.lit("<null>"))
    cm = (
        df.select(lab.alias("_l"), prd.alias("_p"))
        .groupBy("_l", "_p")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    sup = cm.groupBy(F.col("_l").alias("class")).agg(F.sum("_c").alias("support"))
    prdc = cm.groupBy(F.col("_p").alias("class")).agg(F.sum("_c").alias("predicted"))
    tp = (
        cm.where(F.col("_l") == F.col("_p"))
        .select(F.col("_l").alias("class"), F.col("_c").alias("tp"))
    )
    out = (
        sup.join(prdc, "class", "full_outer")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("predicted", F.lit(0)).alias("predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    prec = F.when(
        F.col("predicted") > 0,
        F.col("tp").cast("double") / F.col("predicted").cast("double"),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("support") > 0,
        F.col("tp").cast("double") / F.col("support").cast("double"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        prec + rec > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return out.select(
        "class", "support", "predicted", "tp",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def classification_summary(report: DataFrame) -> DataFrame:
    """Accuracy + macro means from a :func:`classification_report` frame:
    ``accuracy`` = Σtp/N is an exact integer ratio; the macro means sum
    DECIMAL(28,12)-quantized per-class values (layout-independent).
    Classes with zero support are excluded from the macros (they exist
    only as false predictions — averaging their zero recall in would
    depend on how many junk labels the model invents). Returns one row:
    ``n, n_classes, accuracy, macro_precision, macro_recall, macro_f1``."""
    r = report.where(F.col("support") > 0)
    agg = r.agg(
        F.sum("support").alias("n"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("tp").alias("_tp"),
        F.sum(_dec(F.col("precision"))).alias("_mp"),
        F.sum(_dec(F.col("recall"))).alias("_mr"),
        F.sum(_dec(F.col("f1"))).alias("_mf"),
    )
    k = F.col("n_classes").cast("double")
    return agg.select(
        "n",
        "n_classes",
        (F.col("_tp").cast("double") / F.col("n").cast("double")).alias("accuracy"),
        (F.col("_mp").cast("double") / k).alias("macro_precision"),
        (F.col("_mr").cast("double") / k).alias("macro_recall"),
        (F.col("_mf").cast("double") / k).alias("macro_f1"),
    )


def psi_report(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Population stability index between two snapshots of a categorical
    column — the standard drift monitor between a reference corpus and a
    new ingest (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted).
    For numeric columns, bin first (``select.binning.quantile_bins`` on
    the REFERENCE's cuts) and pass the bin id.

    Each side is ONE count aggregation (shuffle ∝ #categories); the
    category frames full-outer join so one-sided categories surface.
    Zero shares clamp to ``eps`` (PSI's log is undefined at 0 — the
    standard convention), NULL is the literal ``"<null>"`` category.
    Per-category contributions are emitted for attribution, with the
    DECIMAL(28,12)-quantized total on every row: ``category, n_a, n_b,
    share_a, share_b, psi_term, psi``."""
    if not (eps > 0):
        raise ValueError(f"psi_report: eps must be > 0, got {eps}")

    def _counts(df: DataFrame, out: str) -> DataFrame:
        c = F.coalesce(F.col(col).cast("string"), F.lit("<null>"))
        return df.select(c.alias("category")).groupBy("category").agg(
            F.count(F.lit(1)).alias(out)
        )
    ca, cb = _counts(df_a, "n_a"), _counts(df_b, "n_b")
    j = (
        ca.join(cb, "category", "full_outer")
        .select(
            "category",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    tot = j.agg(F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb"))
    j = j.crossJoin(F.broadcast(tot))
    sa = F.greatest(
        F.col("n_a").cast("double") / F.col("_ta").cast("double"), F.lit(eps)
    )
    sb = F.greatest(
        F.col("n_b").cast("double") / F.col("_tb").cast("double"), F.lit(eps)
    )
    term = (sa - sb) * F.log(sa / sb)
    w = Window.partitionBy(F.lit(1))
    scored = j.select(
        "category", "n_a", "n_b",
        sa.alias("share_a"), sb.alias("share_b"), term.alias("psi_term"),
    )
    # the window runs over the #categories-row frame only (already the
    # product of two aggregations), so the single partition is fine
    return scored.select(
        "*", F.sum(_dec(F.col("psi_term"))).over(w).cast("double").alias("psi")
    )


# ---------------------------------------------------------------------------
# Self-consistency + head-to-head aggregation
# ---------------------------------------------------------------------------

def majority_vote(
    df: DataFrame,
    problem_col: str = "problem_id",
    answer_col: str = "answer",
) -> DataFrame:
    """Self-consistency aggregation (Wang et al. 2023) over sampled
    generations: one row per problem with the modal answer. Ties break
    to the lexicographically smallest answer — deterministic under any
    partitioning (the vote should never depend on task order). NULL
    answers count as the empty string (an abstention is a vote).

    Two map-side-combined aggregations, both keyed on the problem (the
    second also bounded by distinct answers per problem). Returns
    ``problem_col, answer, vote_count, n_samples, n_distinct,
    vote_share`` — share an exact integer ratio."""
    prob = F.col(problem_col)
    ans = F.coalesce(F.col(answer_col).cast("string"), F.lit(""))
    cnt = (
        df.select(prob.alias("_q"), ans.alias("_a"))
        .groupBy("_q", "_a")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # min over struct((-count), answer): largest count first, then the
    # lexicographically smallest answer — one deterministic aggregate
    best = F.min(F.struct((-F.col("_c")).alias("_nc"), F.col("_a").alias("_a")))
    out = cnt.groupBy("_q").agg(
        best.alias("_best"),
        F.sum("_c").alias("n_samples"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return out.select(
        F.col("_q").alias(problem_col),
        F.col("_best._a").alias("answer"),
        (-F.col("_best._nc")).alias("vote_count"),
        "n_samples",
        "n_distinct",
        ((-F.col("_best._nc")).cast("double") / F.col("n_samples").cast("double"))
        .alias("vote_share"),
    )


def distinct_ngrams(
    df: DataFrame,
    problem_col: str = "problem_id",
    text_col: str = "text",
    ns: tuple = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity (Li et al. 2016) over sampled generations:
    for each problem and gram order, the fraction of n-gram tokens that
    are distinct across that problem's samples — the standard
    mode-collapse / repetition diagnostic for k-sample decoding (low
    distinct-2 = the sampler keeps emitting the same phrases).

    One explode of (order, gram) pairs → ONE aggregation keyed on
    (problem, order): `count` is map-side combinable and
    `count_distinct` partially aggregates map-side too (shuffle ∝
    distinct grams per problem, not total). Sample counts ride a
    problem-keyed second agg joined back (both sides keyed identically
    — no extra exchange of the gram table). Returns one row per
    (problem, n) with the problem's full sample count even when an
    order has no grams: ``problem_col, n, n_samples, total_grams,
    distinct_grams, distinct_ratio`` (ratio NULL when total is 0).
    """
    if not ns or any((not isinstance(n, int)) or n < 1 for n in ns):
        raise ValueError(f"distinct_ngrams: ns must be positive ints, got {ns!r}")
    prob = F.col(problem_col)
    toks = _ws_tokens(F.col(text_col))

    # NOTE: a 2-arg lambda (even via a default like n=n) makes transform
    # pass the ELEMENT INDEX as the second argument — tag via a closure
    def _tag(order: int):
        return lambda g: F.struct(F.lit(order).alias("n"), g.alias("g"))

    per_n = [F.transform(_grams(toks, n), _tag(n)) for n in sorted(set(ns))]
    ex = df.select(prob.alias("_p"), F.explode(F.flatten(F.array(*per_n))).alias("_x"))
    grams = (
        ex.groupBy(F.col("_p"), F.col("_x.n").alias("n"))
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.count_distinct(F.col("_x.g")).alias("distinct_grams"),
        )
    )
    counts = df.groupBy(prob.alias("_p")).agg(F.count(F.lit(1)).alias("n_samples"))
    orders = F.explode(F.array(*[F.lit(n) for n in sorted(set(ns))])).alias("n")
    base = counts.select("_p", "n_samples", orders)
    out = base.join(grams, ["_p", "n"], "left").select(
        F.col("_p").alias(problem_col),
        "n",
        "n_samples",
        F.coalesce("total_grams", F.lit(0)).alias("total_grams"),
        F.coalesce("distinct_grams", F.lit(0)).alias("distinct_grams"),
        F.when(
            F.coalesce("total_grams", F.lit(0)) > 0,
            F.col("distinct_grams").cast("double")
            / F.col("total_grams").cast("double"),
        ).alias("distinct_ratio"),
    )
    return out


def win_rate_intervals(
    wr: DataFrame, z: float = 1.959963984540054
) -> DataFrame:
    """Wilson score interval per head-to-head cell — the error bar a
    :func:`pairwise_win_rates` leaderboard should carry (the Wald
    interval collapses at the 0/1 rates total-dominance cells produce;
    Wilson stays proper at any count). Appends ``ci_lo, ci_hi`` for
    ``win_rate_a`` at confidence z (default the two-sided 95% normal
    quantile, embedded as a literal so any engine reproduces it):

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z/(1 + z²/n) · √(p̂(1−p̂)/n + z²/4n²)

    Pure Column arithmetic over the pair frame (bounded by the item
    domain — no corpus access)."""
    if not (z > 0):
        raise ValueError(f"win_rate_intervals: z must be > 0, got {z}")
    n = F.col("n").cast("double")
    p = F.col("win_rate_a")
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(z) / denom * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    )
    return wr.select(
        "*",
        F.greatest(center - half, F.lit(0.0)).alias("ci_lo"),
        F.least(center + half, F.lit(1.0)).alias("ci_hi"),
    )


def mcnemar_test(
    df: DataFrame,
    value_a_col: str = "value_a",
    value_b_col: str = "value_b",
) -> DataFrame:
    """McNemar's paired test counts for BINARY per-row outcomes (exact
    match, pass/fail) of two systems scored on the SAME rows — the
    exact-count companion to :func:`paired_bootstrap_test` (which serves
    continuous metrics). ONE aggregation; only the discordant pairs
    carry information:

        statistic = max(|b − c| − 1, 0)² / (b + c)   (continuity-
                                  corrected, clamped at 0 so |b−c| ≤ 1
                                  reads as no evidence; NULL when
                                  b + c = 0)

    with b = rows A got right and B wrong, c = the reverse. The
    statistic is χ²₁-distributed under H₀; all outputs are exact
    integers plus one rational, so the row is engine-reproducible
    bit for bit (p-values need a χ² CDF — use the statistic against
    the usual 3.841 (5%) / 6.635 (1%) cutoffs, or bootstrap the
    difference for an assumption-free p). Returns one row: ``n,
    both_correct, both_wrong, a_only, b_only, statistic``. Labels must
    be 0/1 and non-NULL (execution-time error otherwise)."""
    a = _binary_label(value_a_col)
    b = _binary_label(value_b_col)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((a == 1) & (b == 1)).cast("long")).alias("both_correct"),
        F.sum(((a == 0) & (b == 0)).cast("long")).alias("both_wrong"),
        F.sum(((a == 1) & (b == 0)).cast("long")).alias("a_only"),
        F.sum(((a == 0) & (b == 1)).cast("long")).alias("b_only"),
    )
    bb, cc = F.col("a_only"), F.col("b_only")
    disc = (bb + cc).cast("double")
    num = F.greatest(F.abs(bb - cc) - 1, F.lit(0)).cast("double")
    stat = F.when(bb + cc > 0, num * num / disc)
    return agg.select("*", stat.alias("statistic"))


# ---------------------------------------------------------------------------
# Bootstrap confidence intervals + paired significance
# ---------------------------------------------------------------------------

#: cumulative P[Poisson(1) <= k] for k = 0..11 (P[> 11] ~ 3e-13 — weights
#: cap at 12; the truncation bias is far below the quantization floor).
#: Embedded as literals into BOTH engines' expressions, so the libm that
#: computed them once here is irrelevant to reproducibility.
_POIS1_CDF: list[float] = []
_e1 = math.exp(-1.0)
_acc, _fact = 0.0, 1.0
for _k in range(12):
    if _k > 0:
        _fact *= _k
    _acc += _e1 / _fact
    _POIS1_CDF.append(_acc)
del _e1, _acc, _fact, _k

#: Knuth multiplicative constant — the curation sampler's ``affine``
#: SQL-reproducible key family (see curation.sample_key)
_BOOT_KNUTH = 2654435761
_BOOT_SPACE = 4294967296  # 2^32
_BOOT_MOD31 = 2147483648  # 2^31: keeps mixed*KNUTH inside int64 (ANSI mode)


def _boot_uniform(id_col: Column, b: Column, n_boot: int, seed: int, hash_fn: str) -> Column:
    """Deterministic u ∈ [0,1) per (row id, replicate). ``xxhash64``
    (production): hash the pair directly. ``affine``: Knuth multiplicative
    over mixed = id·n_boot + b — exactly reproducible in ANSI SQL (the
    gate-oracle family, same contract as curation.sample_key)."""
    if hash_fn == "xxhash64":
        key = F.xxhash64(id_col, b, F.lit(seed))
        return (key.cast("double") - F.lit(float(-(2**63)))) / F.lit(float(2**64))
    if hash_fn == "affine":
        mixed = id_col.cast("long") * n_boot + b
        key = F.pmod(F.pmod(mixed, F.lit(_BOOT_MOD31)) * _BOOT_KNUTH + seed, F.lit(_BOOT_SPACE))
        return key.cast("double") / F.lit(float(_BOOT_SPACE))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _poisson1_weight(u: Column) -> Column:
    """Poisson(1) draw from a uniform by CDF inversion: w = #{k: u >= cdf_k}
    — twelve literal comparisons, identical in any engine."""
    w = F.lit(0)
    for c in _POIS1_CDF:
        w = w + (u >= F.lit(c)).cast("int")
    return w


def _finite_value(value_col: str) -> Column:
    vc = F.col(value_col).cast("double")
    return F.when(
        vc.isNull() | F.isnan(vc) | (F.abs(vc) == float("inf")),
        F.raise_error(F.lit(f"value column {value_col!r} must be finite non-NULL")),
    ).otherwise(vc)


def _replicates_of(
    df: DataFrame, x: Column, id_col: str, n_boot: int, seed: int, hash_fn: str
) -> DataFrame:
    """(replicate, n_eff, est) — one Poisson-bootstrap weighted mean per
    replicate. One explode + ONE map-side-combinable aggregation keyed on
    the replicate id: per-partition partial state is n_boot rows, shuffle
    is n_boot × #partitions rows regardless of corpus size. Terms are
    DECIMAL(28,12)-quantized (the ngram_lm_score pattern) so every
    replicate mean is partitioning-independent bit for bit."""
    if not (2 <= n_boot <= 10_000):
        raise ValueError(f"n_boot must be in [2, 10000], got {n_boot}")
    b = F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("_b")
    base = df.select(F.col(id_col).alias("_id"), x.alias("_x")).select("_id", "_x", b)
    u = _boot_uniform(F.col("_id"), F.col("_b"), n_boot, seed, hash_fn)
    w = _poisson1_weight(u)
    out = (
        base.select(F.col("_b"), w.alias("_w"), F.col("_x"))
        .groupBy("_b")
        .agg(
            F.sum("_w").alias("n_eff"),
            F.sum(_dec(F.col("_w").cast("double") * F.col("_x"))).alias("_num"),
        )
    )
    est = F.when(
        F.col("n_eff") > 0, F.col("_num").cast("double") / F.col("n_eff").cast("double")
    )
    return out.select(
        F.col("_b").cast("int").alias("replicate"),
        F.col("n_eff").cast("long").alias("n_eff"),
        est.alias("est"),
    )


def bootstrap_replicates(
    df: DataFrame,
    value_col: str = "value",
    id_col: str = "doc_id",
    n_boot: int = 200,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Poisson-bootstrap replicate means of a per-row metric column — the
    resampling backbone for eval-metric error bars at corpus scale.

    Classic bootstrap resampling (draw n rows with replacement) needs a
    global index; the Poisson approximation gives each row an independent
    Poisson(1) multiplicity instead — exchangeable with multinomial
    resampling up to O(1/n) (Chamandy et al. 2012, "Estimating Uncertainty
    for Massive Data Streams") and embarrassingly map-side. Weights are
    hash-derived (``xxhash64`` production / ``affine`` ANSI-SQL-oracle
    family), so replicas are seed-stable across runs, engines, cluster
    sizes and partitionings — no RNG state anywhere.

    Returns ``replicate, n_eff, est`` (est NULL for a replicate whose
    weights all drew 0 — probability ≤ e^{-n}, real only on toy inputs).
    Rejects NULL/NaN/±inf values at execution time.

    **Cluster bootstrap for free**: weights depend only on ``id_col``, so
    passing a GROUP id (e.g. ``conv_id`` for per-turn metrics over
    transcripts) gives every row of a group the same weight per replicate
    — exactly the cluster bootstrap, which is the correct resampling unit
    when rows within a conversation are correlated (per-turn resampling
    would understate the variance). Tested as an invariant.
    """
    return _replicates_of(df, _finite_value(value_col), id_col, n_boot, seed, hash_fn)


def _ci_stats(reps: DataFrame, alpha: float, pin: list | None = None) -> DataFrame:
    """One row from a replicate frame: ``b, se, ci_lo, ci_hi, _n_le0``.
    Percentile CI by EXACT order statistics (est_(⌈B·α/2⌉), est_(⌈B·(1−α/2)⌉)
    over the sorted replicates — no interpolation, so any engine
    reproduces it); se from DECIMAL-quantized Σest/Σest² (B ≤ 10^4 values
    in [metric range] — no cancellation at that scale, clamped at 0). The
    global window runs over the B-row frame only (already the product of
    the replicate aggregation). The replicate frame is persisted — three
    consumers (rank ×2, count+sums) must not each re-run the corpus
    aggregation behind it; pass ``pin`` (a list) to receive the handle,
    the standard pin contract.

    Degenerate frames keep the one-row contract: ``b = 0`` (nothing
    survived) yields NULL se/ci; ``b = 1`` yields the lone replicate as
    both CI endpoints with NULL se (sample variance undefined — the
    unguarded divisor would make it Inf/NaN)."""
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    r = reps.where(F.col("est").isNotNull()).persist()
    if pin is not None:
        pin.append(r)
    w = Window.orderBy(F.col("est").asc(), F.col("replicate").asc())
    ranked = r.select("est", F.row_number().over(w).alias("_rk"))
    stats = r.agg(
        F.count(F.lit(1)).alias("b"),
        F.sum(_dec(F.col("est"))).alias("_s1"),
        F.sum(_dec(F.col("est") * F.col("est"))).alias("_s2"),
        F.sum((F.col("est") <= 0).cast("long")).alias("_n_le0"),
    )
    bf = F.col("b").cast("double")
    var = (F.col("_s2").cast("double") - F.col("_s1").cast("double") * F.col("_s1").cast("double") / bf) / (bf - 1.0)
    k_lo = F.ceil(F.col("b") * (alpha / 2.0))
    k_hi = F.ceil(F.col("b") * (1.0 - alpha / 2.0))
    stats = stats.select(
        "b",
        F.when(F.col("b") >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("se"),
        F.greatest(k_lo, F.lit(1)).cast("int").alias("_klo"),
        F.least(k_hi, F.col("b")).cast("int").alias("_khi"),
        "_n_le0",
    )
    lo = ranked.withColumnRenamed("est", "ci_lo").withColumnRenamed("_rk", "_klo")
    hi = ranked.withColumnRenamed("est", "ci_hi").withColumnRenamed("_rk", "_khi")
    return (
        stats.join(F.broadcast(lo), "_klo", "left")
        .join(F.broadcast(hi), "_khi", "left")
        .select("b", "se", "ci_lo", "ci_hi", "_n_le0")
    )


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str = "value",
    id_col: str = "doc_id",
    n_boot: int = 200,
    seed: int = 42,
    alpha: float = 0.05,
    hash_fn: str = "xxhash64",
    pin: list | None = None,
) -> DataFrame:
    """Mean of a per-row metric with a percentile-bootstrap confidence
    interval — the error bar an eval summary should carry (accuracy, EM,
    token-F1, per-row BLEU/ROUGE, judge win indicator all arrive as
    per-row values). One corpus pass for the observed mean + one
    replicate pass (:func:`bootstrap_replicates`, persisted at n_boot
    rows — ``pin`` receives the handle); everything after is O(n_boot).
    Returns one row: ``n, mean, b, se, ci_lo, ci_hi`` with the CI as
    exact order statistics of the replicate means (NULL-est replicates
    excluded from ``b``)."""
    x = _finite_value(value_col)
    obs = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(_dec(x)).alias("_sx")
    ).select(
        "n", (F.col("_sx").cast("double") / F.col("n").cast("double")).alias("mean")
    )
    reps = _replicates_of(df, x, id_col, n_boot, seed, hash_fn)
    stats = _ci_stats(reps, alpha, pin=pin)
    return obs.crossJoin(F.broadcast(stats)).select(
        "n", "mean", "b", "se", "ci_lo", "ci_hi"
    )


def paired_bootstrap_test(
    df: DataFrame,
    value_a_col: str = "value_a",
    value_b_col: str = "value_b",
    id_col: str = "doc_id",
    n_boot: int = 200,
    seed: int = 42,
    alpha: float = 0.05,
    hash_fn: str = "xxhash64",
    pin: list | None = None,
) -> DataFrame:
    """Paired-bootstrap significance test between two systems scored on
    the SAME rows (Koehn 2004, the WMT/lm-eval standard): bootstrap the
    per-row difference d = a − b with SHARED replicate weights — pairing
    cancels the per-row difficulty variance that makes unpaired
    comparisons insensitive. Returns one row:

    - ``n, delta`` — rows and observed mean difference;
    - ``b, se, ci_lo, ci_hi`` — replicate count, bootstrap se and the
      order-statistic percentile CI of the difference;
    - ``p_value`` = (1 + #{δ_rep ≤ 0}) / (b + 1) — the add-one one-sided
      bootstrap p for "A is not better than B" (an exact integer ratio;
      if both columns are identical every δ_rep is 0 and p = 1).
    """
    a = _finite_value(value_a_col)
    b_ = _finite_value(value_b_col)
    d = a - b_
    obs = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(_dec(d)).alias("_sd")
    ).select(
        "n", (F.col("_sd").cast("double") / F.col("n").cast("double")).alias("delta")
    )
    reps = _replicates_of(df, d, id_col, n_boot, seed, hash_fn)
    stats = _ci_stats(reps, alpha, pin=pin)
    p = (1 + F.col("_n_le0")).cast("double") / (F.col("b") + 1).cast("double")
    return obs.crossJoin(F.broadcast(stats)).select(
        "n", "delta", "b", "se", p.alias("p_value"), "ci_lo", "ci_hi"
    )


def pairwise_win_rates(
    df: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> DataFrame:
    """Head-to-head win-rate matrix from comparison outcomes — the
    leaderboard companion to :func:`bradley_terry` (which fits a global
    scale; this shows every cell the fit summarizes). ONE aggregation
    keyed on the unordered pair (shuffle ∝ distinct pairs). Returns one
    row per observed pair with items in canonical (min, max) order:
    ``item_a, item_b, n, wins_a, wins_b, win_rate_a`` — the rate an
    exact integer ratio."""
    w = F.col(winner_col).cast("string")
    l = F.col(loser_col).cast("string")
    a, b = F.least(w, l), F.greatest(w, l)
    out = (
        df.select(a.alias("item_a"), b.alias("item_b"), (w == a).cast("long").alias("_wa"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_wa").alias("wins_a"))
    )
    return out.select(
        "item_a", "item_b", "n", "wins_a",
        (F.col("n") - F.col("wins_a")).alias("wins_b"),
        (F.col("wins_a").cast("double") / F.col("n").cast("double"))
        .alias("win_rate_a"),
    )
