"""Text-analysis column builders: token counting, quality scoring,
language-ID heuristic, document fingerprinting. Pure JVM column
expressions (codegen), except the winnowing fingerprints (one Arrow
kernel) — reusable in the FE pipeline and the gate queries.

``split`` selects the tokenizer regex (default any-whitespace); the gate
queries pass a literal space so the DuckDB oracle can reproduce the
tokenization exactly (string_split has no \\s+ trailing-strip twin).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]
ES_STOPWORDS = ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"]

DEFAULT_SPLIT = r"\s+"


def _tok(text_col: str, split: str = DEFAULT_SPLIT) -> Column:
    return F.split(F.col(text_col), split)


def token_count(text_col: str = "text", split: str = DEFAULT_SPLIT) -> Column:
    return F.size(_tok(text_col, split))


def distinct_token_count(text_col: str = "text", split: str = DEFAULT_SPLIT) -> Column:
    return F.size(F.array_distinct(_tok(text_col, split)))


def type_token_ratio(text_col: str = "text", split: str = DEFAULT_SPLIT) -> Column:
    return distinct_token_count(text_col, split) / token_count(text_col, split).cast("double")


def stopword_hits(
    text_col: str = "text",
    stopwords: list[str] | None = None,
    split: str = DEFAULT_SPLIT,
) -> Column:
    # pure Column functions (no string-built F.expr: a quote in the column
    # name, pattern, or a stopword must not be able to break the SQL parse)
    words = [w.lower() for w in (stopwords or EN_STOPWORDS)]
    return F.size(F.filter(_tok(text_col, split), lambda t: F.lower(t).isin(words)))


#: GPT-2-style pre-tokenizer classes, restricted to the subset RE2 (the
#: DuckDB oracle) and Java regex both support: optional leading space +
#: a letter run | digit run | other-symbol run. No contraction
#: alternates or lookaheads (RE2 has no lookahead) — this is the
#: length/cost ESTIMATOR for budgeting, not a replacement for a real
#: tokenizer's ids.
BPE_PRETOKEN_RE = r" ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def subword_token_count(text_col: str = "text") -> Column:
    """BPE-ish subword token-count estimate: occurrences of the GPT-2-style
    pre-tokenizer classes (letter runs / digit runs / symbol runs, each with
    an optional leading space). Pure codegen ``regexp_count``; a real BPE
    merges within these pre-token spans, so this lower-bounds GPT-2-family
    token counts while tracking them closely on natural text."""
    return F.regexp_count(F.col(text_col), F.lit(BPE_PRETOKEN_RE))


def punct_ratio(text_col: str = "text") -> Column:
    stripped = F.regexp_replace(F.col(text_col), r"[^\p{Punct}]", "")
    return F.length(stripped) / F.greatest(F.length(text_col), F.lit(1)).cast("double")


def quality_score(text_col: str = "text", split: str = DEFAULT_SPLIT) -> Column:
    """Heuristic document-quality score in [0,1]: rewards mid-length docs,
    lexical diversity and low punctuation density (the usual pretraining
    data-quality features, re-expressed as one codegen expression)."""
    n_tok = token_count(text_col, split).cast("double")
    length_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    ttr = type_token_ratio(text_col, split)
    punct = punct_ratio(text_col)
    score = length_term * (F.lit(0.5) + F.lit(0.5) * ttr) * (F.lit(1.0) - F.least(punct * 4, F.lit(1.0)))
    return F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)


def lang_id(text_col: str = "text", split: str = DEFAULT_SPLIT) -> Column:
    """Stopword-vote language heuristic (en/es/de/other), deterministic
    tie-break by language order."""
    en = stopword_hits(text_col, EN_STOPWORDS, split)
    es = stopword_hits(text_col, ES_STOPWORDS, split)
    de = stopword_hits(text_col, DE_STOPWORDS, split)
    best = F.greatest(en, es, de)
    return (
        F.when(best == 0, "other")
        .when(en == best, "en")
        .when(es == best, "es")
        .otherwise("de")
    )


def fingerprint64(text_col: str = "text", normalize: bool = True) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized text
    (lowercase, collapsed whitespace) — the exact-dedup key at scale."""
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))
    return F.xxhash64(t)


#: winnowing defaults: k-gram length and window size. Any substring of
#: length >= WINNOW_K + WINNOW_WINDOW - 1 = 27 chars shared by two documents
#: is guaranteed to share at least one selected fingerprint. k must exceed
#: common-phrase length for prose, or candidate generation degenerates to
#: near-all-pairs (measured: k=8 pairs 86% of a 500-doc corpus; k=20, 0.1%).
WINNOW_K = 20
WINNOW_WINDOW = 8
_WINNOW_BASE = 257
_WINNOW_MOD = 2_147_483_647  # Mersenne prime 2^31 - 1


def winnow_fingerprints(
    text_col: str = "text", k: int = WINNOW_K, window: int = WINNOW_WINDOW
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    local-similarity scheme): a Rabin-Karp polynomial rolling hash over
    character ``k``-grams of the normalized text (printable ASCII only,
    collapsed whitespace, lowercased), then the minimum hash of every
    length-``window`` hash window, distinct and sorted ascending.

    The polynomial-mod hash (base 257 mod 2^31-1) — rather than xxhash64 —
    keeps every step reproducible in ANSI SQL, so the operator is fully
    oracle-able; values fit in int64 with no overflow (acc < 2^31, so
    acc*257 + 126 < 2^40). One Arrow kernel, no shuffle: per document,
    ``k`` numpy vector ops over the char-code array, a sliding-window min
    and a unique — O(len·k) work.

    Documents shorter than ``k`` (post-normalization) contribute a single
    hash over their full text; documents empty post-normalization (and
    NULL texts) yield an empty array.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    non_ascii = re.compile(r"[^ -~]")
    ws = re.compile(r"\s+")

    @pandas_udf("array<bigint>")
    def _fps(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = "" if t is None else non_ascii.sub("", t)
            t = ws.sub(" ", t).strip().lower()
            n = len(t)
            if n == 0:
                out.append([])
                continue
            codes = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
            nh = max(n - k + 1, 1)
            acc = np.zeros(nh, dtype=np.int64)
            for j in range(min(k, n)):
                acc = (acc * _WINNOW_BASE + codes[j : j + nh]) % _WINNOW_MOD
            if len(acc) >= window:
                wins = np.lib.stride_tricks.sliding_window_view(acc, window).min(axis=1)
            else:
                wins = acc.min(keepdims=True)
            out.append(np.unique(wins).tolist())
        return pd.Series(out)

    # guide §4.4: the downstream explode infers a `size(fps) > 0` filter
    # that the optimizer pushes below the evaluation, cloning the whole
    # fingerprint kernel (a second ArrowEvalPython under the scan — 2x the
    # hashing work inside the persisted subtree). The kernel is pure; the
    # non-deterministic marker only forbids the clone.
    return _fps.asNondeterministic()(F.col(text_col))


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
    min_shared: int = 2,
    max_df: int | None = 1000,
    pin: list | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by shared winnowing fingerprints:
    ``(id_a, id_b, n_shared)`` for unordered pairs sharing at least
    ``min_shared`` distinct fingerprints. The bucketed self-join shape of
    ``ngram_jaccard`` (dedup.py): explode fingerprints, join on the
    fingerprint as the shuffle key, count per pair — never all-pairs.
    ``max_df`` drops stop-fingerprints appearing in more than that many
    documents (candidate work per fingerprint is bounded by max_df²/2;
    a fingerprint half the corpus shares identifies nothing anyway).
    Fingerprints come from :func:`winnow_fingerprints`.

    The exploded fingerprint frame is persisted for its multiple
    consumers; pass ``pin`` (a list) to receive the handle and unpersist
    after materializing the pairs (copula.py convention) — otherwise it
    stays cached until evicted/session end."""
    from pyspark.sql import Window

    fp = df.select(
        F.col(id_col),
        F.explode(winnow_fingerprints(text_col, k, window)).alias("fp"),
    )
    if max_df is not None:
        # document frequency as a window count over fp — (id, fp) is distinct
        # per doc (array_distinct upstream), so count(*) == countDistinct(id).
        # One exchange on fp, no aggregate-plus-join back; it also leaves the
        # frame hash-partitioned on fp, the self-join key.
        fp = (
            fp.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )
    # persist the filtered (id, fp) projection: both self-join sides read it,
    # and re-executing the lineage would re-scan the raw text column and
    # re-hash every document per side — the pinned frame is the tiny side
    # (~len/window longs per doc, no text). Same precedent as
    # minhash_lsh_candidates' signature pin (dedup.py).
    fp = fp.persist()
    if pin is not None:
        pin.append(fp)
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        df.withColumn("n_tokens", token_count(text_col).cast("bigint"))
        .withColumn("n_subword_tokens", subword_token_count(text_col).cast("bigint"))
        .withColumn("n_chars", F.length(text_col).cast("bigint"))
        .withColumn("ttr", F.round(type_token_ratio(text_col), 6))
        .withColumn("quality", quality_score(text_col))
        .withColumn("lang_pred", lang_id(text_col))
        .withColumn("fingerprint", fingerprint64(text_col))
    )


# ---------------------------------------------------------------------------
# QA / generation eval scoring (SQuAD-style EM + token F1)
# ---------------------------------------------------------------------------

def _qa_norm(col: Column) -> Column:
    """SQuAD-style answer normalization, in the Java-regex ∩ RE2 portable
    subset so ANSI SQL reproduces it: lowercase, punctuation -> space
    (deviation from SQuAD's delete-punctuation: space-splitting never
    glues neighboring words), article removal, whitespace collapse."""
    c = F.lower(F.coalesce(col.cast("string"), F.lit("")))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, "\\b(a|an|the)\\b", " ")
    return F.trim(F.regexp_replace(c, " +", " "))


def _qa_toks(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda t: t != "")


def qa_scores(
    df: DataFrame,
    pred_col: str = "pred",
    ref_col: str = "ref",
    normalize: bool = True,
) -> DataFrame:
    """Per-row exact-match and token-F1 between a prediction column and a
    reference column — the SQuAD/generation eval reduction, as pure
    Column expressions (zero shuffle, zero Python; composes with
    streaming frames unchanged).

    ``exact_match`` compares the normalized strings; token F1 is the
    multiset-overlap harmonic mean: common = Σ_t min(cnt_pred(t),
    cnt_ref(t)) over the prediction's distinct tokens (tokens absent
    from the prediction contribute 0). The no-answer convention follows
    SQuAD: both sides empty -> EM = F1 = 1; exactly one empty -> 0.
    Appends ``exact_match, n_pred, n_ref, precision, recall, f1``.
    """
    norm = (
        _qa_norm
        if normalize
        else (lambda c: F.coalesce(c.cast("string"), F.lit("")))
    )
    p, r = norm(F.col(pred_col)), norm(F.col(ref_col))
    tp, tr = _qa_toks(p), _qa_toks(r)

    def _cnt(arr: Column, t: Column) -> Column:
        return F.size(F.filter(arr, lambda x: x == t))

    common = F.aggregate(
        F.array_distinct(tp),
        F.lit(0),
        lambda acc, t: acc + F.least(_cnt(tp, t), _cnt(tr, t)),
    )
    np_, nr_ = F.size(tp), F.size(tr)
    both_empty = (np_ == 0) & (nr_ == 0)
    prec = F.when(both_empty, F.lit(1.0)).when(
        np_ > 0, common.cast("double") / np_
    ).otherwise(F.lit(0.0))
    rec = F.when(both_empty, F.lit(1.0)).when(
        nr_ > 0, common.cast("double") / nr_
    ).otherwise(F.lit(0.0))
    f1 = F.when(both_empty, F.lit(1.0)).when(
        prec + rec > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return df.select(
        "*",
        (p == r).cast("int").alias("exact_match"),
        np_.cast("int").alias("n_pred"),
        nr_.cast("int").alias("n_ref"),
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )


def pass_at_k(
    df: DataFrame,
    n_col: str = "n_samples",
    c_col: str = "n_correct",
    ks: tuple[int, ...] = (1, 10, 100),
    prefix: str = "pass_at_",
) -> DataFrame:
    """Unbiased pass@k estimator per problem row (Chen et al. 2021,
    HumanEval appendix): with n generated samples of which c are correct,
    pass@k = 1 - C(n-c, k)/C(n, k), computed in the numerically stable
    product form 1 - Π_{i=0..k-1} (n-c-i)/(n-i) — no factorials, exact
    in f64 for any practical n, and the identical fold is ANSI-SQL
    expressible (the gate oracles it). Conventions: c = 0 -> 0.0;
    n - c < k -> 1.0 (every k-subset contains a correct sample); k > n
    raises (the estimator is undefined).

    Pure Column expressions — zero shuffle, zero Python; the per-problem
    rows are typically a tiny frame (one per eval task), but the same
    projection runs at any scale, e.g. per-(problem, model, epoch) grids.
    """
    n, c = F.col(n_col).cast("long"), F.col(c_col).cast("long")
    out = df
    for k in ks:
        if k < 1:
            raise ValueError(f"pass_at_k: k must be >= 1, got {k}")
        prod = F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(1.0),
            lambda acc, i: acc * (n - c - i).cast("double") / (n - i).cast("double"),
        )
        val = (
            F.when(
                (n < k) | (c > n) | n.isNull() | c.isNull(),
                F.raise_error(
                    F.lit(
                        f"pass_at_k: need 0 <= n_correct <= n_samples and "
                        f"k={k} <= n_samples (NULLs rejected)"
                    )
                ),
            )
            .when(c <= 0, F.lit(0.0))
            .when(n - c < k, F.lit(1.0))
            .otherwise(F.lit(1.0) - prod)
        )
        out = out.withColumn(f"{prefix}{k}", val)
    return out
