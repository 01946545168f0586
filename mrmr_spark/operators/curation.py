"""Corpus-curation operators for LLM training-data pipelines:
benchmark decontamination (exact n-gram overlap), intra-document
repetition statistics (Gopher/MassiveText-style quality rules), and
exact deterministic stratified sampling for per-source domain balancing.

These extend the dedup/textstats family (no reference counterpart —
the reference repo is selection-only); the design rules are the same:

- Per-row statistics are projections, zero shuffle — the repetition
  statistics are one Arrow kernel per document for every n-gram order.
- Decontamination never shuffles corpus text: the benchmark n-gram set
  is distinct-hashed (small — eval sets are KBs–MBs against a 100 TB
  corpus) and broadcast; corpus grams meet it map-side, and only the
  (doc_id, hit-count) pairs are ever aggregated.
- The stratified sampler has a two-phase exact path so no task ever
  sorts a full 100 TB stratum: a per-stratum hash-threshold prefilter
  (validated, so the result is still EXACT) shrinks the window input to
  ~margin x quota rows per stratum.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mrmr_spark.operators.dedup import hash64

#: Knuth's multiplicative hash constant (2654435761 = floor(2^32/phi));
#: the ``affine`` sample-key family is (id * KNUTH) mod 2^32 — exactly
#: reproducible in ANSI SQL, which makes the sampler oracle-able.
KNUTH_MULT = 2654435761
_HASH_SPACE = 4294967296  # 2^32


def _bind(x: Column, f) -> Column:
    """Evaluate ``x`` once and feed it to ``f`` as a lambda variable.

    Catalyst evaluates higher-order functions interpreted; naming an
    intermediate as a Python variable embeds its producer tree at every
    reference site and re-runs it per element (a regex normalization
    re-run per character per window measured ~3 s per 300-char
    document).
    """
    return F.get(F.transform(F.array(x), f), 0)


def word_ngrams(text_col: str | Column = "text", n: int = 3, split: str = " ") -> Column:
    """Overlapping word ``n``-grams of a text column, joined by a single
    space, as one codegen Column expression. Documents shorter than ``n``
    tokens yield an empty array (never a partial gram)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(col, split)
    return _bind(
        toks,
        lambda ts: F.when(
            F.size(ts) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(ts, i, F.lit(n))),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _gram_values(text_col: str, n: int, split: str, hash_fn: str) -> Column:
    """The per-row word ``n``-grams to key, as :func:`_gram_key` hashes
    them. Under ``"xxhash64"`` each token is hashed ONCE and a gram is the
    length-``n`` slice of the token-hash array (the token hash itself at
    n=1) — no n-token strings are ever built (measured ~30% faster than
    the string keys at n=13 × 160-token docs; the win grows with ``n``).
    Otherwise (the SQL-reproducible ``"md5_60"`` family hashes strings)
    a gram is its text: the tokens at n=1, else :func:`word_ngrams`."""
    toks = F.split(F.col(text_col), split)
    if hash_fn == "xxhash64":
        return _hash_slices(F.transform(toks, lambda t: F.xxhash64(t)), n)
    return toks if n == 1 else word_ngrams(text_col, n, split)


def _gram_key(gram: str, hash_fn: str) -> list[Column]:
    """The 128-bit gram fingerprint ``(g1, g2)``: two seeded 64-bit hashes
    of the ``gram`` column under ``hash_fn``. Collision-free in practice
    under either family."""
    return [hash64(F.col(gram), seed=s, hash_fn=hash_fn).alias(f"g{s}") for s in (1, 2)]


def _gram_fingerprints(
    df: DataFrame,
    cols: list[str],
    text_col: str,
    n: int,
    split: str,
    hash_fn: str,
) -> DataFrame:
    """``cols`` + the distinct per-row gram fingerprints ``(g1, g2)``,
    one output row per (row, distinct gram); keys as :func:`_gram_values`
    and :func:`_gram_key`."""
    grams = F.array_distinct(_gram_values(text_col, n, split, hash_fn))
    return df.select(*cols, F.explode(grams).alias("_hs")).select(
        *cols, *_gram_key("_hs", hash_fn)
    )


def benchmark_ngram_set(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 13,
    split: str = " ",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Distinct word-``n``-gram 128-bit fingerprints of an eval/benchmark
    table: columns ``(g1, g2)`` — two independently-seeded 64-bit hashes,
    the same double-hash family ``exact_dedup`` uses, so a collision needs
    a simultaneous 128-bit agreement. The gram text never leaves this
    plan; only the hash set (tiny: eval sets are KBs–MBs) is retained, so
    it broadcasts. ``hash_fn`` selects the fingerprint construction —
    see :func:`_gram_fingerprints`; corpus and benchmark must use the
    same family (``decontaminate`` passes it through to both sides)."""
    return _gram_fingerprints(
        benchmark, [], text_col, n, split, hash_fn
    ).dropDuplicates(["g1", "g2"])


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    split: str = " ",
    mode: str = "flag",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact benchmark decontamination by word-``n``-gram overlap (the
    GPT-3 appendix-C / The-Pile scheme: a training document is
    contaminated if it shares ANY word ``n``-gram with an eval document;
    the published default is n=13).

    mode="flag": corpus + ``contaminated`` boolean + ``n_hit_grams``
    (count of DISTINCT corpus-doc grams that appear in the benchmark).
    mode="drop": contaminated rows removed.

    Scale design (100 TB corpus, MB-scale benchmark): the benchmark gram
    fingerprint set is broadcast, so corpus grams meet it in the map
    stage — corpus text is never shuffled by the matching itself. The
    only aggregation keyed wider than a broadcast is the per-doc hit
    count, whose input is hit grams only (∝ contamination, not corpus).
    The final flag/drop join is keyed on ``id_col`` and carries only
    (id, count) on the build side: AQE broadcasts it when small and
    shuffle-joins otherwise. With mode="flag" on a truly huge corpus,
    prefer consuming the hit frame directly (``_decontaminate_hits``)
    if the downstream only needs the contaminated ids.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    hits = _decontaminate_hits(corpus, benchmark, text_col, id_col, n, split, hash_fn)
    if mode == "drop":
        return corpus.join(hits, id_col, "left_anti")
    return corpus.join(hits, id_col, "left").select(
        *corpus.columns,
        F.col("n_hit_grams").isNotNull().alias("contaminated"),
        F.coalesce(F.col("n_hit_grams"), F.lit(0)).alias("n_hit_grams"),
    )


def _decontaminate_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    split: str,
    hash_fn: str,
) -> DataFrame:
    bench = benchmark_ngram_set(benchmark, text_col, n, split, hash_fn)
    corpus_grams = _gram_fingerprints(corpus, [id_col], text_col, n, split, hash_fn)
    return (
        corpus_grams.join(F.broadcast(bench), ["g1", "g2"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def _repetition_stats_arrow(text_col: str, ns: tuple[int, ...], split: str) -> Column:
    """Repetition stats for every order in ``ns`` as ONE Arrow kernel: the
    text ships through the Python boundary once and is tokenized and
    factorized once; only the per-order key combine + unique repeats.

    Per document: split on the regex ``split`` (``re``, the same pattern
    semantics as ``F.split``; NULL reads as zero tokens), `pd.factorize`
    the tokens, combine each window of ``n`` codes into one base-B int64
    key, and count keys with `np.unique(return_counts)`. The fractions are
    int64-exact counts under one IEEE double division."""
    from pyspark.sql.functions import pandas_udf

    fields = ", ".join(
        f"rep{n}_total long, rep{n}_dup_frac double, rep{n}_top_frac double"
        for n in ns
    )
    pattern = re.compile(split)

    @pandas_udf(fields)
    def _stats(texts: pd.Series) -> pd.DataFrame:
        cols = {}
        for n in ns:
            cols[f"rep{n}_total"] = np.zeros(len(texts), np.int64)
            cols[f"rep{n}_dup_frac"] = np.zeros(len(texts), np.float64)
            cols[f"rep{n}_top_frac"] = np.zeros(len(texts), np.float64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            toks = pattern.split(t)
            ln = len(toks)
            if ln < min(ns):
                continue
            codes, uniq = pd.factorize(np.asarray(toks, dtype=object))
            codes = codes.astype(np.int64)
            b = np.int64(len(uniq))
            for n in ns:
                if ln < n:
                    continue
                m = ln - n + 1
                if n * np.log2(max(int(b), 2)) > 62:
                    # base-B combine would overflow int64 (needs >2^21
                    # distinct tokens in ONE document at n=3) — count
                    # tuples directly
                    from collections import Counter

                    c = Counter(zip(*[codes[j : j + m] for j in range(n)]))
                    cnts = np.fromiter(c.values(), np.int64)
                else:
                    key = codes[:m].copy()
                    for j in range(1, n):
                        key *= b
                        key += codes[j : j + m]
                    _, cnts = np.unique(key, return_counts=True)
                cols[f"rep{n}_total"][i] = m
                cols[f"rep{n}_dup_frac"][i] = float(m - int((cnts == 1).sum())) / m
                cols[f"rep{n}_top_frac"][i] = float(int(cnts.max())) / m
        return pd.DataFrame(cols)

    return _stats(F.col(text_col))


def with_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
    split: str = " ",
) -> DataFrame:
    """Intra-document repetition statistics over word ``n``-grams — the
    MassiveText/Gopher-style repetitious-text quality signals (Rae et al.
    2021, "Scaling Language Models", table A1), re-based on word n-grams
    since the synthetic corpus has no line structure. Adds, per ``n`` in
    ``ns``:

    - ``rep{n}_total``    — number of (overlapping) n-grams.
    - ``rep{n}_dup_frac`` — fraction of n-gram occurrences belonging to a
      gram that occurs more than once (Gopher's "fraction ... contained
      within all duplicate n-grams").
    - ``rep{n}_top_frac`` — fraction belonging to the single most frequent
      gram (Gopher's "fraction ... within the most frequently-occurring
      n-gram").

    Tokens are the pieces of ``split`` taken as a regex (the
    :func:`word_ngrams` tokenization). Documents with fewer than ``n``
    tokens, and NULL texts, yield (0, 0.0, 0.0). Every order comes from
    one Arrow kernel — zero shuffle, one text ship and tokenization per
    row. The struct is expanded via ``inline`` (a generator), which
    evaluates the kernel once per row; selecting struct fields
    individually would let projection collapse run it once per field.
    """
    st = _repetition_stats_arrow(text_col, ns, split)
    return df.select("*", F.inline(F.array(st)))


def _hash_slices(th: Column, n: int) -> Column:
    """Length-``n`` windows of a token-hash array (empty when too short)."""
    if n == 1:
        return th
    return _bind(
        th,
        lambda h: F.when(
            F.size(h) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(h) - F.lit(n - 1)),
                lambda i: F.slice(h, i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<array<bigint>>")),
    )


def bigram_lm_counts(
    reference: DataFrame,
    text_col: str = "text",
    split: str = " ",
    hash_fn: str = "xxhash64",
    order: int = 2,
) -> dict:
    """Train an add-k-smoothable ``order``-gram language model on a
    reference corpus (the CCNet quality-scoring recipe; default order 2,
    and ``order=3..5`` gives the KenLM-style higher orders — the Spark
    shape is identical at any order): returns ``{"bigrams":
    df(g1,g2,cnt) — the order-n gram counts, "unigrams": df(g1,g2,cnt)
    — the (order−1)-gram PREFIX counts, "vocab_size": |distinct
    tokens|, "order": n}`` (dict keys kept from the bigram original for
    API stability). Gram keys are the 128-bit double-hash family (gram
    text never leaves the count aggregation), so the model frames stay
    narrow for the broadcast to scorers.

    Scale: two hash-aggregations with map-side combine; the model size
    is bounded by the observed vocabulary/bigram set, not the corpus.
    ``vocab_size`` is the one driver-side action (a count).

    Under ``hash_fn="xxhash64"`` each token is hashed ONCE and gram keys
    are seeded xxhash64 over the token-hash (unigram) or its 2-slice
    (bigram) — no gram strings are built, ~33% faster on both the
    training aggregation and the scoring explode (same trick as
    ``decontaminate``); ``md5_60`` double-hashes the gram strings. The
    family is recorded in the returned dict so :func:`ngram_lm_score`
    always keys the corpus the same way the model was keyed.
    """

    def _cnt(n: int) -> DataFrame:
        return (
            reference.select(F.explode(_gram_values(text_col, n, split, hash_fn)).alias("_hs"))
            .select(*_gram_key("_hs", hash_fn))
            .groupBy("g1", "g2")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    if order < 2:
        raise ValueError("order must be >= 2")
    unigrams = _cnt(order - 1)
    bigrams = _cnt(order)
    vocab = _cnt(1) if order > 2 else unigrams
    return {
        "bigrams": bigrams,  # the order-n gram counts (name kept for API stability)
        "unigrams": unigrams,  # the (order-1)-gram PREFIX counts
        "vocab_size": vocab.count(),  # |distinct tokens| — the smoothing V
        "hash_fn": hash_fn,
        "order": order,
    }


def ngram_lm_score(
    corpus: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    split: str = " ",
    hash_fn: str = "xxhash64",
    broadcast_model: bool = True,
    decimal_terms: bool = False,
) -> DataFrame:
    """Score documents under a reference n-gram LM (from
    :func:`bigram_lm_counts`; the model's recorded ``order`` drives the
    scoring shape) — the CCNet-style fluency/quality signal: per
    document, the mean log-probability of its order-n transitions under
    add-k smoothing, and the perplexity

        P(w_i | prefix) = (c(prefix·w_i) + k) / (c(prefix) + k·V)

    Returns ``(id_col, n_terms, avg_logprob, ppl)`` — one row per doc
    with ≥1 bigram (docs shorter than 2 tokens have no transitions; the
    caller decides their fate). The frame is scores-only by design: at
    100 TB, joining scores back onto the corpus is the caller's
    shuffle-or-broadcast decision, not something to bake in.

    Scale: corpus bigrams explode → LEFT join the (narrow, hashed) model
    frames — broadcast by default (vocab-bounded); pass
    ``broadcast_model=False`` for huge vocabularies and let AQE pick a
    shuffle join — → one per-doc aggregation. ``decimal_terms=True``
    casts each log term to DECIMAL(28,12) before summing, which makes
    the score bit-reproducible under any partitioning / merge order
    (decimal addition is associative; float is not) — the mode the gate
    oracles, and the mode to use when two runs must agree exactly.
    """
    maybe_bc = F.broadcast if broadcast_model else (lambda d: d)
    v = float(model["vocab_size"])
    model_hash_fn = model.get("hash_fn", hash_fn)
    order = model.get("order", 2)

    toks = F.split(F.col(text_col), split)
    if model_hash_fn == "xxhash64":
        th = F.transform(toks, lambda t: F.xxhash64(t))
        pre_t = "bigint" if order == 2 else "array<bigint>"
        pairs = _bind(
            th,
            lambda h: F.when(
                F.size(h) >= order,
                F.transform(
                    F.sequence(F.lit(1), F.size(h) - F.lit(order - 1)),
                    lambda i: F.struct(
                        F.slice(h, i, F.lit(order)).alias("bs"),
                        (
                            F.get(h, i - 1)
                            if order == 2
                            else F.slice(h, i, F.lit(order - 1))
                        ).alias("ph"),
                    ),
                ),
            ).otherwise(F.array().cast(f"array<struct<bs:array<bigint>,ph:{pre_t}>>")),
        )
        exploded = corpus.select(id_col, F.explode(pairs).alias("_p")).select(
            id_col,
            F.xxhash64(F.lit(1), "_p.bs").alias("bg1"),
            F.xxhash64(F.lit(2), "_p.bs").alias("bg2"),
            F.xxhash64(F.lit(1), "_p.ph").alias("ug1"),
            F.xxhash64(F.lit(2), "_p.ph").alias("ug2"),
        )
    else:
        pairs = _bind(
            toks,
            lambda ts: F.when(
                F.size(ts) >= order,
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - F.lit(order - 1)),
                    lambda i: F.struct(
                        F.concat_ws(" ", F.slice(ts, i, F.lit(order))).alias("big"),
                        (
                            F.get(ts, i - 1)
                            if order == 2
                            else F.concat_ws(" ", F.slice(ts, i, F.lit(order - 1)))
                        ).alias("pre"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<big:string,pre:string>>")),
        )
        exploded = corpus.select(id_col, F.explode(pairs).alias("_p")).select(
            id_col,
            hash64(F.col("_p.big"), seed=1, hash_fn=model_hash_fn).alias("bg1"),
            hash64(F.col("_p.big"), seed=2, hash_fn=model_hash_fn).alias("bg2"),
            hash64(F.col("_p.pre"), seed=1, hash_fn=model_hash_fn).alias("ug1"),
            hash64(F.col("_p.pre"), seed=2, hash_fn=model_hash_fn).alias("ug2"),
        )
    bi = model["bigrams"].select(
        F.col("g1").alias("bg1"), F.col("g2").alias("bg2"), F.col("cnt").alias("_cb")
    )
    un = model["unigrams"].select(
        F.col("g1").alias("ug1"), F.col("g2").alias("ug2"), F.col("cnt").alias("_cu")
    )
    logp = F.log(
        (F.coalesce(F.col("_cb"), F.lit(0)) + F.lit(add_k))
        / (F.coalesce(F.col("_cu"), F.lit(0)) + F.lit(add_k * v))
    )
    term = F.col("_lp").cast("decimal(28,12)") if decimal_terms else F.col("_lp")
    scored = (
        exploded.join(maybe_bc(bi), ["bg1", "bg2"], "left")
        .join(maybe_bc(un), ["ug1", "ug2"], "left")
        .select(id_col, logp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (F.sum(term).cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
        )
    )
    return scored.select(
        id_col, "n_terms", "avg_logprob", F.exp(-F.col("avg_logprob")).alias("ppl")
    )


def pack_documents(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str | None = None,
    order_col: str | None = None,
    split: str = " ",
    pin: list | None = None,
) -> DataFrame:
    """GPT-style concatenate-and-chunk sequence packing: documents are
    laid out in a fixed deterministic order (``order_col``, default
    ``id_col``) as one virtual token stream and cut into fixed
    ``budget``-token training chunks; each document learns its global
    ``token_offset`` and which chunks it lands in.

    Added columns: ``n_tokens`` (from ``token_col`` if given, else
    whitespace-split of ``text_col``), ``token_offset`` (exclusive global
    prefix sum), ``chunk_first`` / ``chunk_last`` (integer chunk ids the
    doc spans — a doc may cross a boundary, exactly like pretraining
    concat-and-chunk), ``n_chunks`` and ``chunk_pos`` (offset within
    chunk_first).

    Scale design: the global running total is NEVER a single-task window —
    it is the same range-partitioned two-phase prefix sum the copula
    rank transform and the KS ECDF use: ``repartitionByRange(order)``
    (one shuffle, contiguous order slices per task), per-range totals →
    exclusive prefix over the O(#ranges) range totals (broadcast back),
    plus an in-range exclusive cumsum whose window is bounded by the
    range-partition size. Chunk arithmetic is integer ``div``/``%`` —
    exact at 10^14-token corpora (no doubles on offsets). The ranged
    frame is persisted (two consumers — the range totals and the output —
    must see ONE range-boundary sample); pass ``pin`` (a list) to receive
    the handle and unpersist after materializing downstream, the same
    contract as the dedup/copula pins.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    order = order_col or id_col
    n_tok = (
        F.col(token_col).cast("long")
        if token_col
        else F.size(F.split(F.col(text_col), split)).cast("long")
    )
    keyed = df.select("*", n_tok.alias("n_tokens"))

    ranged = (
        keyed.repartitionByRange(F.col(order))
        .withColumn("_rid", F.spark_partition_id())
        .persist()
    )
    if pin is not None:
        pin.append(ranged)
    # per-range token totals -> exclusive prefix over ranges (tiny frame)
    wo = Window.orderBy("_rid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_rid")
        .agg(F.sum("n_tokens").alias("_rt"))
        .select("_rid", F.coalesce(F.sum("_rt").over(wo), F.lit(0)).alias("_roff"))
    )
    wi = Window.partitionBy("_rid").orderBy(F.col(order)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = (F.col("_roff") + F.coalesce(F.sum("n_tokens").over(wi), F.lit(0))).alias(
        "token_offset"
    )
    out = ranged.join(F.broadcast(offsets), "_rid").select(*keyed.columns, start)
    last_tok = F.col("token_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    chunk_first = F.expr(f"token_offset div {budget}").alias("chunk_first")
    return out.select(
        "*",
        chunk_first,
        last_tok.alias("_lt"),
    ).select(
        *keyed.columns,
        "token_offset",
        "chunk_first",
        F.expr(f"_lt div {budget}").alias("chunk_last"),
        (F.expr(f"_lt div {budget}") - F.col("chunk_first") + 1).cast("int").alias("n_chunks"),
        (F.col("token_offset") % budget).alias("chunk_pos"),
    )


def explode_chunks(
    packed: DataFrame,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the training-chunk spans from :func:`pack_documents`
    output — the table a training data-loader actually reads: one row
    per (chunk, document) intersection with the half-open token span
    the document contributes.

    Columns: ``chunk_id``, ``id_col``, ``doc_start`` (0-based first
    token of the doc inside this chunk), ``span`` (token count), and
    ``chunk_pos`` (0-based position of that span inside the chunk).
    Every chunk's spans sum to exactly ``budget`` tokens except the
    final partial chunk; grouping by ``chunk_id`` and ordering by
    ``chunk_pos`` reproduces the virtual token stream.

    Pure per-row explode over ``sequence(chunk_first, chunk_last)`` —
    fan-out = number of chunks a doc touches (≥1), no shuffle; the
    downstream `groupBy(chunk_id)` (if the loader wants assembled
    chunks) is the caller's one keyed exchange.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    b = F.lit(budget)
    c = F.col("_chunk")
    doc_start = F.greatest(c * b - F.col("token_offset"), F.lit(0))
    doc_end = F.least((c + 1) * b - F.col("token_offset"), F.col("n_tokens"))
    return (
        packed.select(
            id_col,
            "token_offset",
            "n_tokens",
            F.explode(F.sequence(F.col("chunk_first"), F.col("chunk_last"))).alias("_chunk"),
        )
        .where(F.col("n_tokens") > 0)
        .select(
            c.alias("chunk_id"),
            id_col,
            doc_start.alias("doc_start"),
            (doc_end - doc_start).alias("span"),
            F.greatest(F.col("token_offset") - c * b, F.lit(0)).alias("chunk_pos"),
        )
        .where(F.col("span") > 0)
    )


def sample_key(id_col: str | Column, hash_fn: str = "xxhash64") -> Column:
    """Deterministic per-row sampling key.

    - ``xxhash64`` (default): production family.
    - ``affine``: (id * KNUTH_MULT) mod 2^32 — a multiplicative-hash
      permutation that ANSI SQL reproduces exactly, so the sampler can be
      oracle-checked end-to-end. Requires ``id < 2^31`` (kept far from
      int64 overflow; Spark 4 runs ANSI mode, so an overflow would raise,
      not wrap silently).
    """
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "affine":
        return F.pmod(col.cast("long") * F.lit(KNUTH_MULT), F.lit(_HASH_SPACE))
    raise ValueError(f"Unknown hash_fn: {hash_fn!r}")


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket: row i goes
    to the split whose cumulative-fraction interval contains
    u_i = hash(id) mapped to [0,1). Seed-free and stable — a document
    keeps its split across runs, engines, cluster sizes and corpus
    growth (new rows never move old rows between splits, the property
    random `randomSplit` does NOT have). Fractions must sum to 1 within
    1e-9. The ``affine`` family is ANSI-SQL-reproducible (gate row
    `hash_split`); note affine u is id*KNUTH mod 2^32 / 2^32 — uniform
    over any contiguous id range, but NOT independent of id arithmetic
    like xxhash64, so production uses the default.

    Pure projection: zero shuffle, zero Python; exact split sizes follow
    the binomial concentration around n·f (for EXACT quota sizes use
    :func:`stratified_sample_exact` instead).
    """
    if not fractions:
        raise ValueError("fractions must be a non-empty dict")
    if any(f <= 0 for f in fractions.values()):
        raise ValueError("every fraction must be positive")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")

    u = (sample_key(id_col, hash_fn).cast("double") - F.lit(_key_lo(hash_fn))) / F.lit(
        _key_space(hash_fn)
    )
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        branch = F.when(u < F.lit(cum), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(cum), F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.select("*", out.alias(split_col))


def weighted_sample_exact(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    hash_fn: str = "xxhash64",
    keep_key: bool = False,
) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res, the quality-weighted training-mix sampler): row i is kept iff
    its exponential key  e_i = −ln(u_i) / w_i  is among the ``k``
    smallest — distributionally identical to drawing ``k`` rows one at a
    time with probability ∝ weight, never repeating a row. ``u_i`` is a
    deterministic hash-derived uniform (seed-free, reproducible across
    runs/engines/cluster sizes — the same determinism contract as
    :func:`stratified_sample_exact`); the ``affine`` family makes the
    whole key ANSI-SQL-reproducible for the gate oracle.

    ``strata_col`` given → top-k per stratum (weighted domain quotas).
    Weights must be strictly positive finite; raises on the first
    violation (checked in the same pass via a conditional count — cheap).

    Scale design: one window per stratum (or the global top-k via
    ``orderBy.limit(k)``, which Spark executes as per-partition top-k +
    driver merge of k·#partitions rows — no global sort materialization);
    for huge strata the same hash-threshold presample trick as
    `stratified_sample_exact` applies to e_i, but weighted cutoffs need a
    weight-distribution bound, so it is not automated here.
    """
    u = (sample_key(id_col, hash_fn).cast("double") - F.lit(_key_lo(hash_fn))) / F.lit(
        _key_space(hash_fn)
    )
    # map u=0 -> the half-step so ln() never sees 0 (affine keys can be 0)
    u = F.greatest(u, F.lit(0.5 / _key_space(hash_fn)))
    w = F.col(weight_col).cast("double")
    key = (-F.log(u) / w).alias("_ekey")

    bad = df.where(
        F.col(weight_col).isNull()
        | F.isnan(w)
        | (w <= 0)
        | (F.abs(w) == float("inf"))
    ).limit(1)
    if bad.count() > 0:
        raise ValueError(f"weights in {weight_col!r} must be strictly positive finite")

    keyed = df.select("*", key)
    if strata_col is None:
        out = keyed.orderBy(F.col("_ekey").asc(), F.col(id_col).asc()).limit(k)
    else:
        win = Window.partitionBy(strata_col).orderBy(F.col("_ekey").asc(), F.col(id_col).asc())
        out = keyed.select("*", F.row_number().over(win).alias("_rk")).where(
            F.col("_rk") <= k
        ).drop("_rk")
    return out if keep_key else out.drop("_ekey")


def _key_lo(hash_fn: str) -> float:
    return 0.0 if hash_fn == "affine" else float(-(2**63))


def _key_space(hash_fn: str) -> float:
    return float(_HASH_SPACE) if hash_fn == "affine" else float(2**64)


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    presample_margin: float | None = None,
    presample_retries: int = 2,
    keep_rank: bool = False,
) -> DataFrame:
    """EXACT deterministic stratified sampling: the ``n_per_stratum`` rows
    of each stratum with the smallest (sample_key, id) — a fixed,
    seed-free uniform sample that is reproducible across runs, engines
    and cluster sizes (domain balancing / per-source quotas for training
    mixes).

    Two physical paths, identical output:

    - ``presample_margin=None``: one window (`row_number` over
      partitionBy(strata)). Fine when every stratum fits a task's sort.
    - ``presample_margin=m`` (e.g. 2.0): per-stratum counts (one
      map-side-combined agg), then a broadcast hash-threshold prefilter
      keeps ~``m * quota`` rows per stratum, and the window runs on that
      small survivor set. EXACTNESS IS VERIFIED, not assumed: if any
      stratum's survivor count falls below min(quota, stratum size) —
      i.e. the threshold could have cut a true top-quota row — the
      margin is doubled and the prefilter retried (``presample_retries``
      times; then raises with the stratum names). (The threshold keeps
      keys < cutoff; if ≥ quota keys survive, the quota smallest keys
      all survived.) This is the path for 100 TB strata: no task ever
      sorts a full stratum. The per-stratum binomial tail makes a retry
      rare already at margin 2–3 unless quota ≈ stratum size, where the
      cutoff clamps to the full space and the check always passes.

    ``affine`` hash_fn gives the SQL-oracle-able key family (see
    :func:`sample_key`).
    """
    key = sample_key(id_col, hash_fn).alias("_skey")
    w = Window.partitionBy(strata_col).orderBy(F.col("_skey"), F.col(id_col))
    keyed = df.select("*", key)

    if presample_margin is not None:
        if presample_margin <= 1.0:
            raise ValueError("presample_margin must be > 1")
        counts = keyed.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
        if hash_fn == "affine":
            space = float(_HASH_SPACE)
            lo = F.lit(0.0)
        else:  # xxhash64 is uniform over the full signed-64 range
            space = float(2**64)
            lo = F.lit(float(-(2**63)))

        def _attempt(margin: float) -> tuple[DataFrame, list]:
            cut = F.least(
                lo + F.lit(margin * n_per_stratum) / F.col("_cnt") * F.lit(space),
                lo + F.lit(space),
            )
            thr = counts.select(strata_col, cut.alias("_cut"), "_cnt")
            pre = keyed.join(F.broadcast(thr), strata_col).where(
                F.col("_skey").cast("double") < F.col("_cut")
            )
            # verify: every stratum kept at least min(quota, stratum size)
            # survivors, else the cutoff may have dropped a true sample row
            short = (
                pre.groupBy(strata_col, "_cnt")
                .agg(F.count(F.lit(1)).alias("_surv"))
                .where(F.col("_surv") < F.least(F.lit(n_per_stratum), F.col("_cnt")))
                .select(strata_col)
                .limit(5)
                .collect()
            )
            return pre, short

        margin = presample_margin
        for _ in range(presample_retries + 1):
            pre, short = _attempt(margin)
            if not short:
                break
            margin *= 2
        else:
            bad = ", ".join(str(r[0]) for r in short)
            raise ValueError(
                f"presample margins {presample_margin}..{margin / 2} all cut below "
                f"the quota in strata [{bad}]; pass a larger presample_margin"
            )
        keyed = pre.drop("_cut", "_cnt")

    out = keyed.select("*", F.row_number().over(w).alias("sample_rank")).where(
        F.col("sample_rank") <= n_per_stratum
    )
    drop = ["_skey"] if keep_rank else ["_skey", "sample_rank"]
    return out.drop(*drop)


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    split: str = " ",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 2,
    max_top2gram_frac: float = 0.20,
    max_dup3gram_frac: float = 0.18,
    stopwords: list[str] | None = None,
    mode: str = "flag",
) -> DataFrame:
    """Composite document-quality filter following the published
    Gopher/MassiveText rule set (Rae et al. 2021, table A1), re-expressed
    over this engine's Column primitives — word-count band, mean word
    length band, symbol-to-char ratio, minimum stopword evidence, and the
    repetition caps (top-2-gram occupancy, duplicate-3-gram occupancy).
    Thresholds default to the published values; every rule is a kwarg
    because real pipelines always re-tune them per corpus.

    mode="flag": adds one boolean per rule (``q_words``, ``q_word_len``,
    ``q_symbols``, ``q_stopwords``, ``q_rep2``, ``q_rep3``) plus the
    conjunction ``keep``. mode="drop": only rows passing all rules,
    original columns. One zero-shuffle projection: the word, length,
    symbol and stopword rules are Column expressions, the repetition caps
    come from the single Arrow kernel of :func:`with_repetition_stats`.
    """
    from mrmr_spark.operators.textstats import EN_STOPWORDS

    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    sw = [w.lower() for w in (stopwords or EN_STOPWORDS)]

    toks = F.split(F.col(text_col), split)
    n_words = F.size(toks)
    # mean word length over the words themselves (not chars/words: the
    # separator must not count)
    mean_wl = _bind(
        toks,
        lambda ts: F.aggregate(
            ts, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / F.greatest(F.size(ts), F.lit(1)),
    )
    symbol_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[\p{L}\p{N}\s]", ""))
        / F.greatest(F.length(text_col), F.lit(1)).cast("double")
    )
    sw_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(sw)))

    flagged = with_repetition_stats(df, text_col, ns=(2, 3), split=split).select(
        *df.columns,
        ((n_words >= min_words) & (n_words <= max_words)).alias("q_words"),
        ((mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)).alias("q_word_len"),
        (symbol_ratio <= max_symbol_ratio).alias("q_symbols"),
        (sw_hits >= min_stopword_hits).alias("q_stopwords"),
        (F.col("rep2_top_frac") <= max_top2gram_frac).alias("q_rep2"),
        (F.col("rep3_dup_frac") <= max_dup3gram_frac).alias("q_rep3"),
    )
    keep = (
        F.col("q_words")
        & F.col("q_word_len")
        & F.col("q_symbols")
        & F.col("q_stopwords")
        & F.col("q_rep2")
        & F.col("q_rep3")
    )
    if mode == "drop":
        return flagged.where(keep).select(*df.columns)
    return flagged.select("*", keep.alias("keep"))


def temperature_quotas(
    counts: DataFrame,
    total: int,
    temperature: float = 2.0,
    strata_col: str = "source",
    count_col: str = "_cnt",
) -> DataFrame:
    """Per-stratum quotas for temperature-based domain mixing: quota_s is
    the largest-remainder rounding of ``total * c_s^(1/T) / sum
    c_j^(1/T)`` — T=1 is proportional-to-size, T→inf is uniform-per-
    domain; intermediate T up-weights small domains the way the
    multilingual-corpus samplers do (XLM-R eq. 1, also The Pile's
    epoch-weighting and DoReMi's mixture baseline all parameterize the
    mix this way).

    Largest-remainder (Hamilton) rounding: floor every ideal quota, then
    hand the remaining ``total - sum(floor)`` seats to the largest
    fractional parts (fraction ROUNDED TO 9 DECIMALS before ranking, so
    a last-ulp `pow` difference between engines cannot flip a rank;
    ties then break by stratum name). Quotas are finally clamped to the
    stratum size; any shortfall from clamping is NOT redistributed —
    iterative redistribution is neither SQL-expressible nor
    order-independent, so callers who need the full ``total`` under
    binding caps raise T (which is what a binding cap means).

    ``counts`` is the (strata, count) frame — #strata rows, so the two
    global windows here run over a frame the size of the DOMAIN LIST,
    not the corpus (the same bounded-small-side reasoning as the group
    cap elsewhere in the engine).
    """
    if total <= 0:
        raise ValueError("total must be positive")
    if not (temperature > 0) or temperature != temperature:
        raise ValueError("temperature must be a positive finite number")
    w = F.pow(F.col(count_col).cast("double"), F.lit(1.0 / temperature))
    every = Window.partitionBy()
    ideal = F.lit(float(total)) * w / F.sum(w).over(every)
    base = F.floor(ideal).cast("long")
    frac = F.round(ideal - base.cast("double"), 9)
    rk = F.row_number().over(
        Window.partitionBy().orderBy(F.desc("_frac"), F.col(strata_col))
    )
    seats = F.lit(total) - F.sum("_base").over(every)
    return (
        counts.select(
            strata_col, count_col, base.alias("_base"), frac.alias("_frac")
        )
        .select(
            strata_col,
            count_col,
            "_base",
            "_frac",
            rk.alias("_rk"),
            seats.alias("_seats"),
        )
        .select(
            strata_col,
            F.least(
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_seats"), F.lit(1)).otherwise(
                    F.lit(0)
                ),
                F.col(count_col),
            ).alias("quota"),
        )
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    total: int,
    temperature: float = 2.0,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    keep_rank: bool = False,
) -> DataFrame:
    """Temperature-based domain-mixture sampling: draw ~``total`` rows
    with per-stratum quotas ∝ count^(1/T) (see
    :func:`temperature_quotas`), each stratum's quota filled by the same
    exact deterministic hash-order rule as
    :func:`stratified_sample_exact` — seed-free, reproducible across
    runs/engines/cluster sizes, and ANSI-SQL-oracle-able under the
    ``affine`` key family (gate row ``temperature_sample``).

    Physical shape: one map-side-combined count aggregation (#strata
    rows), the quota arithmetic on that tiny frame, a broadcast join of
    the quotas back, and one per-stratum window. For strata too large to
    sort in a task, the validated hash-threshold prefilter of
    ``stratified_sample_exact`` composes: run it per stratum with the
    quota frame's values — left as the caller's composition since quota
    varies per stratum.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    quotas = temperature_quotas(
        counts, total, temperature, strata_col=strata_col, count_col="_cnt"
    )
    key = sample_key(id_col, hash_fn).alias("_skey")
    w = Window.partitionBy(strata_col).orderBy(F.col("_skey"), F.col(id_col))
    out = (
        df.select("*", key)
        .join(F.broadcast(quotas), strata_col)
        .select("*", F.row_number().over(w).alias("sample_rank"))
        .where(F.col("sample_rank") <= F.col("quota"))
    )
    cols = list(df.columns) + (["sample_rank"] if keep_rank else [])
    return out.select(*cols)


def _positioned_gram_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    split: str,
    hash_fn: str,
) -> DataFrame:
    """(id, pos, g1, g2) — one row per gram OCCURRENCE (0-based token
    position, NOT distinct: substring dedup needs every position). Key
    families as :func:`_gram_fingerprints`."""
    grams = _gram_values(text_col, n, split, hash_fn)
    return df.select(id_col, F.posexplode(grams).alias("pos", "_hs")).select(
        id_col, "pos", *_gram_key("_hs", hash_fn)
    )


def duplicate_spans(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    split: str = " ",
    min_df: int = 2,
    keep_first: bool = True,
    hash_fn: str = "xxhash64",
    pin: list | None = None,
    persist_occ: bool = True,
) -> DataFrame:
    """EXACT substring deduplication, the Lee et al. 2021 scheme
    ("Deduplicating Training Data Makes Language Models Better"): find
    every maximal token span covered by word ``n``-grams that occur
    ``min_df``+ times across the corpus (the paper's published setting
    is 50 BPE tokens; here tokens are ``split`` units). Returns one row
    per (document, maximal duplicated span): ``(id_col, tok_start,
    tok_end, n_grams)`` with ``tok_end`` exclusive, 0-based.

    ``keep_first=True`` implements the paper's except-one semantics at
    gram granularity: each gram's corpus-canonical occurrence — minimum
    (id, pos) — is exempt, so the canonical copy of a duplicated passage
    yields no span and survives :func:`trim_duplicate_spans` intact.

    Spark-native re-expression of the paper's suffix-array pass: the
    suffix array exists to find repeated substrings on one machine; on a
    cluster the same set (for fixed ``n``) is one shuffle — count gram
    occurrences by 128-bit fingerprint, join the ``>= min_df`` survivors
    back to positions, and merge overlapping/adjacent positions per
    document with a gaps-and-islands window (new island when
    ``pos > prev_pos + n``; spans of a sorted fixed-width cover are
    monotone, so the lag test is exact). Shuffle volume is ~32 bytes per
    corpus token for the count and ∝ DUPLICATED occurrences afterwards;
    nothing is ever quadratic and no task holds more than one document's
    positions. The windows partition by document — bounded by the
    longest document, the same bound the FE layer lives with.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_df < 2:
        raise ValueError("min_df must be >= 2 (1 would span every token)")
    occ = _positioned_gram_fingerprints(corpus, id_col, text_col, n, split, hash_fn)
    # persist: BOTH the df-count aggregation and the join stream read occ,
    # and without the pin each re-runs the text explode + double-hash pass
    # (verified: no ReusedExchange — the agg side is exchanged on (g1,g2),
    # the join side streams into a broadcast join unshuffled). The pinned
    # frame is (id, pos, g1, g2) — ~32 bytes per corpus token, the same
    # order as the count shuffle it feeds. winnow_candidate_pairs
    # precedent: pass ``pin`` to unpersist after materializing the spans.
    # ``persist_occ=False`` opts out: an InMemoryRelation boundary blocks
    # downstream optimizer rewrites (e.g. trim's left-join elimination
    # under a count), so callers that only consume the spans lazily inside
    # a bigger plan may prefer the recompute.
    if persist_occ:
        occ = occ.persist()
        if pin is not None:
            pin.append(occ)
    stats = occ.groupBy("g1", "g2").agg(
        F.count(F.lit(1)).alias("_df"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_canon"),
    )
    rep = stats.where(F.col("_df") >= min_df)
    dup = occ.join(rep, ["g1", "g2"])
    if keep_first:
        dup = dup.where(
            (F.col(id_col) != F.col(f"_canon.{id_col}"))
            | (F.col("pos") != F.col("_canon.pos"))
        )
    return _positions_to_spans(dup, id_col, n)


def _positions_to_spans(marked: DataFrame, id_col: str, n: int) -> DataFrame:
    """Merge per-document gram positions (each covering ``[pos, pos+n)``)
    into maximal spans — gaps-and-islands: new island when
    ``pos > prev_pos + n`` (spans of a sorted fixed-width cover are
    monotone, so the single lag test is exact). Both windows share one
    ``id_col`` exchange; bounded by the longest document."""
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = marked.select(
        id_col,
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + n),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    islands = flagged.select(
        id_col,
        "pos",
        F.sum("_new")
        .over(Window.partitionBy(id_col).orderBy("pos").rowsBetween(
            Window.unboundedPreceding, 0
        ))
        .alias("_island"),
    )
    return islands.groupBy(id_col, "_island").agg(
        F.min("pos").alias("tok_start"),
        (F.max("pos") + n).alias("tok_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("_island")


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    split: str = " ",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SURGICAL decontamination: instead of dropping every document that
    shares an ``n``-gram with the benchmark (:func:`decontaminate`),
    locate the maximal token spans actually covered by benchmark grams —
    one row per (document, contaminated span): ``(id_col, tok_start,
    tok_end, n_grams)``, the :func:`duplicate_spans` schema, so
    :func:`trim_duplicate_spans` cuts the contaminated passages out
    while keeping the rest of the document (the high-value choice when
    long documents quote an eval item in passing).

    Scale shape is decontaminate's: the benchmark gram fingerprint set
    is distinct-hashed and BROADCAST, corpus gram occurrences meet it
    map-side (corpus text never in a shuffle key), and only the hit
    positions — ∝ contamination, not corpus — reach the per-document
    gaps-and-islands windows."""
    bench = benchmark_ngram_set(benchmark, text_col, n, split, hash_fn)
    occ = _positioned_gram_fingerprints(corpus, id_col, text_col, n, split, hash_fn)
    hits = occ.join(F.broadcast(bench), ["g1", "g2"])
    return _positions_to_spans(hits, id_col, n)


def trim_duplicate_spans(
    corpus: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split: str = " ",
    out_col: str | None = None,
) -> DataFrame:
    """Cut the duplicated spans out of each document: tokens whose
    position falls in any of the document's ``[tok_start, tok_end)``
    spans are dropped and the survivors re-joined with ``split``.
    Appends ``n_removed_tokens``; with ``keep_first=True`` upstream, the
    canonical copy of every passage is untouched (0 removed).

    Shape: spans aggregate to one array per document (∝ spans, small),
    broadcast-or-shuffle join on ``id_col``, then one pure-Column pass —
    position filter via higher-order functions, O(tokens × spans/doc)
    per row, zero Python. Documents without spans pass through the left
    join unchanged."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("tok_start", "tok_end")).alias("_spans")
    )
    toks = F.split(F.col(text_col), split)
    kept = _bind(
        toks,
        lambda ts: F.filter(
            ts,
            lambda t, i: ~F.exists(
                F.col("_spans"),
                lambda s: (i >= s["tok_start"]) & (i < s["tok_end"]),
            ),
        ),
    )
    trimmed = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.concat_ws(split, kept)
    )
    removed = F.when(F.col("_spans").isNull(), F.lit(0)).otherwise(
        F.size(toks) - F.size(kept)
    )
    tgt = out_col or text_col
    cols = [
        trimmed.alias(tgt) if c == tgt else F.col(c) for c in corpus.columns
    ]
    if out_col is not None and out_col not in corpus.columns:
        cols.append(trimmed.alias(out_col))
    return corpus.join(sp, id_col, "left").select(
        *cols, removed.alias("n_removed_tokens")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _dsir_grams(text_col: str, split: str, ns: tuple) -> Column:
    """All word n-grams for every order in ``ns`` as one array (order 1 =
    the tokens themselves) — DSIR's bag-of-hashed-ngrams feature space
    pools the orders into one bucket space."""
    toks = F.split(F.col(text_col), split)
    arrays = [toks if n == 1 else word_ngrams(text_col, n, split) for n in ns]
    return arrays[0] if len(arrays) == 1 else F.concat(*arrays)


def _dsir_space(ns, n_buckets, hash_fn, split) -> dict:
    return {"ns": list(ns), "n_buckets": n_buckets, "hash_fn": hash_fn, "split": split}


def _check_doc_counts(doc_counts: DataFrame, **expected) -> None:
    """Reject a :func:`dsir_doc_bucket_counts` frame built in another
    hashed feature space (bucket ids only compare inside one). Reads the
    schema on the driver; runs no Spark job."""
    got = doc_counts.schema["bucket"].metadata.get("dsir")
    if got is None:
        raise ValueError(
            "doc_counts records no DSIR parameters; build it with dsir_doc_bucket_counts"
        )
    for k, v in expected.items():
        if got[k] != v:
            raise ValueError(f"doc_counts was built with {k}={got[k]!r}, not {v!r}")


def dsir_doc_bucket_counts(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split: str = " ",
    ns: tuple = (1, 2),
    n_buckets: int = 10_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document hashed-gram bucket occurrence counts ``(id_col, bucket,
    cnt)`` — the shared intermediate that lets ONE explode+hash pass over a
    pool serve BOTH the raw model (:func:`dsir_bucket_counts` via
    ``doc_counts=``) and the scorer (:func:`dsir_logweights` via
    ``doc_counts=``). Bounded at ``min(grams, n_buckets)`` rows per doc;
    persist it between the two consumers (caller's pin, the usual
    contract) so the text is exploded and hashed exactly once.

    The ``bucket`` column's metadata records the feature space (``ns``,
    ``n_buckets``, ``hash_fn``, ``split``); both consumers reject a frame
    built in another one."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if not ns or any(n < 1 for n in ns):
        raise ValueError("ns must be a non-empty tuple of orders >= 1")
    space = _dsir_space(ns, n_buckets, hash_fn, split)
    bucket = F.pmod(
        hash64(F.col("_g"), seed=1, hash_fn=hash_fn), F.lit(n_buckets)
    ).alias("bucket", metadata={"dsir": space})
    return (
        corpus.select(id_col, F.explode(_dsir_grams(text_col, split, ns)).alias("_g"))
        .select(id_col, bucket)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_bucket_counts(
    reference: DataFrame | None,
    text_col: str = "text",
    split: str = " ",
    ns: tuple = (1, 2),
    n_buckets: int = 10_000,
    hash_fn: str = "xxhash64",
    doc_counts: DataFrame | None = None,
) -> dict:
    """Hashed n-gram bucket counts for DSIR importance weighting
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): every order-``ns`` word gram is hashed into one of
    ``n_buckets`` buckets (the paper's 10k-bucket unigram+bigram
    feature space), and the returned counts define a multinomial
    distribution over buckets. Bucket collisions are PART of the method
    — they bound the model at ``n_buckets`` rows no matter the corpus.

    Returns ``{"counts": df(bucket, cnt), "total": sum(cnt),
    "n_buckets", "ns", "hash_fn"}``. Train one model on the TARGET
    distribution (the high-quality corpus you want more of) and one on
    the RAW pool, then :func:`dsir_logweights` scores the pool.

    Scale: one explode + one map-side-combined count agg; the model is
    ≤ ``n_buckets`` rows (broadcastable at any corpus size). ``total``
    is the one driver action. ``hash_fn="md5_60"`` gives the
    SQL-reproducible bucket family (see :func:`~mrmr_spark.operators.dedup.hash64`)
    the gate oracles; production keeps JVM xxhash64.

    ``doc_counts``: a precomputed :func:`dsir_doc_bucket_counts` frame for
    this reference — the model reduces from it (sum of exact int counts =
    identical counts) instead of re-exploding/re-hashing the text. It must
    have been built with this call's ``ns``/``n_buckets``/``hash_fn``/
    ``split`` (checked; ``ValueError`` names the field).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if not ns or any(n < 1 for n in ns):
        raise ValueError("ns must be a non-empty tuple of orders >= 1")
    if reference is None and doc_counts is None:
        raise ValueError("dsir_bucket_counts needs reference or doc_counts; both are None")
    if doc_counts is not None:
        _check_doc_counts(doc_counts, **_dsir_space(ns, n_buckets, hash_fn, split))
        counts = doc_counts.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    else:
        bucket = F.pmod(
            hash64(F.col("_g"), seed=1, hash_fn=hash_fn), F.lit(n_buckets)
        ).alias("bucket")
        counts = (
            reference.select(F.explode(_dsir_grams(text_col, split, ns)).alias("_g"))
            .select(bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    total = counts.agg(F.sum("cnt")).first()[0] or 0
    return {
        "counts": counts,
        "total": int(total),
        "n_buckets": n_buckets,
        "ns": tuple(ns),
        "hash_fn": hash_fn,
    }


def dsir_logweights(
    corpus: DataFrame,
    target_model: dict,
    raw_model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    split: str = " ",
    alpha: float = 1.0,
    broadcast_model: bool = True,
    decimal_terms: bool = False,
    doc_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR log importance weight: under the two hashed
    n-gram multinomials from :func:`dsir_bucket_counts`,

        log w(doc) = sum over gram occurrences of
                     log p_target(bucket) - log p_raw(bucket)

    with add-``alpha`` smoothing p_m(b) = (cnt_m(b) + alpha) /
    (total_m + alpha * n_buckets). Returns ``(id_col, n_features,
    log_weight)`` — one row per doc with >= 1 gram; scores-only by
    design (joining back is the caller's shuffle decision), like
    :func:`ngram_lm_score`.

    Scale: corpus grams explode -> bucket -> TWO broadcast left joins
    against the <= n_buckets-row model frames -> one per-doc agg.
    ``decimal_terms=True`` casts each log-ratio term to DECIMAL(28,12)
    before summing — bit-reproducible under any partitioning (the mode
    the gate oracles). Both models must share ``n_buckets``/``ns``/
    ``hash_fn`` (checked): bucket ids are only comparable inside one
    hashed feature space.

    ``doc_counts``: a precomputed :func:`dsir_doc_bucket_counts` frame
    for ``corpus`` — scoring then skips its own explode+hash pass and
    reduces the grouped counts instead: ``n_features = Σ cnt`` (same
    integer) and ``log_weight = Σ cnt · term(bucket)``, which for the
    decimal mode equals the per-occurrence decimal sum EXACTLY (decimal
    × int and decimal + decimal are exact), and for the double mode
    replaces cnt sequential adds of one value by one multiply — pass
    ``decimal_terms=True`` if bit-parity with the per-occurrence fold
    matters there. When the same pool also trains the raw model, one
    persisted doc_counts frame means the pool text is exploded and
    hashed ONCE end to end instead of twice. It must have been built with
    the models' ``ns``/``n_buckets``/``hash_fn`` and this call's ``split``
    (checked; ``ValueError`` names the field).
    """
    for k in ("n_buckets", "ns", "hash_fn"):
        if target_model[k] != raw_model[k]:
            raise ValueError(
                f"target and raw models disagree on {k}: "
                f"{target_model[k]!r} != {raw_model[k]!r}"
            )
    b = target_model["n_buckets"]
    hash_fn = target_model["hash_fn"]
    ns = target_model["ns"]
    maybe_bc = F.broadcast if broadcast_model else (lambda d: d)
    if doc_counts is not None:
        _check_doc_counts(doc_counts, **_dsir_space(ns, b, hash_fn, split))
        ex = doc_counts.select(id_col, "bucket", "cnt")
    else:
        ex = corpus.select(
            id_col, F.explode(_dsir_grams(text_col, split, ns)).alias("_g")
        ).select(
            id_col,
            F.pmod(hash64(F.col("_g"), seed=1, hash_fn=hash_fn), F.lit(b)).alias("bucket"),
        )
    t = target_model["counts"].select("bucket", F.col("cnt").alias("_ct"))
    r = raw_model["counts"].select("bucket", F.col("cnt").alias("_cr"))
    lr = F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(alpha))
        / F.lit(float(target_model["total"]) + alpha * b)
    ) - F.log(
        (F.coalesce(F.col("_cr"), F.lit(0)) + F.lit(alpha))
        / F.lit(float(raw_model["total"]) + alpha * b)
    )
    term = F.col("_lr").cast("decimal(28,12)") if decimal_terms else F.col("_lr")
    joined = (
        ex.join(maybe_bc(t), "bucket", "left")
        .join(maybe_bc(r), "bucket", "left")
    )
    if doc_counts is not None:
        # cnt as DECIMAL(9,0): decimal(28,12) × decimal(9,0) → decimal(38,12)
        # EXACTLY (a bigint multiplicand would push precision past 38 and
        # Spark would silently cut the scale to 6). One bucket of one doc
        # holding ≥ 10^9 gram occurrences is outside any real document.
        mult = F.col("cnt").cast("decimal(9,0)") if decimal_terms else F.col("cnt")
        return (
            joined.select(id_col, F.col("cnt"), lr.alias("_lr"))
            .groupBy(id_col)
            .agg(
                F.sum("cnt").alias("n_features"),
                F.sum(term * mult).cast("double").alias("log_weight"),
            )
        )
    return (
        joined.select(id_col, lr.alias("_lr"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(term).cast("double").alias("log_weight"),
        )
    )


def dsir_sample(
    df: DataFrame,
    k: int,
    log_weight_col: str = "log_weight",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    keep_key: bool = False,
) -> DataFrame:
    """DSIR's resampling step: draw ``k`` rows without replacement with
    probability ∝ exp(log_weight) via Gumbel top-k — identical in
    distribution to :func:`weighted_sample_exact` on w = exp(log_weight)
    (same deterministic hash uniforms; selections provably equal, see
    the pytest), but computed entirely in LOG space so importance
    weights spanning hundreds of nats never overflow a double.

    Key: g_i = log_weight_i - ln(-ln(u_i)); keep the ``k`` LARGEST
    (Gumbel-max without replacement). u from the seed-free
    :func:`sample_key` families; ``affine`` is ANSI-SQL-reproducible
    for the oracle. Global top-k runs as orderBy.limit(k) —
    per-partition top-k + a k·#partitions driver merge, no global sort.
    """
    u = (sample_key(id_col, hash_fn).cast("double") - F.lit(_key_lo(hash_fn))) / F.lit(
        _key_space(hash_fn)
    )
    u = F.greatest(u, F.lit(0.5 / _key_space(hash_fn)))
    lw = F.col(log_weight_col).cast("double")
    bad = df.where(
        F.col(log_weight_col).isNull() | F.isnan(lw) | (F.abs(lw) == float("inf"))
    ).limit(1)
    if bad.count() > 0:
        raise ValueError(f"log weights in {log_weight_col!r} must be finite")
    key = (lw - F.log(-F.log(u))).alias("_gkey")
    out = df.select("*", key).orderBy(F.col("_gkey").desc(), F.col(id_col).asc()).limit(k)
    return out if keep_key else out.drop("_gkey")


def dsir_logweight_expr(
    target_model: dict,
    raw_model: dict,
    text_col: str = "text",
    split: str = " ",
    alpha: float = 1.0,
    decimal_terms: bool = False,
) -> tuple[Column, Column]:
    """The DSIR scorer as a PURE Column expression pair
    ``(n_features, log_weight)`` — the streaming-admission form: the two
    bucket multinomials fold into ONE literal array of per-bucket log
    ratios (length ``n_buckets`` — the whole model is the bounded part
    of DSIR by construction), and each document's weight is a
    higher-order-function fold over its own grams. Zero shuffle, zero
    Python, no join: the projection runs on a streaming frame unchanged
    (pytest), and on batch frames it is the map-side-only alternative to
    :func:`dsir_logweights` when the driver may hold ``n_buckets``
    doubles (it may: the paper's default is 10k).

    Docs with no grams score (0, 0.0) here — the join path emits no row
    for them; align with ``F.when(n_features > 0, ...)`` if needed.
    Equality with the join path is ~1e-12 relative (the log ratios are
    computed once in Python libm here vs per-row in the JVM there;
    both IEEE doubles, tested at 1e-9). ``decimal_terms`` folds with a
    stable-width DECIMAL(28,12) accumulator like the join path's sum.
    """
    for k in ("n_buckets", "ns", "hash_fn"):
        if target_model[k] != raw_model[k]:
            raise ValueError(
                f"target and raw models disagree on {k}: "
                f"{target_model[k]!r} != {raw_model[k]!r}"
            )
    import math

    b = target_model["n_buckets"]
    hash_fn = target_model["hash_fn"]
    tc = {r["bucket"]: r["cnt"] for r in target_model["counts"].collect()}
    rc = {r["bucket"]: r["cnt"] for r in raw_model["counts"].collect()}
    td = float(target_model["total"]) + alpha * b
    rd = float(raw_model["total"]) + alpha * b
    lr = [
        math.log((tc.get(i, 0) + alpha) / td) - math.log((rc.get(i, 0) + alpha) / rd)
        for i in range(b)
    ]
    arr = F.lit(lr)
    grams = _dsir_grams(text_col, split, target_model["ns"])

    def term(g: Column) -> Column:
        idx = (F.pmod(hash64(g, seed=1, hash_fn=hash_fn), F.lit(b)) + 1).cast("int")
        t = F.element_at(arr, idx)
        return t.cast("decimal(28,12)") if decimal_terms else t

    zero = F.lit(0).cast("decimal(28,12)") if decimal_terms else F.lit(0.0)
    if decimal_terms:
        # re-cast inside the fold: decimal addition widens precision and
        # aggregate() requires merge type == zero type
        merge = lambda acc, g: (acc + term(g)).cast("decimal(28,12)")
    else:
        merge = lambda acc, g: acc + term(g)
    logw = _bind(grams, lambda gs: F.aggregate(gs, zero, merge)).cast("double")
    return F.size(grams).alias("n_features"), logw.alias("log_weight")


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    split: str = " ",
    lowercase: bool = True,
) -> DataFrame:
    """Corpus TF-IDF with the top-``k`` scoring terms per document —
    the classic keyword/topic signal a curation pipeline uses for
    domain tagging and per-document routing.

    score(d, t) = tf(d, t) * idf(t),  idf(t) = ln((N + 1)/(df(t) + 1)) + 1

    (the smoothed sklearn-style idf; N = total documents, df = documents
    containing the term). Output: one row per kept (document, term) with
    ``term, tf, df, score, rank`` — rank 1..k per document ordered by
    (score desc, term asc), ties broken lexically so the result is fully
    deterministic.

    Scale design: tf is one key-partitioned groupBy on (doc, term) with
    map-side partial aggregation; df reuses the tf frame (its rows are
    already distinct (doc, term) pairs) — no second pass over text; the
    tf⋈df join shuffles on the term key (stop-word-ish terms skew →
    AQE skew-join splits them; the df side is term-distinct so its
    partitions are bounded); the top-k window is per-document. The only
    driver value is N (a count over the id column — a metadata-cheap
    scan). Corpus text is read once and never shuffled.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    n_docs = docs.select(id_col).count()

    tf = (
        docs.select(id_col, F.explode(F.split(txt, re.escape(split))).alias("term"))
        .where(F.length("term") > 0)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    # The `tf >= 1` predicate is always true (counts are >= 1) but it keeps
    # the tf column referenced in this branch: otherwise column pruning
    # rewrites the inner aggregate to a bare distinct, the two (doc, term)
    # exchange subtrees stop being canonically equal, and exchange reuse
    # can't fire — Spark then scans the corpus TWICE. With it, AQE's final
    # plan shows ONE FileScan and a ReusedExchange feeding this branch.
    df_t = (
        tf.where(F.col("tf") >= 1)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    scored = tf.join(df_t, "term").withColumn(
        "score",
        F.col("tf")
        * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0),
    )
    win = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.select("*", F.row_number().over(win).alias("rank"))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", F.col("rank").cast("int").alias("rank"))
    )


def mix_to_token_budget(
    docs: DataFrame,
    budgets: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    split: str = " ",
    hash_fn: str = "xxhash64",
    default_budget: int = 0,
) -> DataFrame:
    """Deterministic mixture sampling to a per-source TOKEN budget — the
    "data mixing" step that turns per-domain weights (DoReMi / DSIR
    mixtures, SlimPajama-style recipes) into an actual training corpus:
    within each source, documents are admitted in seed-free hash order
    until the source's token budget is filled.

    Admission rule: a document is kept iff the running token total of
    the documents BEFORE it (in ``(sample_key(id), id)`` order) is still
    strictly below the budget — so the budget may overshoot by at most
    one document, never undershoot while eligible documents remain.
    Sources absent from ``budgets`` get ``default_budget`` (0 = drop).
    Deterministic and seed-free: the admission ORDER is a pure function
    of the ids, so re-runs are bit-identical. Unlike :func:`hash_split`,
    membership is NOT per-row independent — on a grown corpus a new
    document that hashes early consumes budget and can displace the old
    tail — which is inherent to any fixed-budget selection; what the
    hash order buys is that WHICH documents move is deterministic and
    engine-independent, never a reshuffle of the whole sample.

    Output: the kept rows plus ``n_tokens`` (whitespace tokens, same
    tokenizer as :func:`pack_documents`) and ``cum_tokens`` (the running
    total INCLUDING the row).

    Scale design: token counts are a pure projection; the only shuffle
    is the per-source cumulative-sum window (hash-partitioned by
    source). A single source is processed by one task — for corpora
    where one source alone exceeds a task's comfortable range, pre-split
    that source on a salt and give each shard ``budget/n_shards``
    (exactness then holds per shard), or cut at the budget order
    statistic with the ranged machinery in `select/binning.py`.
    """
    if default_budget < 0 or any(b < 0 for b in budgets.values()):
        raise ValueError("budgets must be non-negative")
    n_tok = F.size(F.split(F.col(text_col), re.escape(split))).cast("bigint")
    mapping = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    budget = F.coalesce(
        mapping[F.col(source_col)], F.lit(int(default_budget))
    ).cast("bigint")

    win = Window.partitionBy(source_col).orderBy(
        sample_key(id_col, hash_fn).asc(), F.col(id_col).asc()
    )
    keyed = docs.select(
        "*",
        n_tok.alias("n_tokens"),
        budget.alias("_budget"),
    ).select(
        "*",
        F.sum("n_tokens").over(win.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_tokens"),
    )
    return keyed.where(
        (F.col("cum_tokens") - F.col("n_tokens")) < F.col("_budget")
    ).drop("_budget")


# Second multiplier for the epoch salt (xxhash's 32-bit prime 2), coprime
# to 2^32 like KNUTH_MULT — the (id, epoch) -> key map stays a bijection
# in id for every fixed epoch, so each epoch's order is a true permutation.
_EPOCH_MULT = 2246822519


def epoch_shuffle_key(
    epoch: int, id_col: str | Column = "doc_id", hash_fn: str = "xxhash64"
) -> Column:
    """Deterministic per-epoch ordering key: a different seed-free
    permutation of the corpus for every training epoch.

    - ``xxhash64`` (default): key = xxhash64(id, epoch) — production.
    - ``affine``: key = (id*KNUTH_MULT + epoch*_EPOCH_MULT) mod 2^32 —
      ANSI-SQL-reproducible (gate row `epoch_shuffle`); id < 2^31.
    """
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    if hash_fn == "xxhash64":
        return F.xxhash64(col, F.lit(int(epoch)))
    if hash_fn == "affine":
        return F.pmod(
            col.cast("long") * F.lit(KNUTH_MULT)
            + F.lit(int(epoch)) * F.lit(_EPOCH_MULT),
            F.lit(_HASH_SPACE),
        )
    raise ValueError(f"Unknown hash_fn: {hash_fn!r}")


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
    key_col: str = "epoch_key",
) -> DataFrame:
    """Globally shuffle the corpus into epoch ``epoch``'s training order:
    append the epoch key and return the frame range-partitioned and
    sorted by ``(key, id)`` — reading the partitions in order yields the
    epoch's permutation. Seed-free: re-running any epoch reproduces its
    order bit-for-bit on any cluster size.

    Scale design: a distributed sort (range exchange + in-partition
    sort), the same physical shape as any 100 TB ORDER BY write — there
    is no global window or single-task stage; ``num_partitions`` sizes
    the output files (defaults to Spark's shuffle-partition setting).
    """
    key = epoch_shuffle_key(epoch, id_col, hash_fn).alias(key_col)
    keyed = df.select("*", key)
    parts = [F.col(key_col).asc(), F.col(id_col).asc()]
    if num_partitions is not None:
        keyed = keyed.repartitionByRange(num_partitions, *parts)
    else:
        keyed = keyed.repartitionByRange(*parts)
    return keyed.sortWithinPartitions(*parts)


def sliding_chunks(
    df: DataFrame,
    size: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    split: str = " ",
    min_tokens: int = 1,
) -> DataFrame:
    """Per-document OVERLAPPING window chunking — the long-document prep
    for training/eval context windows (stride < size gives the classic
    overlapping windows; contrast :func:`pack_documents`, which packs
    MULTIPLE documents into disjoint fixed-budget chunks).

    Chunk c of a document starts at token c*stride and spans up to
    ``size`` tokens; generation stops with the first chunk that reaches
    the document's end (no fully-redundant tail windows), and a final
    partial chunk shorter than ``min_tokens`` is dropped. Output: one
    row per (document, chunk) with ``chunk_idx, tok_start, n_tokens,
    chunk_text`` plus every input column.

    Scale design: a pure per-document projection + explode — ZERO
    shuffles, zero Python, streaming-safe; output rows ∝ input tokens ×
    (size/stride) overlap factor, and the chunk starts are computed
    arithmetically (no per-token iteration).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    stride = size if stride is None else stride
    if stride < 1 or stride > size:
        raise ValueError(f"stride must be in [1, size], got {stride}")
    if min_tokens < 1 or min_tokens > size:
        raise ValueError(f"min_tokens must be in [1, size], got {min_tokens}")

    toks = F.split(F.col(text_col), re.escape(split))
    n = F.size(toks)
    # last start = the smallest multiple of stride with start + size >= n
    # (ceil((n - size) / stride) * stride, floored at 0)
    last = F.greatest(
        F.ceil((n - F.lit(size)).cast("double") / F.lit(stride)).cast("long")
        * F.lit(stride),
        F.lit(0),
    )
    starts = F.sequence(F.lit(0).cast("long"), last, F.lit(stride))
    chunked = df.select(
        "*", n.cast("bigint").alias("_n"), F.posexplode(starts).alias("chunk_idx", "tok_start")
    ).where(F.col("tok_start") < F.col("_n"))
    span = F.least(F.lit(size).cast("long"), F.col("_n") - F.col("tok_start"))
    toks2 = F.split(F.col(text_col), re.escape(split))
    return (
        chunked.select(
            "*",
            span.cast("bigint").alias("n_tokens"),
            F.array_join(
                F.slice(toks2, (F.col("tok_start") + 1).cast("int"), span.cast("int")),
                split,
            ).alias("chunk_text"),
        )
        .where(F.col("n_tokens") >= min_tokens)
        .drop("_n")
        .withColumn("chunk_idx", F.col("chunk_idx").cast("bigint"))
        .withColumn("tok_start", F.col("tok_start").cast("bigint"))
    )


def perplexity_cuts(
    scores: DataFrame,
    fractions: tuple = (1 / 3, 2 / 3),
    ppl_col: str = "ppl",
    group_col: str | None = None,
) -> DataFrame:
    """Per-group perplexity cut values at the given quantile fractions —
    the calibration half of the CCNet head/middle/tail split (Wenzek et
    al. 2020 compute exactly these cuts once per language, then bucket
    the whole crawl against them). Returns one row per group (or a
    single global row) with ``cuts: array<double>``, ready to feed
    :func:`perplexity_buckets` — collect it (G×|fractions| doubles) or
    let the bucket pass broadcast-join it.

    Uses Spark's exact linear-interpolation ``percentile`` — a
    value-buffering aggregate, so run it on a BOUNDED frame: at 100 TB
    the production pattern is cuts from a per-group sample (CCNet's own
    recipe), then :func:`perplexity_buckets` as a pure projection over
    the full corpus. The gate oracles this against DuckDB's
    ``quantile_cont`` (the same interpolation).
    """
    fr = [float(f) for f in fractions]
    if any(not 0.0 < f < 1.0 for f in fr) or sorted(fr) != fr:
        raise ValueError(f"fractions must be increasing in (0, 1), got {fractions}")
    agg = F.percentile(F.col(ppl_col), F.array(*[F.lit(f) for f in fr])).alias("cuts")
    if group_col is None:
        return scores.agg(agg)
    return scores.groupBy(group_col).agg(agg)


def perplexity_buckets(
    scores: DataFrame,
    cuts=None,
    fractions: tuple = (1 / 3, 2 / 3),
    ppl_col: str = "ppl",
    group_col: str | None = None,
    id_col: str = "doc_id",
    labels: tuple = ("head", "middle", "tail"),
    bucket_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet-style perplexity bucketing: label each document ``head`` /
    ``middle`` / ``tail`` (lowest perplexity = head) by where its score
    falls in the per-group (per-language) distribution — the split CCNet
    and the LLaMA data pipeline use to keep/downsample/drop crawl text.
    Generic over any numeric score column; pairs with
    :func:`ngram_lm_score` for the canonical ppl signal.

    Two modes, same output (input columns + ``bucket_col``):

    - ``cuts`` given — PRODUCTION, pure projection, ZERO shuffle.
      ``cuts`` is a list of |labels|−1 increasing thresholds (global) or
      a DataFrame from :func:`perplexity_cuts` (per-group; broadcast-
      joined on ``group_col``). Bucket = first label whose cut is ≥ the
      score (``ppl <= cuts[i]``), else the last label. This is the 100 TB
      path: calibrate cuts on a sample, bucket the corpus statelessly —
      streaming-safe, and stable as the corpus grows.
    - ``cuts=None`` — EXACT rank mode: bucket i iff
      ``percent_rank() < fractions[i]`` over ``(group ORDER BY ppl,
      id)``. Deterministic under ties via the id tiebreak, and
      SQL-oracle-able; but a window partitioned only by group puts each
      whole group in one task — fine for bounded calibration frames,
      NOT for a 100 TB corpus with a dominant language. At scale,
      calibrate with :func:`perplexity_cuts` on a sample instead.

    NULL scores: with explicit ``cuts`` a NULL score gets a NULL bucket;
    in rank mode rows must have non-NULL scores (Spark sorts NULLs
    first, which would silently skew the ranks — drop or impute first).
    """
    if len(labels) < 2:
        raise ValueError("need at least 2 labels")
    if cuts is None:
        fr = [float(f) for f in fractions]
        if len(fr) != len(labels) - 1:
            raise ValueError(
                f"len(fractions)={len(fr)} must be len(labels)-1={len(labels) - 1}"
            )
        if any(not 0.0 < f < 1.0 for f in fr) or sorted(fr) != fr:
            raise ValueError(f"fractions must be increasing in (0, 1), got {fractions}")
        part = [group_col] if group_col is not None else []
        win = Window.partitionBy(*part).orderBy(
            F.col(ppl_col).asc(), F.col(id_col).asc()
        )
        pr = F.percent_rank().over(win)
        bucket = F
        for f, lab in zip(fr, labels):
            bucket = bucket.when(pr < F.lit(f), F.lit(lab))
        return scores.select("*", bucket.otherwise(F.lit(labels[-1])).alias(bucket_col))

    if isinstance(cuts, DataFrame):
        if group_col is None:
            raise ValueError("a cuts DataFrame needs group_col to join on")
        joined = scores.join(F.broadcast(cuts), group_col, "left")
        cut_at = lambda i: F.element_at(F.col("cuts"), i + 1)  # noqa: E731
    else:
        cs = [float(c) for c in cuts]
        if len(cs) != len(labels) - 1:
            raise ValueError(
                f"len(cuts)={len(cs)} must be len(labels)-1={len(labels) - 1}"
            )
        if sorted(cs) != cs:
            raise ValueError(f"cuts must be non-decreasing, got {cuts}")
        joined = scores
        cut_at = lambda i: F.lit(cs[i])  # noqa: E731

    bucket = F.when(F.col(ppl_col).isNull(), F.lit(None).cast("string"))
    for i, lab in enumerate(labels[:-1]):
        bucket = bucket.when(F.col(ppl_col) <= cut_at(i), F.lit(lab))
    out = joined.select(
        *scores.columns, bucket.otherwise(F.lit(labels[-1])).alias(bucket_col)
    )
    return out


def filter_by_terms(
    df: DataFrame,
    terms,
    mode: str = "drop",
    text_col: str = "text",
    split: str = " ",
    case_insensitive: bool = True,
) -> DataFrame:
    """Term-blocklist document filter — the C4 "bad words" pass (Raffel
    et al. 2020 §2.2 drop any page containing a word from the LDNOOBW
    list; the same mechanism serves policy/compliance word lists).
    Token-level membership, not substring: 'class' never matches a
    3-letter blocklist entry.

    ``terms`` is a Python list (the production shape — published
    blocklists are a few hundred entries) compiled into ONE literal
    ``exists(tokens, t -> t IN (...))`` predicate: a pure zero-shuffle
    zero-Python projection, streaming-safe. A single-column DataFrame is
    also accepted and collected (bounded: ValueError above 100k terms —
    past that a broadcast semi-join on exploded tokens is the right
    shape instead, see `lines.remove_lines_by_keys` for the pattern).

    mode="drop": rows with no blocked token, original columns.
    mode="flag": all rows plus ``n_blocked_terms`` (count of blocked
    TOKEN OCCURRENCES) and the boolean ``keep``.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    if isinstance(terms, DataFrame):
        tc = terms.columns[0]
        rows = terms.select(tc).limit(100_001).collect()
        if len(rows) > 100_000:
            raise ValueError(
                "terms DataFrame has >100k rows; use an explode + "
                "broadcast semi-join instead of the literal predicate"
            )
        terms = [r[0] for r in rows]
    tl = [str(t) for t in terms]
    if case_insensitive:
        tl = [t.lower() for t in tl]
    if not tl:
        hits = F.lit(0)
    else:
        tok = lambda t: (F.lower(t) if case_insensitive else t)  # noqa: E731
        hits = F.size(F.filter(F.split(F.col(text_col), split), lambda t: tok(t).isin(tl)))
    if mode == "drop":
        return df.where(hits == 0)
    return df.select("*", hits.alias("n_blocked_terms"), (hits == 0).alias("keep"))


def corpus_report(
    df: DataFrame,
    by: list[str] | None = None,
    text_col: str = "text",
    split: str = " ",
) -> DataFrame:
    """Dataset-card rollup: per-group (default per ``source``) corpus
    composition — document count, token and character totals, mean
    document length in tokens, and each group's share of corpus tokens.
    The summary every released dataset ships (and the input the mixture
    operators — :func:`temperature_sample`, :func:`mix_to_token_budget`
    — are calibrated from).

    ONE map-side-combined aggregate keyed on the group columns (output
    ∝ distinct groups) plus a window over that tiny grouped frame for
    the shares — the corpus is scanned once and shuffled only as
    per-task partial aggregates. Token counts use the same
    empty-dropping split as the rest of the curation family; NULL text
    counts as zero tokens/chars.
    """
    keys = by or ["source"]
    toks = F.filter(F.split(F.col(text_col), split), lambda t: t != F.lit(""))
    n_tok = F.coalesce(F.size(toks), F.lit(0))
    n_chr = F.coalesce(F.length(text_col), F.lit(0))
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("long")).alias("n_tokens"),
        F.sum(n_chr.cast("long")).alias("n_chars"),
    )
    w = Window.partitionBy()
    return g.select(
        *keys,
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens") / F.col("n_docs"), 6).alias("mean_doc_tokens"),
        F.round(
            F.col("n_tokens") / F.sum("n_tokens").over(w), 6
        ).alias("token_share"),
    )


#: salt multiplier for the FIM per-decision keys (2654435769 =
#: ceil(2^32/phi); distinct from KNUTH_MULT and _EPOCH_MULT so FIM
#: decisions never correlate with sampling keys or epoch permutations)
_FIM_MULT = 2654435769


def _salted_u(id_col: str | Column, hash_fn: str, salt: int) -> Column:
    """Deterministic uniform in [0,1) — one independent stream per salt.

    ``xxhash64``: hash(id, salt); ``affine``: (id*KNUTH + salt*_FIM_MULT)
    mod 2^32 — the ANSI-SQL-reproducible family (same contract as
    :func:`sample_key`: id must stay below 2^31).
    """
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    if hash_fn == "xxhash64":
        key = F.xxhash64(col, F.lit(salt)).cast("double")
    elif hash_fn == "affine":
        key = F.pmod(
            col.cast("long") * F.lit(KNUTH_MULT) + F.lit(salt * _FIM_MULT),
            F.lit(_HASH_SPACE),
        ).cast("double")
    else:
        raise ValueError(f"Unknown hash_fn: {hash_fn!r}")
    return (key - F.lit(_key_lo(hash_fn))) / F.lit(_key_space(hash_fn))


def fim_transform(
    df: DataFrame,
    rate: float = 0.5,
    mode: str = "psm",
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    prefix_tok: str = "<fim_prefix>",
    middle_tok: str = "<fim_middle>",
    suffix_tok: str = "<fim_suffix>",
    flag_col: str = "fim_applied",
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022, "Efficient
    Training of Language Models to Fill in the Middle"): with probability
    ``rate`` a document is split at two uniform character positions into
    (prefix, middle, suffix) and re-rendered with sentinel tokens so the
    model learns infilling; otherwise the text passes through unchanged.

    - ``mode="psm"``: ``<fim_prefix>{p}<fim_suffix>{s}<fim_middle>{m}``
      (the paper's canonical ordering);
    - ``mode="spm"``: ``<fim_prefix><fim_suffix>{s}<fim_middle>{p}{m}``
      (the paper's "variant 2" SPM encoding, as shipped in Megatron-LM's
      FIM implementation).

    All three decisions (apply?, cut 1, cut 2) are seed-free deterministic
    hash streams of the document id (salts 1/2/3), so the transform is
    reproducible across runs, engines and cluster sizes, and a document's
    rendering never depends on which other rows share its partition. Cut
    positions are ``floor(u * (len+1))`` in [0, len] — empty prefix /
    middle / suffix are all legal, matching the paper (character-level
    split; token-level FIM is this operator composed after detokenized
    slicing, e.g. over `explode_chunks` output). NULL text passes through
    NULL with the flag still computed.

    Scale shape: a pure zero-shuffle zero-Python projection (three hash
    streams + substring/concat), so it runs at scan speed at any corpus
    size and is stateless-streaming-safe like the rest of the curation
    projections. The ``affine`` family is ANSI-SQL-reproducible (gate row
    ``fim_transform``); production uses the xxhash64 default. The
    reference engine (kmedved/mrmr) has no text-transform layer — this
    extends the documents-table curation family.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if mode not in ("psm", "spm"):
        raise ValueError(f"mode must be 'psm' or 'spm', got {mode!r}")
    u_sel = _salted_u(id_col, hash_fn, 1)
    u1 = _salted_u(id_col, hash_fn, 2)
    u2 = _salted_u(id_col, hash_fn, 3)
    t = F.col(text_col)
    length = F.length(t)
    p1 = F.floor(u1 * (length + F.lit(1))).cast("long")
    p2 = F.floor(u2 * (length + F.lit(1))).cast("long")
    lo, hi = F.least(p1, p2), F.greatest(p1, p2)
    pre = F.substring(t, F.lit(1), lo)
    mid = F.substring(t, lo + F.lit(1), hi - lo)
    suf = F.substring(t, hi + F.lit(1), length - hi)
    if mode == "psm":
        rendered = F.concat(
            F.lit(prefix_tok), pre, F.lit(suffix_tok), suf, F.lit(middle_tok), mid
        )
    else:
        rendered = F.concat(
            F.lit(prefix_tok), F.lit(suffix_tok), suf, F.lit(middle_tok), pre, mid
        )
    applied = u_sel < F.lit(float(rate))
    return df.withColumn(flag_col, applied).withColumn(
        text_col, F.when(applied, rendered).otherwise(t)
    )


# ---------------------------------------------------------------------------
# Length-bucketed batch assembly (padded SFT batching)
# ---------------------------------------------------------------------------

def batch_by_length(
    df: DataFrame,
    batch_size: int,
    len_col: str = "n_tokens",
    id_col: str = "doc_id",
    batch_col: str = "batch",
    ascending: bool = False,
    pin: list | None = None,
) -> DataFrame:
    """Assign every row to a fixed-size training batch under a global
    length sort — the padded-batching alternative to
    :func:`pack_documents` (SFT loaders that pad to the batch max instead
    of concatenating want near-equal lengths per batch; a length-sorted
    assignment minimizes per-batch padding for a fixed batch size).

    The global rank is the shard layer's exact two-phase range pattern
    (:func:`mrmr_spark.sources.shards.sized_shards` under
    ``(sort_len, id_col)`` — one range exchange, the in-range work is
    bounded by the partition, never a single-task global window).
    ``ascending=False`` (default) sorts longest-first, so the ragged
    final batch is the SHORTEST one — its padding waste is minimal.
    NULL lengths sort as 0 (documented coalesce; they land with the
    shortest rows). Output: input columns + ``batch_col``.
    """
    from mrmr_spark.sources.shards import sized_shards

    if batch_size < 1:
        raise ValueError(f"batch_by_length: batch_size must be >= 1, got {batch_size}")
    L = F.coalesce(F.col(len_col).cast("long"), F.lit(0))
    sort_key = L if ascending else -L
    out = sized_shards(
        df.withColumn("_len_ord", sort_key),
        rows_per_shard=batch_size,
        order_by=["_len_ord"],
        id_col=id_col,
        shard_col="_sh_i32",
        rank_col="_rk",
        pin=pin,
    )
    # batch ids stay BIGINT: 10^12 rows / batch 32 overflows the int shard
    # column sized_shards emits (shard counts are bounded in practice;
    # batch counts are not)
    return out.withColumn(
        batch_col, F.floor(F.col("_rk") / F.lit(int(batch_size))).cast("long")
    ).drop("_len_ord", "_sh_i32", "_rk")


def batch_padding_stats(
    batched: DataFrame,
    batch_col: str = "batch",
    len_col: str = "n_tokens",
) -> DataFrame:
    """Per-batch padding diagnostics for a :func:`batch_by_length`
    assignment: ``n_rows``, ``max_len`` (the padded width), ``sum_len``
    (real tokens), ``padded_tokens`` (= n_rows*max_len - sum_len) and
    ``pad_frac`` (padding / padded volume; 0.0 for an all-zero batch).
    One map-side-combined aggregation on the batch key."""
    L = F.coalesce(F.col(len_col).cast("long"), F.lit(0))
    vol = F.count(F.lit(1)) * F.max(L)
    return batched.groupBy(batch_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(L).alias("max_len"),
        F.sum(L).alias("sum_len"),
        (vol - F.sum(L)).alias("padded_tokens"),
        F.when(vol > 0, (vol - F.sum(L)) / vol.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("pad_frac"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted source interleaving (training-stream order)
# ---------------------------------------------------------------------------

def interleave_sources(
    df: DataFrame,
    weights: dict | None = None,
    domain_col: str = "source",
    id_col: str = "doc_id",
    order_cols: list[str] | None = None,
    seed: int = 0,
    hash_fn: str = "xxhash64",
    pos_col: str = "global_pos",
    pin: list | None = None,
) -> DataFrame:
    """Assign every row its position in ONE deterministic training stream
    that interleaves domains proportionally to ``weights`` — the ORDER
    half of dataset mixing (:func:`temperature_sample` /
    :func:`temperature_quotas` decide HOW MUCH of each domain;
    this decides WHERE each row lands, so a loader reading shards
    sequentially sees every domain at its target rate from step one
    instead of domain-sized blocks).

    Weighted-fair-queueing virtual finish times: row i of domain d (rank
    r_d(i) under a seed-free hash order, or ``order_cols`` when given)
    gets key (r_d(i)+1)/w_d; the stream is the global sort by
    (key, domain, id). A domain with twice the weight appears twice as
    often in every prefix (off by at most one per domain — the WFQ
    bound). Domains missing from ``weights`` default to 1.0; ``None``
    means round-robin.

    Scale: the within-domain rank is :func:`~mrmr_spark.sources.shards.grouped_ranks`
    (range-partitioned two-phase — NO per-domain window task, so a
    90%-domain cannot straggle), the global position is
    :func:`~mrmr_spark.sources.shards.sized_shards`'s exact rank under
    the key. Two range exchanges total; both IEEE-double keys are
    ANSI-SQL-reproducible (the gate oracles the whole stream order).
    Output: input columns + ``pos_col`` (0-based).
    """
    from mrmr_spark.sources.shards import grouped_ranks, sized_shards

    if weights is not None:
        bad = {d: w for d, w in weights.items() if not (float(w) > 0)}
        if bad:
            raise ValueError(f"interleave_sources: weights must be > 0: {bad}")
    if order_cols is None:
        ordered = df.withColumn(
            "_ord", hash64(F.col(id_col).cast("string"), seed=seed, hash_fn=hash_fn)
        )
        ocols = ["_ord"]
    else:
        ordered = df
        ocols = list(order_cols)
    ranks = grouped_ranks(
        ordered, [domain_col], ocols, id_col=id_col, rank_col="_r", pin=pin
    )
    if weights:
        dom = F.col(domain_col).cast("string")
        w_expr = None
        for d, w in sorted(weights.items()):
            cond = dom == F.lit(str(d))
            w_expr = (
                F.when(cond, F.lit(float(w)))
                if w_expr is None
                else w_expr.when(cond, F.lit(float(w)))
            )
        w_expr = w_expr.otherwise(F.lit(1.0))
    else:
        w_expr = F.lit(1.0)
    keyed = ranks.withColumn(
        "_key", (F.col("_r") + 1).cast("double") / w_expr
    )
    out = sized_shards(
        keyed,
        rows_per_shard=1,
        order_by=["_key", domain_col],
        id_col=id_col,
        shard_col="_sh",
        rank_col=pos_col,
        pin=pin,
    )
    drop = ["_sh", "_key", "_r"] + (["_ord"] if order_cols is None else [])
    return out.drop(*drop)
