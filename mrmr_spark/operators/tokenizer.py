"""Distributed BPE tokenizer training and encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The reference repo (kmedved/mrmr) carries no tokenizer — this family belongs
to the training-data-pipeline tier the engine adds on top of SURVEY.md §2:
every pretraining corpus needs a subword vocabulary trained on it, and the
corpus-bounded half of that job (word counting) is exactly a Spark scan.

Scale decomposition (the HF-tokenizers / SentencePiece shape):

1. :func:`word_counts` — ONE corpus scan collapsing the 100 TB corpus to its
   word-frequency table (explode → map-side-combined count agg). The output
   is VOCAB-bounded, not corpus-bounded: distinct-word growth is Heaps' law
   (~O(N^0.5)), so 10^12 tokens yield tens of millions of rows, not 10^12.
2. :func:`bpe_train` — the greedy merge loop over that bounded table on the
   driver, with incremental pair-count maintenance (only words containing
   the merged pair are touched per iteration). ``max_words`` caps driver
   memory explicitly (count-desc head; the dropped tail is the frequency
   mass BPE would never merge first anyway) and the result records whether
   it truncated.
3. :func:`bpe_pair_counts` — the same statistic the trainer maximizes, as a
   distributed aggregation (symbols after ``merges`` applied → adjacent
   pairs → sum of word counts). This is the fully-distributed alternative
   when even the word table must stay on the cluster: one agg job per merge,
   correct at any scale but paying per-iteration job latency — the bounded
   driver loop is the default for the same reason the reference bounds its
   own driver matrices.
4. :func:`bpe_encode` / :func:`token_offsets` — apply a trained merge list
   to the corpus: one mapInPandas stage with per-partition distinct-word
   memoization (words repeat; each distinct word is encoded once per
   partition).

Every encode — corpus, offsets and pair counts — runs the one Python word
encoder :func:`_encode_word_py`. Its cost is ∝ merges that fire on the
word, not the merge-list length, so it serves 32k-merge vocabularies and
any symbol alphabet alike. The gate's DuckDB oracles re-derive the same
segmentation independently as a ``replace()`` chain over a
U+001F-wrapped symbol string.

Merge-application semantics (all paths, trainer included): merges apply in
RANK ORDER, each merging all its left-to-right non-overlapping occurrences
at its turn — Sennrich's ``apply_bpe``. A pair whose rank already passed is
NOT revisited if a later merge re-creates it. This makes encoding the
training words reproduce the trainer's final segmentation exactly (tested).
The end-of-word marker is its own trailing symbol (``</w>``), so merges
that absorb it (e.g. ``e + </w>``) are learned like any other pair.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

#: end-of-word marker appended as its own symbol (the separate-symbol BPE
#: variant; Sennrich's original attaches it to the final character — both
#: are standard, this one keeps every initial symbol one character wide).
END_OF_WORD = "</w>"

DEFAULT_SPLIT = " "


# ---------------------------------------------------------------------------
# corpus scan: word frequency table
# ---------------------------------------------------------------------------


def word_counts(
    df: DataFrame,
    text_col: str = "text",
    split: str = DEFAULT_SPLIT,
    lowercase: bool = False,
    min_count: int = 1,
) -> DataFrame:
    """Word-frequency table ``(word, count)`` in ONE corpus scan.

    Explode → count agg: Spark's hash aggregate runs map-side partial
    combine, so the shuffle carries (distinct-word × partition) rows, not
    token occurrences. Empty tokens (leading/trailing/repeated separators)
    are dropped. ``split`` is a Java regex (default: single literal space,
    the gate-oracle-able tokenizer the textstats family shares).
    """
    w: Column = F.explode(F.split(F.col(text_col), split)).alias("word")
    out = df.select(w).where(F.col("word") != "")
    if lowercase:
        out = out.select(F.lower(F.col("word")).alias("word"))
    counted = out.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    if min_count > 1:
        counted = counted.where(F.col("count") >= min_count)
    return counted


# ---------------------------------------------------------------------------
# driver merge loop
# ---------------------------------------------------------------------------


def merge_word(symbols: list[str], pair: tuple[str, str]) -> list[str]:
    """Merge all left-to-right non-overlapping occurrences of ``pair``."""
    a, b = pair
    out: list[str] = []
    i, n = 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def bpe_train(
    word_counts_df: DataFrame,
    num_merges: int,
    max_words: int = 1_000_000,
    min_count: int = 1,
    end_of_word: str = END_OF_WORD,
) -> dict:
    """Greedy BPE merge training over a :func:`word_counts` table.

    The cluster does the corpus-bounded work (the word-count scan); this
    loop runs on the driver over the VOCAB-bounded frequency table, capped
    at the ``max_words`` most frequent words (TakeOrderedAndProject — no
    global sort materialization; deterministic count-desc, word-asc order).
    The cap is the same bounded-driver-matrix contract the selection layer
    uses (reference budgets, SURVEY §2 G3): the dropped tail is the lowest
    frequency mass, which greedy BPE would touch last anyway. ``truncated``
    in the result records whether the cap bit.

    Pair statistics update incrementally: only words containing the merged
    pair are re-segmented per iteration (pair → word-index inverted index),
    so per-merge cost is ∝ affected words, not the vocabulary. Ties in the
    pair count break to the lexicographically smallest pair — deterministic
    across runs, partitionings and re-trainings.

    Returns ``{"merges": [(a, b), ...], "vocab": sorted set of final
    symbols, "end_of_word", "n_words", "truncated"}``.
    """
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    wc = word_counts_df
    if min_count > 1:
        wc = wc.where(F.col("count") >= min_count)
    rows = (
        wc.orderBy(F.col("count").desc(), F.col("word"))
        .limit(max_words + 1)
        .collect()
    )
    truncated = len(rows) > max_words
    rows = rows[:max_words]

    words: list[list[str]] = [list(r["word"]) + [end_of_word] for r in rows]
    counts: list[int] = [int(r["count"]) for r in rows]

    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        c = counts[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            pair_words.setdefault(p, set()).add(wi)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        best_count = max(pair_counts.values())
        best = min(p for p, c in pair_counts.items() if c == best_count)
        merges.append(best)
        # re-segment only the words that contain the pair; apply exact
        # pair-multiset deltas so counts never drift from a full recount
        for wi in sorted(pair_words.get(best, ())):
            old = words[wi]
            new = merge_word(old, best)
            if new == old:
                continue
            c = counts[wi]
            delta: Counter = Counter(zip(new, new[1:]))
            delta.subtract(Counter(zip(old, old[1:])))
            for p, d in delta.items():
                if d == 0:
                    continue
                pair_counts[p] += d * c
                if pair_counts[p] == 0:
                    del pair_counts[p]
                if d > 0:
                    pair_words.setdefault(p, set()).add(wi)
            words[wi] = new
        # stale word-index entries for `best` are gone by construction:
        # merge_word removes every occurrence
        pair_words.pop(best, None)
        pair_counts.pop(best, None)

    vocab: set[str] = {end_of_word}
    for syms in words:
        vocab.update(syms)
    for a, b in merges:
        vocab.add(a + b)
    return {
        "merges": merges,
        "vocab": sorted(vocab),
        "end_of_word": end_of_word,
        "n_words": len(words),
        "truncated": truncated,
    }


# ---------------------------------------------------------------------------
# corpus encode
# ---------------------------------------------------------------------------


def _encode_word_py(
    word: str,
    merges: list[tuple[str, str]],
    ranks: dict[tuple[str, str], int],
    end_of_word: str,
) -> list[str]:
    """Sequential rank-order encode of one word, skipping absent merges.

    Equivalent to applying every merge in rank order (the naive O(M·len)
    loop — tested equal) but touching only merges whose pair is currently
    present with a rank beyond the last applied one, so cost is
    ∝ merges-that-fire, independent of vocabulary size. The strict
    ``rank > last`` bound is the "missed turn" rule: a pair re-created by a
    LATER merge is not revisited — exactly what sequential application does.
    """
    syms = list(word) + [end_of_word]
    last = -1
    while True:
        best = -1
        for p in zip(syms, syms[1:]):
            r = ranks.get(p, -1)
            if r > last and (best == -1 or r < best):
                best = r
        if best == -1:
            return syms
        syms = merge_word(syms, merges[best])
        last = best


def bpe_pair_counts(
    word_counts_df: DataFrame,
    merges: list[tuple[str, str]] | tuple = (),
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """Corpus-weighted adjacent symbol-pair counts ``(sym_a, sym_b,
    pair_count)`` after applying ``merges`` — the statistic whose argmax is
    the next BPE merge. Runs on the word-frequency table (vocab-bounded),
    one agg job: one mapInPandas stage encodes each word and emits
    ``(sym_a, sym_b, count)`` per adjacent pair, then the counts are summed
    with map-side combine. NULL words contribute no pairs."""
    merges = list(merges)
    ranks = {p: i for i, p in enumerate(merges)}
    schema = StructType(
        [
            StructField("sym_a", StringType()),
            StructField("sym_b", StringType()),
            StructField("count", LongType()),
        ]
    )

    def _pairs(batches):
        for pdf in batches:
            sa, sb, cnt = [], [], []
            for word, c in zip(pdf["word"], pdf["count"]):
                if word is None:
                    continue
                syms = _encode_word_py(word, merges, ranks, end_of_word)
                for a, b in zip(syms, syms[1:]):
                    sa.append(a)
                    sb.append(b)
                    cnt.append(c)
            yield pd.DataFrame(
                {"sym_a": sa, "sym_b": sb, "count": pd.Series(cnt, dtype="int64")}
            )

    return (
        word_counts_df.select("word", "count")
        .mapInPandas(_pairs, schema=schema)
        .groupBy("sym_a", "sym_b")
        .agg(F.sum("count").alias("pair_count"))
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    split: str = DEFAULT_SPLIT,
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """Append ``out_col`` (``array<string>``): the document's BPE subword
    sequence — words tokenized by ``split``, each encoded under ``merges``
    in rank order, concatenated in document order. Empty tokens are skipped;
    NULL text encodes to an empty array.

    ``split`` is a Python regular expression (``re.split``); compare
    :func:`token_offsets`, which splits on a literal string. One
    mapInPandas stage with per-partition distinct-word memoization — each
    distinct word is encoded once per partition, so cost tracks the
    partition's vocabulary, not its token count.
    """
    merges = list(merges)
    ranks = {p: i for i, p in enumerate(merges)}
    splitter = re.compile(split)
    schema = StructType(df.schema.fields + [StructField(out_col, ArrayType(StringType()))])

    def _encode(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            col = []
            for text in pdf[text_col]:
                toks: list[str] = []
                if text is not None and text == text:  # NaN-safe for object cols
                    for w in splitter.split(text):
                        if not w:
                            continue
                        enc = cache.get(w)
                        if enc is None:
                            enc = _encode_word_py(w, merges, ranks, end_of_word)
                            cache[w] = enc
                        toks.extend(enc)
                col.append(toks)
            out = pdf.copy()
            out[out_col] = pd.Series(col, index=pdf.index, dtype=object)
            yield out

    return df.mapInPandas(_encode, schema=schema)


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
    **kwargs,
) -> DataFrame:
    """Exact trained-vocabulary token count per document (the budgeting
    companion to textstats.subword_token_count's regex estimate)."""
    tmp = f"__{out_col}_toks"
    enc = bpe_encode(df, merges, text_col, out_col=tmp, **kwargs)
    return enc.withColumn(out_col, F.size(F.col(tmp)).cast("bigint")).drop(tmp)


# ---------------------------------------------------------------------------
# offset-mapped encode (the HF-tokenizers offset_mapping shape)
# ---------------------------------------------------------------------------


def token_offsets(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
    split: str = DEFAULT_SPLIT,
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """BPE encode with a character offset mapping — appends ``out_col``
    (``array<struct<token, tok_start, tok_end>>``): the document's subword
    sequence in order, each token carrying its 0-based [tok_start, tok_end)
    SURFACE character span in ``text_col``. The token stream is exactly
    :func:`bpe_encode`'s (tested); the spans are what alignment consumers
    need — loss masking rendered chat turns (`operators.chat.token_loss_mask`),
    span-level surgery after `duplicate_spans`/`contamination_spans`, or
    highlighting. The end-of-word marker is zero-width, so pure-marker
    tokens sit at their word boundary with ``tok_start == tok_end``.
    Corpus text that itself contains the literal marker string can end a
    merged symbol with marker CHARACTERS and under-count its span — pick an
    ``end_of_word`` absent from the corpus when that matters.

    ``split`` is a LITERAL separator string here (``str.split``), unlike
    :func:`bpe_encode`'s regex: offsets are reconstructed as
    ``len(word) + len(split)`` running sums, which a general regex cannot
    support. NULL text maps to an empty token array; empty words (repeated
    separators) advance the offset but emit no tokens, matching
    :func:`bpe_encode`.

    One mapInPandas stage with per-partition distinct-word memoization (a
    word's relative offsets are position-free, so the cache works exactly
    as in :func:`bpe_encode`).
    """
    merges = list(merges)
    ranks = {p: i for i, p in enumerate(merges)}
    step = len(split)
    eow_n = len(end_of_word)
    out_t = ArrayType(
        StructType(
            [
                StructField("token", StringType()),
                StructField("tok_start", LongType()),
                StructField("tok_end", LongType()),
            ]
        )
    )
    schema = StructType(df.schema.fields + [StructField(out_col, out_t)])

    def _offsets(batches):
        # word -> [(token, rel_start, rel_end)]: offsets inside a word are
        # position-independent, so the memo is as effective as bpe_encode's
        cache: dict[str, list[tuple[str, int, int]]] = {}
        for pdf in batches:
            col = []
            for text in pdf[text_col]:
                toks: list[tuple[str, int, int]] = []
                if text is not None and text == text:
                    off = 0
                    for w in text.split(split):
                        if w:
                            rel = cache.get(w)
                            if rel is None:
                                rel = []
                                pos = 0
                                for s in _encode_word_py(w, merges, ranks, end_of_word):
                                    n = len(s) - (eow_n if s.endswith(end_of_word) else 0)
                                    rel.append((s, pos, pos + n))
                                    pos += n
                                cache[w] = rel
                            toks.extend((s, off + a, off + b) for s, a, b in rel)
                        off += len(w) + step
                col.append(toks)
            out = pdf.copy()
            out[out_col] = pd.Series(col, index=pdf.index, dtype=object)
            yield out

    return df.mapInPandas(_offsets, schema=schema)
