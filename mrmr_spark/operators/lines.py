"""Line-level corpus cleaning: common-line (boilerplate) removal and
C4-style per-line heuristic filtering.

Re-expressions of the standard web-corpus curation passes (C4, Raffel et
al. 2020 §2.2; RefinedWeb/CCNet line dedup, Penedo et al. 2023 §3.3) on
the Spark DataFrame API — the reference engine (kmedved/mrmr) has no text
layer at all, so these have no reference counterpart; they extend the
`documents`-table curation family (`operators/curation.py`).

Scale design (100 TB):

- :func:`c4_line_filter` is a PURE Column expression — split → higher-order
  ``filter`` → ``array_join`` — zero shuffles, zero Python, whole-stage
  codegen; it runs at scan speed regardless of corpus size.
- :func:`remove_common_lines` needs corpus-wide line document frequency.
  The document text is NEVER a shuffle key and never leaves its scan:
  the exploded frame carries only ``(doc_id, pos, 128-bit line
  fingerprint)`` rows, the DF count is two key-partitioned shuffles with
  map-side partial aggregation, and only the (small) per-document
  *drop-position arrays* are joined back — the rebuild is then a local
  Column expression over the original text, so the corpus itself is
  read once and shuffled never. On a streaming frame the trained key set
  is applied instead as one stateless Arrow stage (no join, no
  aggregation). The line key is always the 128-bit fingerprint; the
  gate's DuckDB oracle keys on the normalized line string itself, so
  every gate run checks that no fingerprint collides.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Second xxhash64 seed for the 128-bit line fingerprint (same convention
# as `operators/dedup.exact_dedup`): two independent 64-bit hashes put
# the birthday collision bound at ~n²/2¹²⁹.
_SEED2 = 0x9E3779B9


def split_lines(text_col: str | Column = "text", sep: str = "\n") -> Column:
    """``array<string>`` of lines. ``sep`` is a LITERAL separator (Spark's
    ``split`` takes a Java regex, so it is escaped here) to keep the
    semantics identical to DuckDB/ANSI ``string_split``."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(col, re.escape(sep))


def _norm_line(line: Column, normalize: bool) -> Column:
    return F.lower(F.trim(line)) if normalize else line


def remove_common_lines(
    docs: DataFrame,
    max_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    normalize: bool = True,
    min_chars: int = 1,
) -> DataFrame:
    """Drop every line whose (normalized) text occurs in ``>= max_df``
    distinct documents — the RefinedWeb/CCNet boilerplate-removal pass
    (nav bars, cookie banners, footers repeat across a domain; prose does
    not) — and rebuild each document from its surviving lines.

    Returns ``docs`` with ``text_col`` rewritten and a bigint
    ``n_removed_lines`` column; documents whose every line is boilerplate
    survive with empty text (filter on ``n_removed_lines`` downstream if
    drop semantics are wanted).

    Lines whose normalized form is shorter than ``min_chars`` are exempt
    (neither counted toward document frequency nor dropped) — with the
    default ``min_chars=1`` blank lines never count, so document
    paragraph structure survives the pass.

    Lines are keyed by a 128-bit double-xxhash64 fingerprint of the
    normalized line, so line text is never a shuffle key.
    """
    keys = common_line_keys(
        docs,
        max_df=max_df,
        id_col=id_col,
        text_col=text_col,
        sep=sep,
        normalize=normalize,
        min_chars=min_chars,
    )
    return remove_lines_by_keys(
        docs,
        keys,
        id_col=id_col,
        text_col=text_col,
        sep=sep,
        normalize=normalize,
        min_chars=min_chars,
    )


def _line_key(norm: Column, which: int) -> Column:
    """One half of the 128-bit line fingerprint of a normalized line."""
    return F.xxhash64(norm) if which == 1 else F.xxhash64(norm, F.lit(_SEED2))


def _pos_frame(docs, id_col, text_col, sep, normalize, min_chars):
    lines = split_lines(text_col, sep)
    pos = docs.select(
        id_col, F.posexplode(lines).alias("pos", "_line")
    ).withColumn("_norm", _norm_line(F.col("_line"), normalize))
    pos = pos.where(F.length("_norm") >= min_chars)
    return pos.select(
        id_col,
        "pos",
        _line_key(F.col("_norm"), 1).alias("_k1"),
        _line_key(F.col("_norm"), 2).alias("_k2"),
    )


def common_line_keys(
    docs: DataFrame,
    max_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    normalize: bool = True,
    min_chars: int = 1,
) -> DataFrame:
    """Phase 1 of boilerplate removal: the (small) frame of line keys
    occurring in ``>= max_df`` distinct documents — ``(_k1, _k2)`` rows,
    the two halves of the 128-bit line fingerprint.

    Train it on the full corpus or on a SAMPLE with a scaled ``max_df``
    (RefinedWeb computes its boilerplate set per-domain on a fraction of
    the crawl); persist the result and feed :func:`remove_lines_by_keys`
    — over the full corpus, a later increment, or a stream.

    Document frequency per line key: distinct (key, doc) then count —
    both shuffles key-partitioned with map-side partial agg; corpus text
    never in a shuffle key.
    """
    pos = _pos_frame(docs, id_col, text_col, sep, normalize, min_chars)
    return (
        pos.select("_k1", "_k2", id_col)
        .distinct()
        .groupBy("_k1", "_k2")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= max_df)
        .select("_k1", "_k2")
    )


def remove_lines_by_keys(
    docs: DataFrame,
    keys: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    normalize: bool = True,
    min_chars: int = 1,
) -> DataFrame:
    """Phase 2 of boilerplate removal: drop every line whose key is in
    ``keys`` (a ``(_k1, _k2)`` frame from :func:`common_line_keys`) and
    rebuild each document. Same output contract as
    :func:`remove_common_lines`; NULL text passes through with
    ``n_removed_lines = 0``.

    The plan follows the input:

    - batch ``docs``: posexplode → leftsemi against ``keys`` → per-doc
      drop-position arrays joined back (``keys`` may be any size; both
      joins broadcast the small side under AQE).
    - streaming ``docs`` (which cannot run that join-back): ``keys`` is
      collected ONCE into a driver set and applied as a stateless Arrow
      ``mapInPandas`` stage — no aggregation, no join. Bounded by
      driver/executor memory: ~16 bytes per key; guarded at 5M keys.
    """
    if docs.isStreaming:
        return _remove_lines_broadcast_set(
            docs, keys, text_col, sep, normalize, min_chars
        )

    lines = split_lines(text_col, sep)
    pos = _pos_frame(docs, id_col, text_col, sep, normalize, min_chars)
    drop_pos = (
        pos.join(keys, ["_k1", "_k2"], "leftsemi")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("pos")).alias("_drop_pos"),
            F.count(F.lit(1)).cast("bigint").alias("_n_removed"),
        )
    )

    out_cols = [
        F.when(
            F.col("_drop_pos").isNull(), F.col(text_col)
        ).otherwise(
            F.array_join(
                F.filter(lines, lambda ln, i: ~F.array_contains("_drop_pos", i)),
                sep,
            )
        ).alias(text_col)
        if c == text_col
        else F.col(c)
        for c in docs.columns
    ]
    return (
        docs.join(drop_pos, id_col, "left")
        .select(*out_cols, F.coalesce("_n_removed", F.lit(0)).alias("n_removed_lines"))
    )


_MAX_BROADCAST_KEYS = 5_000_000


def _remove_lines_broadcast_set(docs, keys, text_col, sep, normalize, min_chars):
    # The per-line keys are computed by the SAME Spark expressions the
    # join path and common_line_keys use (never re-implemented in
    # Python — Spark's xxhash64 seeding is JVM-specific), carried into
    # the Arrow stage as array columns; the Python side does ONLY set
    # membership on the precomputed keys.
    rows = keys.select("_k1", "_k2").collect()
    if len(rows) > _MAX_BROADCAST_KEYS:
        raise ValueError(
            f"broadcast_set holds {len(rows)} keys > {_MAX_BROADCAST_KEYS}; "
            "a streaming frame needs a smaller key set (train it with a higher max_df)"
        )
    key_set = {(r["_k1"], r["_k2"]) for r in rows}
    bc = docs.sparkSession.sparkContext.broadcast(key_set)

    lines = split_lines(text_col, sep)

    # Keys are computed UNCONDITIONALLY (a nullable int64 Arrow list would
    # degrade to float64 in pandas and corrupt 64-bit hashes); the
    # min_chars exemption travels as a separate boolean mask array.
    def _k(which):
        return lambda ln: _line_key(_norm_line(ln, normalize), which)

    def _mask(ln):
        return F.length(_norm_line(ln, normalize)) >= min_chars

    keyed = docs.select(
        "*",
        F.transform(lines, _k(1)).alias("_lk1"),
        F.transform(lines, _k(2)).alias("_lk2"),
        F.transform(lines, _mask).alias("_lmask"),
    )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(docs.schema.fields) + [StructField("n_removed_lines", LongType())]
    )
    in_cols = [f.name for f in docs.schema.fields]

    def _apply(batches):
        ks = bc.value
        for pdf in batches:
            kept_texts, removed = [], []
            for t, lk1, lk2, lm in zip(
                pdf[text_col], pdf["_lk1"], pdf["_lk2"], pdf["_lmask"]
            ):
                if t is None:
                    kept_texts.append(None)
                    removed.append(0)
                    continue
                kept, n_rm = [], 0
                for ln, k1, k2, m in zip(t.split(sep), lk1, lk2, lm):
                    if m and (k1, k2) in ks:
                        n_rm += 1
                    else:
                        kept.append(ln)
                kept_texts.append(sep.join(kept))
                removed.append(n_rm)
            out = pdf[in_cols].copy()
            out[text_col] = kept_texts
            out["n_removed_lines"] = removed
            yield out

    return keyed.mapInPandas(_apply, schema)


DEFAULT_BLOCKLIST = ("lorem ipsum", "javascript", "{")


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
    word_split: str = " ",
) -> DataFrame:
    """C4-style per-line cleaning (Raffel et al. 2020 §2.2): keep a line
    only if it has ``>= min_words`` words, (optionally) ends in terminal
    punctuation, and contains no blocklisted phrase (case-insensitive
    substring). Rewrites ``text_col`` from the kept lines and adds bigint
    ``n_kept_lines`` / ``n_dropped_lines``; doc-level policy (e.g. C4's
    "drop pages with < 3 sentences") is a downstream filter on
    ``n_kept_lines``.

    Entirely expression-level — one pass over the scan, no shuffle, no
    Python — so at 100 TB this is free relative to the read itself.
    """
    lines = split_lines(text_col, sep)

    def _keep(ln: Column) -> Column:
        t = F.trim(ln)
        cond = F.size(F.split(t, re.escape(word_split))) >= min_words
        if require_terminal_punct:
            cond = cond & t.rlike('[.!?"\']$')
        low = F.lower(ln)
        for phrase in blocklist:
            cond = cond & ~low.contains(phrase.lower())
        return cond

    kept = F.filter(lines, _keep)
    out_cols = [
        F.array_join(kept, sep).alias(text_col) if c == text_col else F.col(c)
        for c in docs.columns
    ]
    return docs.select(
        *out_cols,
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        (F.size(lines) - F.size(kept)).cast("bigint").alias("n_dropped_lines"),
    )
