"""Streaming deduplication.

The reference is a pure batch library (no streaming surface; SURVEY.md
§2.I); this module extends the engine's dedup family (``operators/dedup``)
to Structured Streaming ingest — the shape a 100 TB training-data pipeline
actually runs: documents arrive continuously and must be deduplicated
against everything already admitted, with bounded state.

Design: identical content key to the batch ``exact_dedup`` — the 128-bit
``content_fingerprint`` (two independent xxhash64 of the normalized text),
never the document body, as the state/shuffle key. Collision probability
~n²/2¹²⁹ (≈1e-19 at 10¹⁰ docs). Two state regimes:

- ``watermark`` given (production): ``dropDuplicatesWithinWatermark`` —
  state per fingerprint is evicted once the event-time watermark passes,
  so state size is bounded by the duplicate-arrival horizon, not the
  corpus. Exact within the horizon; duplicates that arrive later than the
  watermark delay are admitted (the standard streaming-dedup trade).
- no ``watermark`` (exact mode): ``dropDuplicates`` on the fingerprint —
  exact across the whole stream, state grows with distinct content
  (16 bytes of key per distinct doc + row payload; viable for bounded
  corpora or RocksDB state stores, not for an unbounded 100 TB stream).

First-arrival semantics: the first row seen for a fingerprint is emitted,
later duplicates are dropped — the streaming twin of keeping the min-id
canonical doc per batch dedup group (order of arrival replaces order of
id). Stateless text operators need no twin at all: token stats, quality
and language-ID are per-row Column expressions and winnow fingerprints an
Arrow kernel, and all of them run on a streaming DataFrame unchanged
(tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mrmr_spark.operators.dedup import content_fingerprint


def with_content_fingerprint(
    df: DataFrame, text_col: str = "text", prefix: str = "_fp"
) -> DataFrame:
    """Append the 128-bit content fingerprint as two bigint columns
    ``{prefix}1``/``{prefix}2`` (normalized text: lowercased, trimmed —
    the batch exact_dedup key). Works on batch and streaming frames."""
    f1, f2 = content_fingerprint(text_col)
    return df.withColumn(f"{prefix}1", f1).withColumn(f"{prefix}2", f2)


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
    keep_fingerprint: bool = False,
) -> DataFrame:
    """First-arrival exact dedup of a streaming document frame by
    normalized-text content.

    With ``ts_col`` + ``watermark`` (e.g. ``"1 hour"``): bounded-state
    production mode — fingerprint state is dropped once the watermark
    passes, so memory is proportional to the duplicate-arrival horizon.
    Without: exact across the whole stream (state = one entry per
    distinct document; bounded corpora only).

    Returns the input rows minus duplicates (first arrival wins), with
    the two fingerprint columns retained when ``keep_fingerprint``.
    Also accepts a BATCH DataFrame: ``dropDuplicates`` keeps one
    arbitrary row per fingerprint there (use ``exact_dedup`` when the
    min-id canonical row matters).
    """
    if (watermark is None) != (ts_col is None):
        raise ValueError("watermark and ts_col must be given together")
    fp = with_content_fingerprint(stream, text_col)
    keys = ["_fp1", "_fp2"]
    if watermark is not None:
        deduped = fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    else:
        deduped = fp.dropDuplicates(keys)
    if keep_fingerprint:
        return deduped
    return deduped.drop(*keys)
