"""Structured-Streaming session rollups.

The reference is a pure batch library — it has **no streaming surface at
all** (SURVEY.md §2.I), and the engine's contract is batch feature
engineering. ``streaming_sessionize`` gives the transcript data model a
streaming ingest path with the SAME session boundaries as the batch
``sessionize`` operator: per-closed-session rollups via Spark's built-in
``session_window`` + watermark (declarative, no custom state). Per-turn
session ids and features stay batch operators (``sessionize``,
``fe.build_features``).

Use case: incremental per-session rollups feeding the same
parquet/Iceberg tables the batch FE layer reads.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_sessionize(
    stream: DataFrame,
    gap_s: float = 1800.0,
    group: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(conv, session) rolling aggregates over a streaming transcript
    source. Returns one row per closed session: conv_id, session start/end,
    n_turns, n_tool_turns.

    The result is append-mode writable once the watermark passes the
    session end; semantics match the batch operator's session boundaries
    for in-order events (late events within the watermark merge sessions,
    which the batch recompute would also do). The gap is passed to
    ``session_window`` in whole microseconds, the resolution the batch
    operator compares at, so fractional gaps are not truncated.
    """
    gap_us = round(gap_s * 1_000_000) if math.isfinite(gap_s) else 0
    if gap_us < 1:  # a 0 µs window would silently drop every row
        raise ValueError(f"gap_s must be finite and at least 1 µs, got {gap_s!r}")
    gap = f"{gap_us} microseconds"
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(group))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool_turns"),
        )
        .select(
            group,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_turns",
            "n_tool_turns",
        )
    )
