"""Stable turn ordering (SURVEY.md §2.A A2).

The reference relies on positional row identity and mergesort-stable orderings
(``sift/sampling/anchors.py:19,32``, ``sift/_permute.py:51-53``). Spark has no
row order, so every per-conversation operator here is a window over the
explicit order key ``(conv_id, turn_idx)`` — unique and dense per conv, hence
a *total* order (no tie-break needed; we still add turn_idx as the final sort
key everywhere a ts ordering could tie).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


def turn_window(group: str = "conv_id", order: str | list[str] = "turn_idx") -> WindowSpec:
    """The canonical per-conversation, turn-ordered window."""
    order_cols = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(group).orderBy(*[F.col(c) for c in order_cols])


def with_row_key(df: DataFrame, cols=("conv_id", "turn_idx"), name: str = "row_key") -> DataFrame:
    """Materialize the explicit row identity the engine uses instead of
    NumPy positional indices (SURVEY.md §1.3)."""
    return df.withColumn(name, F.concat_ws("#", *[F.col(c).cast("string") for c in cols]))


def ts_micros(col: str | Column) -> Column:
    """Integer epoch microseconds; handles TIMESTAMP and TIMESTAMP_NTZ
    (parquet without tz). Gap/duration math uses *differences*, so the
    session-zone offset applied in the NTZ cast cancels."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))
