"""Input validation / target factorization / weights / pruning (SURVEY.md §2.B).

Spark-side equivalents of the reference's preprocessing contracts:

- numeric-only feature columns (schema assertion, not data scan)
- NaN/±inf mean-imputation is folded into the reduction kernels
  (mrmr_spark.select.kernels) — no materialized imputed table
- classification targets factorized in **sorted label order**
  (``np.unique(return_inverse=True)`` semantics, _preprocess.py:196-197) —
  NOT Spark ML's frequency-ordered StringIndexer
- sample weights validated ≥0/finite and normalized max→1 then mean→1
  (_preprocess.py:106-152)
- constant columns (std ≤ 1e-12) pruned before the copula path
  (copula.py:64-69)
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUMERIC_TYPES = {"double", "float", "int", "bigint", "smallint", "tinyint", "decimal"}

_PLAN_TAGS = itertools.count()


def private_plan(df: DataFrame) -> DataFrame:
    """``df`` behind a constant filter with a fresh tag, which the optimizer
    folds away. Spark keeps one cache entry per equal plan, so a library
    persist/unpersist of ``df`` itself would drop a caller's cache of it."""
    return df.where(F.lit(next(_PLAN_TAGS)).isNotNull())


def assert_numeric(df: DataFrame, cols: list[str]) -> None:
    present = dict(df.dtypes)
    missing = [c for c in cols if c not in present]
    if missing:
        # fail here with the column names rather than deep inside the first
        # Spark job as an unresolved-column AnalysisException
        raise ValueError(f"Feature columns not found in the DataFrame: {missing[:5]}.")
    bad = [
        (c, present[c])
        for c in cols
        if not any(present[c].startswith(nt) for nt in NUMERIC_TYPES)
    ]
    if bad:
        raise ValueError(
            f"Non-numeric feature columns found: {bad[:5]}. Encode them first "
            "(e.g. mrmr_spark.select.encoding.target_encode)."
        )


def factorize_target(df: DataFrame, y_col: str, out: str = "_y_code") -> tuple[DataFrame, list]:
    """Append integer codes for a classification target in sorted label
    order. Labels are collected (classification cardinality is small by
    definition) and mapped with a broadcast-joinable CASE chain."""
    labels = [r[0] for r in df.select(y_col).distinct().collect()]
    if any(label is None for label in labels):
        raise ValueError("Missing values in y are not allowed for classification.")
    # numeric NaN/±inf labels are distinct from SQL NULL and would otherwise
    # silently become classes; the reference raises (_preprocess.py:190-194)
    if any(isinstance(label, float) and not np.isfinite(label) for label in labels):
        raise ValueError("Non-finite values in y are not allowed for classification.")
    labels = sorted(labels)
    mapping = F.lit(None).cast("int")
    expr = None
    for i, label in enumerate(labels):
        cond = F.col(y_col) == F.lit(label)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    out_df = df.withColumn(out, expr.otherwise(mapping).cast("int"))
    return out_df, labels


def ensure_weight_column(
    df: DataFrame, weight_col: str | None, out: str = "_w"
) -> tuple[DataFrame, str | None]:
    """Normalize weights to mean 1 via two scalar aggregates (w/max, then
    /mean — the reference's exact two-step, which its tests prove
    scale-invariant). Returns (df, normalized-col or None for uniform)."""
    if weight_col is None:
        return df, None
    row = df.select(
        F.max(weight_col).alias("mx"),
        F.min(weight_col).alias("mn"),
        F.count(
            F.when(
                ~F.col(weight_col).isNotNull()
                | F.isnan(weight_col)
                | (F.abs(F.col(weight_col)) == float("inf")),
                1,
            )
        ).alias("bad"),
    ).collect()[0]
    if row.bad:
        raise ValueError("sample_weight contains non-finite values")
    if row.mn is not None and row.mn < 0:
        raise ValueError("sample_weight contains negative values")
    if not row.mx or row.mx <= 0:
        raise ValueError("sample_weight must contain at least one positive value")
    scaled = F.col(weight_col) / F.lit(float(row.mx))
    mean = df.select(F.avg(scaled).alias("m")).collect()[0].m
    if not mean or mean <= 0:
        raise ValueError("sample_weight mean must be finite and > 0")
    return df.withColumn(out, scaled / F.lit(float(mean))), out


def deterministic_subsample(df: DataFrame, n: int, seed: int = 0, key_cols=None) -> DataFrame:
    """Exact-n seeded sample without replacement: global order by a salted
    64-bit hash of the row key + limit(n). Deterministic across cluster
    sizes (unlike ``df.sample``) — the engine's stand-in for the reference's
    ``default_rng.choice`` subsample (B7; SURVEY.md §7 'what's hard' #3 —
    bit-parity with NumPy's sampler is out of contract, tests run unsampled).
    """
    key_cols = key_cols or df.columns
    h = F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed))
    return df.orderBy(h).limit(n)
