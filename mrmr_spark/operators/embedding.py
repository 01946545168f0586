"""Feature-hashing text embeddings (Weinberger et al. 2009, "Feature
Hashing for Large Scale Multitask Learning").

Maps a text column to a fixed-``dim`` dense vector with no trained model
and no vocabulary: every token hashes to a bucket and a ±1 sign, and the
vector is the signed token-count histogram, optionally L2-normalized. This
is the model-free way to DERIVE the ``array<float>`` embedding column the
similarity family (knn / ann_lsh / ann_ivf / semdedup / embedding_near_dup)
consumes — text → hashed embedding → ANN/semantic-dedup runs end to end
with zero external dependencies.

Exactness across backends and the SQL oracle: per-bucket accumulation is
INTEGER (each token contributes ±1, or its tf), so the sum is
order-independent and partitioning-independent — no float-reassociation
drift; the single normalization divide happens once per bucket in f64.

Backends (bit-identical, tested):

- ``backend="group"`` (default): explode tokens → hash to (id, bucket) →
  map-side-combined integer sum → collect per-doc ``map(bucket → sum)`` →
  one projection renders the dense vector. Shuffle carries at most
  (doc × distinct-bucket) rows — bounded by min(tokens, dim) per doc —
  and every stage is whole-stage codegen.
- ``backend="project"``: zero-shuffle pure projection — per bucket, a
  higher-order ``aggregate`` over the token array. O(dim · n_tokens)
  interpreted lambda work per row: the stateless form for streaming
  admission (composes with any output mode, like dsir_logweight_expr) and
  tiny dims; the group backend is the batch default.
- ``backend="arrow"`` (``hash_fn="poly"`` only): zero-shuffle vectorized
  pandas UDF — tokens of a batch are factorized so each DISTINCT token is
  poly-hashed once in Python ints (exact), per-doc bucket accumulation is
  int64 ``np.add.at``, and the one normalization divide is the same f64
  op. Bit-identical to group/project (tested); the fast path for the
  poly family, whose per-character interpreted HOF fold is ~50x slower.
  The xxhash64 family stays on the codegen group backend (the JVM hash
  is not reproduced in Python).

Hash families (``hash_fn``):

- ``"xxhash64"`` (production default): bucket = pmod(xxhash64(tok, seed),
  dim); sign from the parity of an independent xxhash64(tok, seed+1).
- ``"poly"``: the winnowing family's polynomial-mod string hash (base 257 /
  sign base 263, mod 2^31−1) — every step ANSI-SQL-reproducible, so the
  operator is oracle-able end to end (gate row ``hashed_embedding``).
  Weaker avalanche than xxhash64; gate/oracle work only.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_POLY_MOD = 2_147_483_647  # Mersenne prime 2^31 − 1 (winnowing family)
_POLY_BASE_BUCKET = 257
_POLY_BASE_SIGN = 263


def _poly_hash(tok: Column, base: int) -> Column:
    """Σ code_i · base^i mod M over the token's characters — fits int64 with
    per-step mod (acc < 2^31 so acc·base + code < 2^40)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(tok), F.lit(1))),
        lambda i: F.ascii(F.substring(tok, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(base) + c) % F.lit(_POLY_MOD),
    )


def _bucket_and_sign(tok: Column, dim: int, seed: int, hash_fn: str, signed: bool):
    if hash_fn == "xxhash64":
        bucket = F.pmod(F.xxhash64(tok, F.lit(seed)), F.lit(dim))
        sign = (
            F.lit(1) - F.lit(2) * F.pmod(F.xxhash64(tok, F.lit(seed + 1)), F.lit(2))
            if signed
            else F.lit(1)
        )
    elif hash_fn == "poly":
        bucket = F.pmod(_poly_hash(tok, _POLY_BASE_BUCKET) + F.lit(seed), F.lit(dim))
        sign = (
            F.lit(1) - F.lit(2) * F.pmod(_poly_hash(tok, _POLY_BASE_SIGN) + F.lit(seed), F.lit(2))
            if signed
            else F.lit(1)
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'poly', got {hash_fn!r}")
    return bucket.cast("int"), sign.cast("long")


def _dense_from_counts(counts_map: Column, dim: int, normalize: bool) -> Column:
    """map(bucket → int sum) → dense array<double>, L2-normalized if asked
    (zero vectors stay zero)."""
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(counts_map, i.cast("int")), F.lit(0)).cast(
            "double"
        ),
    )
    if not normalize:
        return raw
    return F.get(
        F.transform(
            F.array(raw),
            lambda v: F.get(
                F.transform(
                    F.array(
                        F.sqrt(
                            F.aggregate(
                                v, F.lit(0.0), lambda acc, x: acc + x * x
                            )
                        )
                    ),
                    lambda nrm: F.when(
                        nrm > 0, F.transform(v, lambda x: x / nrm)
                    ).otherwise(v),
                ),
                0,
            ),
        ),
        0,
    )


def _hashed_embedding_arrow(
    dim: int, split: str, signed: bool, normalize: bool, seed: int
):
    """Vectorized poly-family embedding kernel — see the module docstring.

    Exactness: poly hashes are exact Python ints (same per-step mod as the
    Column fold); bucket sums are int64 (order-independent); the squared
    norm sums integer-valued doubles < 2^53, so any summation order yields
    the identical f64, and the single divide is the same IEEE op.
    """
    from pyspark.sql.functions import pandas_udf

    # ``split`` is a regex, as in the Column backends' F.split
    splitter = re.compile(split)

    @pandas_udf("array<double>")
    def _emb(texts: pd.Series) -> pd.Series:
        cache: dict[str, tuple[int, int]] = {}

        def bs(tok: str) -> tuple[int, int]:
            v = cache.get(tok)
            if v is None:
                hb = hs = 0
                for ch in tok:
                    c = ord(ch)
                    hb = (hb * _POLY_BASE_BUCKET + c) % _POLY_MOD
                    hs = (hs * _POLY_BASE_SIGN + c) % _POLY_MOD
                b = (hb + seed) % dim
                s = (1 - 2 * ((hs + seed) % 2)) if signed else 1
                v = (b, s)
                cache[tok] = v
            return v

        out = []
        for t in texts:
            counts = np.zeros(dim, dtype=np.int64)
            for w in splitter.split(t or ""):
                if w:
                    b, s = bs(w)
                    counts[b] += s
            raw = counts.astype(np.float64)
            if normalize:
                nrm = float(np.sqrt(np.dot(raw, raw)))
                if nrm > 0:
                    raw = raw / nrm
            out.append(raw)
        return pd.Series(out)

    # non-deterministic marker (guide §4.4): a downstream generator/filter
    # (e.g. posexplode's inferred `size(emb) > 0`) otherwise gets pushed
    # below the evaluation and DUPLICATES the whole kernel — observed as a
    # second ArrowEvalPython under the scan, doubling the work. The kernel
    # is pure; the marker only stops the optimizer from cloning it.
    return _emb.asNondeterministic()


def hashed_embedding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    out_col: str = "embedding",
    split: str = " ",
    signed: bool = True,
    normalize: bool = True,
    seed: int = 0,
    hash_fn: str = "xxhash64",
    backend: str = "group",
) -> DataFrame:
    """Append ``out_col``: the ``dim``-dimensional hashed token-count
    embedding of ``text_col``. Tokens are the pieces of the text split on
    the regex ``split`` (every backend, like ``F.split``); empty tokens are
    dropped, and a document with no tokens (or NULL text) embeds to the
    zero vector. ``signed`` toggles the ±1 sign stream (unbiased inner
    products — the feature-hashing trick); ``signed=False`` gives a plain
    hashed tf histogram.

    ``backend="group"`` keeps only ``id_col`` plus the embedding through the
    aggregation and joins the vector back onto ``df`` (broadcast-free
    equi-join on ``id_col``); ``backend="project"`` appends it as a pure
    zero-shuffle projection (streaming-safe). Outputs are bit-identical
    (integer accumulation; tested).
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), split),
        lambda w: w != F.lit(""),
    )

    if backend == "project":
        def bucket_sum(i: Column) -> Column:
            return F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc
                + F.get(
                    F.transform(
                        F.array(t),
                        lambda tok: F.when(
                            _bucket_and_sign(tok, dim, seed, hash_fn, signed)[0]
                            == i.cast("int"),
                            _bucket_and_sign(tok, dim, seed, hash_fn, signed)[1],
                        ).otherwise(F.lit(0).cast("long")),
                    ),
                    0,
                ),
            )

        counts_map = F.map_from_arrays(
            F.sequence(F.lit(0), F.lit(dim - 1)).cast("array<int>"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), bucket_sum),
        )
        return df.withColumn(out_col, _dense_from_counts(counts_map, dim, normalize))

    if backend == "arrow":
        if hash_fn != "poly":
            raise ValueError(
                "backend='arrow' supports hash_fn='poly' only (the JVM "
                "xxhash64 family is not reproduced in Python); use "
                "backend='group' for xxhash64."
            )
        emb = _hashed_embedding_arrow(dim, split, signed, normalize, seed)
        return df.withColumn(out_col, emb(F.coalesce(F.col(text_col), F.lit(""))))

    if backend != "group":
        raise ValueError(
            f"backend must be 'group', 'project' or 'arrow', got {backend!r}"
        )

    tok = F.explode(toks).alias("__tok")
    exploded = df.select(F.col(id_col), tok)
    bucket, sign = _bucket_and_sign(F.col("__tok"), dim, seed, hash_fn, signed)
    sums = (
        exploded.select(F.col(id_col), bucket.alias("__bucket"), sign.alias("__sign"))
        .groupBy(id_col, "__bucket")
        .agg(F.sum("__sign").alias("__sum"))
        .groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("__bucket", "__sum"))).alias("__m"))
    )
    vec = sums.select(F.col(id_col), _dense_from_counts(F.col("__m"), dim, normalize).alias(out_col))
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    return (
        df.join(vec, on=id_col, how="left")
        .withColumn(out_col, F.coalesce(F.col(out_col), zero))
    )
