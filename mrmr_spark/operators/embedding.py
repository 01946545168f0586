"""Feature-hashing text embeddings (Weinberger et al. 2009, "Feature
Hashing for Large Scale Multitask Learning").

Maps a text column to a fixed-``dim`` dense vector with no trained model
and no vocabulary: every token hashes to a bucket and a ±1 sign, and the
vector is the signed token-count histogram, optionally L2-normalized. This
is the model-free way to DERIVE the ``array<float>`` embedding column the
similarity family (knn / ann_lsh / ann_ivf / semdedup / embedding_near_dup)
consumes — text → hashed embedding → ANN/semantic-dedup runs end to end
with zero external dependencies.

One kernel: a zero-shuffle vectorized pandas UDF. The tokens of an Arrow
batch are hashed once per DISTINCT token (a per-batch memo), per-doc
bucket accumulation is int64, and the single normalization divide is one
f64 op per bucket. Integer accumulation makes the vector independent of
token order and partitioning; the squared norm sums integer-valued doubles
< 2^53, so every summation order yields the same f64. The kernel has no
state, so it runs unchanged on streaming frames.

Hash families (``hash_fn``), both computed in Python ints:

- ``"xxhash64"`` (production default): bucket = pmod(xxhash64(tok, seed),
  dim); sign from the parity of xxhash64(tok, seed+1) — Spark's
  ``F.xxhash64(tok, F.lit(seed))``, reproduced bit for bit by
  :func:`_xxhash64` (so a Column expression over the same tokens is an
  exact reference).
- ``"poly"``: the winnowing family's polynomial-mod string hash (base 257 /
  sign base 263, mod 2^31−1) — every step ANSI-SQL-reproducible, so the
  operator is oracle-able end to end (gate row ``hashed_embedding``).
  Weaker avalanche than xxhash64; gate/oracle work only.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POLY_MOD = 2_147_483_647  # Mersenne prime 2^31 − 1 (winnowing family)
_POLY_BASE_BUCKET = 257
_POLY_BASE_SIGN = 263

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int (Spark's ``XXH64``)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _lit_bytes(v: int) -> bytes:
    """The bytes Spark hashes for ``F.lit(v)``: an int, or a bigint when
    ``v`` is outside int32."""
    return v.to_bytes(4 if -(2**31) <= v < 2**31 else 8, "little", signed=True)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def _xxhash64(tok: str, seed: int) -> int:
    """Spark's signed ``xxhash64(tok, lit(seed))``: the column hashes chain
    from Spark's default seed 42."""
    return _signed(_xxh64(_lit_bytes(seed), _xxh64(tok.encode("utf-8"), 42)))


def _token_hasher(dim: int, seed: int, hash_fn: str, signed: bool):
    """``tok -> (bucket, sign)`` for one hash family."""
    if hash_fn == "xxhash64":
        kb, ks = _lit_bytes(seed), _lit_bytes(seed + 1)

        def bs(tok: str) -> tuple[int, int]:
            h = _xxh64(tok.encode("utf-8"), 42)  # shared by both streams
            b = _signed(_xxh64(kb, h)) % dim  # Python % is pmod for dim > 0
            return b, (1 - 2 * (_xxh64(ks, h) & 1)) if signed else 1

    elif hash_fn == "poly":

        def bs(tok: str) -> tuple[int, int]:
            hb = hs = 0
            for ch in tok:
                c = ord(ch)
                hb = (hb * _POLY_BASE_BUCKET + c) % _POLY_MOD
                hs = (hs * _POLY_BASE_SIGN + c) % _POLY_MOD
            return (hb + seed) % dim, (1 - 2 * ((hs + seed) % 2)) if signed else 1

    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'poly', got {hash_fn!r}")
    return bs


def _hashed_embedding_arrow(
    dim: int, split: str, signed: bool, normalize: bool, seed: int, hash_fn: str
):
    """The embedding kernel — see the module docstring."""
    from pyspark.sql.functions import pandas_udf

    splitter = re.compile(split)  # ``split`` is a regex, as in ``F.split``
    bs = _token_hasher(dim, seed, hash_fn, signed)

    @pandas_udf("array<double>")
    def _emb(texts: pd.Series) -> pd.Series:
        cache: dict[str, tuple[int, int]] = {}
        out = []
        for t in texts:
            counts = np.zeros(dim, dtype=np.int64)
            for w in splitter.split(t):
                if w:
                    v = cache.get(w)
                    if v is None:
                        v = cache[w] = bs(w)
                    counts[v[0]] += v[1]
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
    dim: int = 64,
    out_col: str = "embedding",
    split: str = " ",
    signed: bool = True,
    normalize: bool = True,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Append ``out_col``: the ``dim``-dimensional hashed token-count
    embedding of each row's ``text_col``. Tokens are the pieces of the text
    split on the regex ``split`` (like ``F.split``); empty tokens are
    dropped, and a row with no tokens (or NULL text) embeds to the zero
    vector. ``signed`` toggles the ±1 sign stream (unbiased inner products
    — the feature-hashing trick); ``signed=False`` gives a plain hashed tf
    histogram. A pure zero-shuffle projection (one ``ArrowEvalPython``),
    so it is streaming-safe.
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    emb = _hashed_embedding_arrow(dim, split, signed, normalize, seed, hash_fn)
    return df.withColumn(out_col, emb(F.coalesce(F.col(text_col), F.lit(""))))
