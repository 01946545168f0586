"""Tables for the curation workload: ``documents`` and ``embeddings`` with
the schema of the gate's testdata (see ``mrmr_spark/gate.py``), generated here
so that a run reads nothing outside its checkout. (The selection workload's
corpus comes from the library's own transcript generator.)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """Uniform 10-100 word documents over a 30-word vocabulary. A few are
    exact copies and about 5% carry a span copied from another document
    behind a ``dup`` marker, so the dedup operators have matches to find."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        src = words[rng.integers(0, n_docs)]
        span = src[: rng.integers(5, 13)]
        words[i] = words[i][:90] + ["dup"] + span
    for i in rng.choice(n_docs, size=max(1, n_docs // 600), replace=False):
        words[i] = list(words[rng.integers(0, n_docs)])
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def embeddings_table(n_vecs: int, seed: int) -> pa.Table:
    """Isotropic unit vectors with a uniform 10-class label."""
    rng = np.random.default_rng(seed + 1)
    x = rng.standard_normal((n_vecs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def write_curation_tables(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents_table(n_docs, seed), f"{sf_dir}/documents.parquet")
    pq.write_table(embeddings_table(n_vecs, seed), f"{sf_dir}/embeddings.parquet")
