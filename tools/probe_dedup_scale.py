"""Dedup-flow scale probe: planted near-dup corpus -> winnow candidates ->
transitive clusters -> canonical corpus, timed per stage, with exact
verification of every planted cluster.

The corpus is N_TEMPLATES x N_VARIANTS synthetic documents: each variant
shares its template's 140-char core (so winnowing fingerprints collide
within a cluster) and carries a distinct suffix (so exact dedup would NOT
collapse it). Correctness check: `dedup_documents` must keep exactly one
canonical per template, and `connected_components` must recover exactly
the planted clusters.

Usage:
  MRMR_PROBE_TEMPLATES=50000 MRMR_PROBE_VARIANTS=5 \
  MRMR_PROBE_CKPT_DIR=/tmp/cc_ckpt python tools/probe_dedup_scale.py

MRMR_PROBE_CKPT_DIR set -> the reliable checkpoint() tier is exercised
(the 100 TB configuration); unset -> localCheckpoint fast path.
MRMR_PROBE_VERIFY=<jaccard threshold> -> run the exact
`verify_candidate_pairs` stage between candidate generation and
clustering (this is what eliminates fingerprint-hash-collision false
pairs — without it, a 500k-doc run measured ~530 spurious pairs from
base-257 mod 2^31-1 collisions, merging 22 clusters wrongly).
MRMR_PROBE_VERIFY_REPEATS=<k> re-times the verify stage k times in one
session and reports min + the series (warm-vs-cold, BENCH.md §6b).
Prints one JSON line with per-stage seconds and the verification verdict.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TEMPLATES = int(os.environ.get("MRMR_PROBE_TEMPLATES", "50000"))
N_VARIANTS = int(os.environ.get("MRMR_PROBE_VARIANTS", "5"))
CKPT_DIR = os.environ.get("MRMR_PROBE_CKPT_DIR") or None
VERIFY = os.environ.get("MRMR_PROBE_VERIFY")
VERIFY_THRESHOLD = float(VERIFY) if VERIFY else None
VERIFY_REPEATS = int(os.environ.get("MRMR_PROBE_VERIFY_REPEATS", "1"))


def build_corpus() -> pd.DataFrame:
    """Deterministic planted corpus, vectorized. doc_id = t * N_VARIANTS + v
    so the canonical (min id) of template t is t * N_VARIANTS."""
    # Core per template built from a fixed-width 8-hex salt (bijective
    # 32-bit multiplicative hash of the template id) woven into every token.
    # WINNOW_K=20 means a shared fingerprint needs a 20-char identical
    # substring; every 20-char window here contains at least one full salt,
    # so fingerprints only collide within a template and the planted
    # clusters are exactly the recoverable truth. (Earlier drafts used the
    # raw decimal id in tokens and " variant-v-of-t" suffixes — templates
    # sharing id prefixes then shared 20-char runs like
    # "end variant-3-of-912" and merged.)
    def salt(t: int) -> str:
        return format((t * 2654435761) % (1 << 32), "08x")

    cores = np.array(
        [" ".join(f"{salt(t)}q{j}" for j in range(10)) for t in range(N_TEMPLATES)]
    )
    t = np.repeat(np.arange(N_TEMPLATES, dtype=np.int64), N_VARIANTS)
    v = np.tile(np.arange(N_VARIANTS, dtype=np.int64), N_TEMPLATES)
    doc_salt = np.array([salt(int(x)) for x in t])
    suffix = np.char.add(
        np.char.add(" v", v.astype(str)), np.char.add("w", doc_salt)
    )
    return pd.DataFrame(
        {
            "doc_id": t * N_VARIANTS + v,
            "text": np.char.add(cores[t].astype(str), suffix),
        }
    )


def main():
    from mrmr_spark.operators.dedup import (
        connected_components,
        dedup_documents,
        verify_candidate_pairs,
    )
    from mrmr_spark.operators.textstats import winnow_candidate_pairs
    from mrmr_spark.session import get_spark

    spark = get_spark(app_name="probe-dedup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    pdf = build_corpus()
    docs = spark.createDataFrame(pdf).repartition(32, "doc_id").persist()
    n_docs = docs.count()  # materialize before timing the operators

    out: dict = {
        "n_docs": n_docs,
        "n_templates": N_TEMPLATES,
        "n_variants": N_VARIANTS,
        "checkpoint_tier": "reliable" if CKPT_DIR else "local",
    }

    t0 = time.perf_counter()
    pin: list = []
    pairs = winnow_candidate_pairs(docs, min_shared=2, max_df=50, pin=pin)
    pairs = pairs.persist()
    out["n_pairs"] = pairs.count()
    out["winnow_sec"] = round(time.perf_counter() - t0, 2)
    for h in pin:
        h.unpersist()

    if VERIFY_THRESHOLD is not None:
        series = []
        for _ in range(VERIFY_REPEATS):
            t0 = time.perf_counter()
            vpin: list = []
            verified = verify_candidate_pairs(
                docs, pairs, threshold=VERIFY_THRESHOLD, pin=vpin
            ).persist()
            out["n_verified"] = verified.count()
            series.append(round(time.perf_counter() - t0, 2))
            for h in vpin:
                h.unpersist()
            if len(series) < VERIFY_REPEATS:
                verified.unpersist()
        out["verify_sec"] = min(series)
        out["verify_series"] = series
        pairs.unpersist()
        pairs = verified

    t0 = time.perf_counter()
    labels = connected_components(
        pairs, src="id_a", dst="id_b", checkpoint_dir=CKPT_DIR
    ).persist()
    out["n_labeled"] = labels.count()
    out["cc_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    kept = dedup_documents(docs, pairs, checkpoint_dir=CKPT_DIR).persist()
    out["n_kept"] = kept.count()
    out["dedup_sec"] = round(time.perf_counter() - t0, 2)

    # exact verification: one canonical per template, and it is the min id
    from pyspark.sql import functions as F

    bad_count = out["n_kept"] != N_TEMPLATES
    wrong_canonical = (
        kept.where((F.col("doc_id") % N_VARIANTS) != 0).count() if not bad_count else -1
    )
    out["verified"] = (not bad_count) and wrong_canonical == 0
    out["wrong_canonicals"] = wrong_canonical
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
