"""spark-submit entrypoint: resumable transcript FE + mRMR selection.

Cluster usage (the production shape the engine targets):

    zip -r mrmr_spark.zip mrmr_spark
    spark-submit --py-files mrmr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        --conf spark.sql.codegen.maxFields=2000 \\
        --conf spark.sql.codegen.cache.maxEntries=2000 \\
        tools/run_pipeline.py --input <iceberg-or-parquet path> \\
        --checkpoint-dir /lake/checkpoints/run1 --k 10

Local smoke:  python tools/run_pipeline.py --input /tmp/mrmr_bench/transcripts_sf0.1.parquet
Kill it between phases and re-run: completed phases resume from their
manifests (per-partition lineage + metrics inside).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcript table (parquet dir/file or iceberg table)")
    ap.add_argument("--checkpoint-dir", default="/tmp/mrmr_pipeline")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--session-gap-s", type=float, default=1800.0)
    ap.add_argument("--rich", action="store_true", help="wide feature set")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mrmr_spark.fe import FEATURE_COLS, build_features
    from mrmr_spark.fe.pipeline import RICH_EXTRA_COLS
    from mrmr_spark.plans.checkpoint import PhaseRunner
    from mrmr_spark.select import select_mrmr

    spark = SparkSession.builder.getOrCreate() if SparkSession.getActiveSession() else None
    if spark is None:
        from mrmr_spark.session import get_spark

        spark = get_spark(app_name="mrmr-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    feat_cols = FEATURE_COLS + (RICH_EXTRA_COLS if args.rich else [])

    def read_phase(_):
        if args.input.startswith("iceberg:"):
            return spark.read.format("iceberg").load(args.input[len("iceberg:"):])
        return spark.read.parquet(args.input)

    def fe_phase(prev):
        return build_features(prev, session_gap_s=args.session_gap_s, rich=args.rich).where(
            F.col("target_next_gap").isNotNull()
        )

    runner = PhaseRunner(spark, args.checkpoint_dir, config=vars(args))
    feats = runner.run(
        [("ingest", read_phase), ("features", fe_phase)], key_cols=["conv_id"]
    )

    res = select_mrmr(feats, feat_cols, "target_next_gap", args.k, task="regression")
    out = {
        "selected": res.names,
        "relevance": {n: float(res.relevance[i]) for n, i in zip(res.names, res.indices)},
        "phases": [
            {k: m[k] for k in ("phase", "n_rows", "n_partitions", "wall_s", "manifest_id")}
            for m in runner.manifests
        ],
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
