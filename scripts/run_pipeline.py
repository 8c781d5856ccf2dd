"""Cluster entry point: run the full dedupe pipeline via spark-submit.

    ZIP=$(python -c 'from go_dedupe_spark.session import package_zip; print(package_zip())')
    spark-submit --py-files "$ZIP" scripts/run_pipeline.py \
        --input /path/to/files_parquet_or_iceberg \
        --checkpoint-root /path/to/checkpoints \
        --output /path/to/resolution_out \
        [--snapshot SNAP] [--threshold 0.52] [--max-block 64]

On a cluster, add the usual --master/--deploy-mode/--num-executors
flags; the session builder only creates a local session when no master
is configured (getOrCreate respects spark-submit's conf). The
north_rule deployment shape (spark-submit --py-files, stage
checkpoints with lineage + metrics, idempotent resume keyed on
input snapshot + config fingerprint) is all wired here.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="files table: parquet path (or swap in an Iceberg scan)")
    ap.add_argument("--checkpoint-root", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", default="adhoc",
                    help="input snapshot id (e.g. Iceberg snapshot) for resume keying")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--max-block", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from go_dedupe_spark.plans.checkpoint import CheckpointStore
    from go_dedupe_spark.plans.pipeline import PipelineConfig, run_pipeline

    spark = SparkSession.builder.appName("go-dedupe-spark").getOrCreate()

    kwargs = {}
    if args.threshold is not None:
        kwargs["threshold"] = args.threshold
    if args.max_block is not None:
        kwargs["max_block"] = args.max_block
    cfg = PipelineConfig(**kwargs)

    files = spark.read.parquet(args.input)
    store = CheckpointStore(args.checkpoint_root)
    result = run_pipeline(spark, files, cfg, store=store,
                          input_snapshot=args.snapshot)
    result.resolution.write.mode("overwrite").parquet(args.output)

    print(json.dumps({
        "stages": [m["stage"] for m in store.metrics()],
        "metrics": store.metrics(),
    }, default=str))


if __name__ == "__main__":
    main()
