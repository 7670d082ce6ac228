#!/usr/bin/env python
"""Cluster entry point for the rollup+detrend pipeline.

Cluster:
    python -m wotan_spark ... or:
    spark-submit --py-files wotan_spark.zip scripts/run_pipeline.py \
        --input /path/sequences_parquet --root /path/tables \
        --method biweight --window-length 17

Local sandbox (creates its own local[N] session and ships the package):
    python scripts/run_pipeline.py --synth-docs 1000 --root /tmp/tables

Resumable: re-running with the same --root and config skips completed
stages (snapshot fingerprints).  Build the --py-files zip with
``python -c "from wotan_spark.spark.shipping import build_pyfiles_zip as b;
print(b('wotan_spark.zip'))"``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    from wotan_spark.spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="sequences parquet path")
    ap.add_argument("--synth-docs", type=int,
                    help="synthesize this many sequences instead of --input")
    ap.add_argument("--root", required=True, help="table root directory")
    ap.add_argument("--method", default="biweight")
    ap.add_argument("--window-length", type=float, default=17.0)
    ap.add_argument("--tier-factor", type=int, default=10)
    ap.add_argument("--cores", type=int,
                    default=default_cores())
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint dir for iterative operators "
                         "(HDFS/S3 on a cluster); ALWAYS set this on a "
                         "real cluster — omitted means localCheckpoint, "
                         "which does not survive executor loss")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
    from wotan_spark.spark.shipping import ensure_shipped

    active = SparkSession.getActiveSession()
    if active is not None:  # spark-submit provided the session/conf
        spark = active
    else:
        from wotan_spark.spark.session import get_spark
        spark = get_spark(app_name="wotan-pipeline", cores=args.cores)
    ensure_shipped(spark)
    spark.sparkContext.setLogLevel("WARN")

    seq = None
    if args.input:
        seq = spark.read.parquet(args.input)
    elif args.synth_docs:
        from wotan_spark.spark.synth import synth_sequences
        seq = synth_sequences(spark, args.synth_docs)

    cfg = PipelineConfig(method=args.method,
                         window_length=args.window_length,
                         tier_factor=args.tier_factor,
                         checkpoint_dir=args.checkpoint_dir)
    pipe = Pipeline(spark, args.root, cfg)
    out = pipe.run(sequences=seq, run_id=args.run_id)
    lineage = pipe.tables["lineage"].read(spark)
    print(json.dumps({
        "stages_run": out,
        "lineage_rows": lineage.count() if lineage is not None else 0,
        "tier10_rows": pipe.tables["tier10"].read(spark).count(),
        "tier100_rows": pipe.tables["tier100"].read(spark).count(),
    }))


if __name__ == "__main__":
    main()
