#!/usr/bin/env python
"""spark-submit driver for the staged KG pipeline.

spark-submit runs a plain .py application (it has no `-m` module mode), and
the pipeline module's relative imports require package context — so this
thin driver is the submittable entry point:

    python scripts/package_pyfiles.py dist/engine.zip
    spark-submit \
        --py-files dist/engine.zip \
        [--packages/--conf for Iceberg, see README] \
        scripts/run_pipeline_cluster.py --workdir <dir> [--input <parquet>] \
        [--messages N] [--chunks N] [--verify-lineage]

Uses the ambient SparkSession that spark-submit provides (cluster master,
executor sizing and catalog confs come from submit args, not code).
"""

from __future__ import annotations

import argparse
import json

from amharic_ecommerce_data_extractor_spark.plans.pipeline import (
    CHUNKS_HELP, run_pipeline,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--messages", type=int, default=5000)
    ap.add_argument("--input", default=None)
    ap.add_argument("--chunks", type=int, default=None, help=CHUNKS_HELP)
    ap.add_argument("--verify-lineage", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg_pipeline").getOrCreate()
    try:
        summary = run_pipeline(spark, args.workdir, n_messages=args.messages,
                               input_path=args.input, n_chunks=args.chunks,
                               verify_lineage=args.verify_lineage)
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
