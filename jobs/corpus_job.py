#!/usr/bin/env python3
"""spark-submit entrypoint for the full training-data pipeline:
transcripts → extraction → documents → curation → sequence-packing plan.

    spark-submit --master local[N] --conf spark.driver.memory=16g \
        --py-files dist/ocr_spark.zip \
        jobs/corpus_job.py --n-convs 2000 --workdir /tmp/corpus_run

With --resume the extract stage skips buckets already committed to its
manifest (crash recovery); the downstream stages are deterministic pure
functions of the extract output and re-run idempotently. Prints ONE JSON
line (the composed manifest) on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=2000,
                    help="synthesize this many conversations as input")
    ap.add_argument("--input-parquet",
                    help="read transcripts from this parquet dir instead "
                         "of synthesizing")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--run-id", default="corpus")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--salt", type=int, default=None,
                    help="partitions of the extract stage's "
                         "bucket-aligned range shuffle (default 2x "
                         "parallelism; 0 = map-only, no shuffle)")
    ap.add_argument("--shards", type=int, default=None,
                    help="also export the kept docs as this many "
                         "deterministic ordered training shards")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.corpus_pipeline import run_corpus_pipeline

    spark = (SparkSession.builder.appName("ocr-spark-corpus")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    try:
        if args.input_parquet:
            t = spark.read.parquet(args.input_parquet)
        else:
            from ocr_spark.sources.synthetic import synthesize_transcripts
            t = synthesize_transcripts(spark, n_convs=args.n_convs)
        manifest = run_corpus_pipeline(
            spark, t, args.workdir, run_id=args.run_id,
            resume=args.resume, salt_partitions=args.salt,
            n_shards=args.shards)
        print(json.dumps(manifest, sort_keys=True))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
