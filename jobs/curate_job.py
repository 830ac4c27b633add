#!/usr/bin/env python3
"""spark-submit entrypoint for the corpus curation pipeline.

    spark-submit --master local[N] --py-files dist/ocr_spark.zip \
        jobs/curate_job.py --input /root/testdata/sf0.01 --output /tmp/curated

Runs documents → quality gate → exact dedup → chunk near-dup drop →
decontamination → stratified sampling → curated parquet partitioned by
lang + funnel manifest (per-stage counts, thresholds, curator version).
With --grain conv the same input curates at the CONVERSATION grain
instead (pipeline/curate_convs.py: assembly → user-turn/char gate →
exact dedup → MinHash near-dup → sampling; whole conversations kept).
Prints ONE JSON line (the manifest) on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--grain", choices=["doc", "conv"], default="doc")
    ap.add_argument("--transcripts-parquet", default=None,
                    help="with --grain conv: parquet of REAL transcripts "
                         "(conv_id, turn_idx, role, text, tool, ts) to "
                         "curate instead of the transcripts synthesized "
                         "from documents.parquet (the oracle-paired demo "
                         "shape)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("ocr-spark-curate")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    try:
        if args.grain == "conv":
            from ocr_spark.pipeline.curate_convs import run_conv_curation
            if args.transcripts_parquet:
                t = spark.read.parquet(args.transcripts_parquet)
            else:
                from ocr_spark.sources.synthetic import agent_transcripts
                t = agent_transcripts(spark, args.input)
            manifest = run_conv_curation(spark, t, args.output)
        else:
            from ocr_spark.pipeline.curate import run_curation
            docs = spark.read.parquet(f"{args.input}/documents.parquet")
            manifest = run_curation(spark, docs, args.output)
        print(json.dumps(manifest, sort_keys=True))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
