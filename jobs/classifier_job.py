#!/usr/bin/env python3
"""spark-submit entrypoint for the persisted quality classifier.

    spark-submit --master local[N] --py-files dist/ocr_spark.zip \
        jobs/classifier_job.py train --labeled /path/labeled \
        --model /tmp/quality_cls
    spark-submit ... jobs/classifier_job.py train --builtin-corpus \
        --model /tmp/quality_cls
    spark-submit ... jobs/classifier_job.py score \
        --input /root/testdata/sf0.01 --model /tmp/quality_cls

train: learn integer perceptron weights on a labeled parquet
({--labeled}/*.parquet with columns text, label) — or, with
--builtin-corpus, on the deterministic in-module corpus — and commit
the weight table + manifest. score: gate {input}/documents.parquet with
the committed model (map-only) and print keep/drop accounting. Each
mode prints ONE JSON line on stdout.
"""
from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["train", "score"])
    ap.add_argument("--model", required=True, help="artifact dir")
    ap.add_argument("--labeled", default=None,
                    help="train: parquet dir with (text, label) rows")
    ap.add_argument("--builtin-corpus", action="store_true",
                    help="train: use the deterministic in-module corpus")
    ap.add_argument("--input", default=None,
                    help="score: dir containing documents.parquet")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("ocr-spark-classifier")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    try:
        if args.mode == "train":
            from ocr_spark.pipeline.classifier import train_classifier
            if args.builtin_corpus:
                from ocr_spark.functions.classifier import training_corpus
                labeled = spark.createDataFrame(
                    training_corpus(), "text string, label int")
            elif args.labeled:
                labeled = spark.read.parquet(args.labeled)
            else:
                raise SystemExit("train needs --labeled or --builtin-corpus")
            print(json.dumps(
                train_classifier(spark, labeled, args.model),
                sort_keys=True))
        else:
            if not args.input:
                raise SystemExit("score needs --input")
            from ocr_spark.pipeline.classifier import score_with_model
            t0 = time.time()
            docs = (spark.read.parquet(f"{args.input}/documents.parquet")
                    .where(F.col("doc_id").isNotNull()))
            agg = (score_with_model(spark, args.model, docs)
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("pred").alias("n_kept"))
                   .collect()[0])
            print(json.dumps({
                "n_docs": agg.n_docs,
                "n_kept": int(agg.n_kept or 0),
                "n_dropped": agg.n_docs - int(agg.n_kept or 0),
                "wall_ms": int((time.time() - t0) * 1000),
            }, sort_keys=True))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
