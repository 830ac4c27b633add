#!/usr/bin/env python3
"""spark-submit entrypoint for the persisted BPE tokenizer.

    spark-submit --master local[N] --py-files dist/ocr_spark.zip \
        jobs/tokenizer_job.py train --input /root/testdata/sf0.01 \
        --tokenizer /tmp/bpe_tok --n-merges 32
    spark-submit ... jobs/tokenizer_job.py apply --input ... --tokenizer ...
    spark-submit ... jobs/tokenizer_job.py pack --input ... --tokenizer ...

train: learn the merge table on {input}/documents.parquet and commit it.
apply: tokenize the corpus with the committed merges (map-only) and print
aggregate token accounting. pack: sequence-packing placement at the
committed tokenizer's granularity (pack_with_tokenizer) with per-shard
sequence accounting. Each mode prints ONE JSON line on stdout.
"""
from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["train", "apply", "pack"])
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--tokenizer", required=True, help="artifact dir")
    ap.add_argument("--n-merges", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("ocr-spark-tokenizer")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    try:
        docs = (spark.read.parquet(f"{args.input}/documents.parquet")
                .where(F.col("doc_id").isNotNull()))
        if args.mode == "train":
            from ocr_spark.pipeline.tokenizer import train_tokenizer
            print(json.dumps(
                train_tokenizer(spark, docs, args.tokenizer,
                                n_merges=args.n_merges), sort_keys=True))
        elif args.mode == "apply":
            from ocr_spark.pipeline.tokenizer import apply_tokenizer
            t0 = time.time()
            agg = (apply_tokenizer(spark, args.tokenizer, docs)
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("n_words").alias("words_total"),
                        F.sum("n_bpe_tokens").alias("bpe_tokens_total"))
                   .collect()[0])
            print(json.dumps({
                "n_docs": agg.n_docs,
                "words_total": agg.words_total,
                "bpe_tokens_total": agg.bpe_tokens_total,
                "wall_ms": int((time.time() - t0) * 1000),
            }, sort_keys=True))
        else:
            from ocr_spark.functions.frames import PACK_SEQ_LEN
            from ocr_spark.pipeline.tokenizer import pack_with_tokenizer
            t0 = time.time()
            agg = (pack_with_tokenizer(spark, args.tokenizer, docs)
                   .groupBy()
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("n_tokens_b").alias("bpe_tokens_total"),
                        F.count_distinct("lang", "source")
                        .alias("n_shards"),
                        F.max(F.col("first_seq") + F.col("n_seqs"))
                        .alias("max_shard_seqs"))
                   .collect()[0])
            print(json.dumps({
                "n_docs": agg.n_docs,
                "bpe_tokens_total": agg.bpe_tokens_total,
                "n_shards": agg.n_shards,
                "max_shard_seqs": agg.max_shard_seqs,
                "seq_len": PACK_SEQ_LEN,
                "wall_ms": int((time.time() - t0) * 1000),
            }, sort_keys=True))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
