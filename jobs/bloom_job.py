#!/usr/bin/env python3
"""spark-submit entrypoint for the persisted Bloom-filter artifact.

    spark-submit --master local[N] --py-files dist/ocr_spark.zip \
        jobs/bloom_job.py build --input /root/testdata/sf0.01 \
        --bloom /tmp/bloom
    spark-submit ... jobs/bloom_job.py check --input ... --bloom ...
    spark-submit ... jobs/bloom_job.py append --input ... --bloom ...

build: fold every document of {input}/documents.parquet into the filter
and commit bits + manifest. check: probe the batch slice
(doc_id % 10 == --batch-residue) and print verdict counts (bloom_dup /
clean). append: OR that slice's positions into the filter. Each mode
prints ONE JSON line on stdout.
"""
from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["build", "check", "append"])
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--bloom", required=True, help="filter artifact dir")
    ap.add_argument("--batch-residue", type=int, default=3,
                    help="check/append operate on doc_id %% 10 == residue")
    ap.add_argument("--batch-tag", default=None,
                    help="stable crawl/snapshot id; a retried append of "
                         "the same tag skips the rewrite")
    ap.add_argument("--extra-bits", type=int, default=None,
                    help="build-time sizing margin (default: "
                         "corpus.BLOOM_EXTRA_BITS)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("ocr-spark-bloom")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    from ocr_spark.functions.hashing import BLOOM_EXTRA_BITS
    from ocr_spark.pipeline.bloom_filter import (append_batch,
                                                 build_bloom_filter,
                                                 check_batch)

    docs = (spark.read.parquet(f"{args.input}/documents.parquet")
            .where(F.col("doc_id").isNotNull()))
    t0 = time.time()
    if args.mode == "build":
        extra = (BLOOM_EXTRA_BITS if args.extra_bits is None
                 else args.extra_bits)
        out = dict(build_bloom_filter(spark, docs, args.bloom,
                                      extra_bits=extra))
        out["mode"] = "build"
    else:
        batch = docs.where(F.col("doc_id") % 10 == args.batch_residue)
        if args.mode == "check":
            # aggregate Spark-side: the per-doc verdict frame is batch-
            # sized and must never ship through the driver (default 1g)
            row = (check_batch(spark, args.bloom, batch)
                   .agg(F.count("*").alias("n"),
                        F.sum(F.col("bloom_dup").cast("long")).alias("d"))
                   .collect()[0])
            out = {
                "mode": "check",
                "n_batch": int(row.n),
                "n_bloom_dup": int(row.d or 0),
                "n_clean": int(row.n) - int(row.d or 0),
                "wall_ms": int((time.time() - t0) * 1000),
            }
        else:
            out = dict(append_batch(spark, args.bloom, batch,
                                    batch_tag=args.batch_tag))
            out["mode"] = "append"
    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
