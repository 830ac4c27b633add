#!/usr/bin/env python3
"""spark-submit entrypoint for the persisted banded MinHash dedup index.

    spark-submit --master local[N] --py-files dist/ocr_spark.zip \
        jobs/dedup_index_job.py build --input /root/testdata/sf0.01 \
        --index /tmp/dedup_index
    spark-submit ... jobs/dedup_index_job.py check --input ... --index ...
    spark-submit ... jobs/dedup_index_job.py append --input ... --index ...

build: band every document of {input}/documents.parquet and commit the
(band, band_hash) bucket index + manifest. check: run the batch slice
(doc_id % 10 == --batch-residue) against the index and print verdict
counts. append: merge that slice's bands into the index. Each mode
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
    ap.add_argument("--index", required=True, help="index artifact dir")
    ap.add_argument("--batch-residue", type=int, default=3,
                    help="check/append operate on doc_id %% 10 == residue")
    ap.add_argument("--batch-tag", default=None,
                    help="stable crawl/snapshot id; a retried append of "
                         "the same tag is a no-op")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("ocr-spark-dedup-index")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    try:
        docs = (spark.read.parquet(f"{args.input}/documents.parquet")
                .where(F.col("doc_id").isNotNull()))
        # pmod, not %: Spark's % keeps the dividend's sign, and
        # production doc_ids are md5-longs uniform over signed int64 —
        # plain % would silently exclude every negative id from any
        # batch slice with residue 1-9
        residue = F.pmod(F.col("doc_id"), F.lit(10))
        batch = docs.where(residue == args.batch_residue)
        if args.mode == "build":
            from ocr_spark.pipeline.dedup_index import build_dedup_index
            corpus = docs.where(residue != args.batch_residue)
            print(json.dumps(build_dedup_index(spark, corpus, args.index),
                             sort_keys=True))
        elif args.mode == "check":
            from ocr_spark.functions.minhash import N_BANDS
            from ocr_spark.pipeline.dedup_index import check_batch
            t0 = time.time()
            rows = check_batch(spark, args.index, batch).collect()
            print(json.dumps({
                "n_batch": len(rows),
                "n_dup": sum(r.is_dup for r in rows),
                "n_full_collision": sum(r.n_band_hits >= N_BANDS
                                        for r in rows),
                "wall_ms": int((time.time() - t0) * 1000),
            }, sort_keys=True))
        else:
            from ocr_spark.pipeline.dedup_index import append_batch
            print(json.dumps(
                append_batch(spark, args.index, batch,
                             batch_tag=args.batch_tag), sort_keys=True))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
