#!/usr/bin/env python3
"""spark-submit entrypoint for the extraction job (north_rule deploy shape).

    spark-submit --master local[N] --py-files dist/ocr_spark.zip \
        jobs/extract_job.py --n-convs 2500 [--output DIR] [--salt P] \
        [--warmup-convs 250]

Reads nothing external: the transcripts input is synthesized
deterministically (seed-fixed) at the requested size, materialized
(cached + counted) BEFORE the timed window, then pushed through the
bucket-aligned range shuffle + mapInPandas extraction stage. Prints ONE
JSON line on stdout: {"n_turns": ..., "wall_sec": ..., "turns_per_sec":
..., "parallelism": ...}.

With --output, instead runs the full checkpointed job (write parquet +
manifest) via run_extract_job, and before the summary line prints one
JSON line {"runs": [...]}: the output dir's run catalog (list_runs),
newest run first.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=2500)
    ap.add_argument("--warmup-convs", type=int, default=250)
    ap.add_argument("--salt", type=int, default=None,
                    help="partitions of the bucket-aligned range "
                         "shuffle before the Python stage (default 2x "
                         "parallelism; 0 = map-only, no shuffle)")
    ap.add_argument("--output", default=None,
                    help="run the full checkpointed job into this dir")
    ap.add_argument("--resume", action="store_true",
                    help="with --output: skip buckets already committed "
                         "to the run's manifest (crash recovery)")
    ap.add_argument("--input-parquet", default=None,
                    help="read input from this parquet dir; stage it first "
                         "(synthesize + bucketed write) unless it exists. "
                         "With --salt 0 the job is map-only over the scan — "
                         "the shape of an Iceberg-bucketed input")
    ap.add_argument("--input-files", type=int, default=256,
                    help="file count for --input-parquet staging")
    ap.add_argument("--repeats", type=int, default=1,
                    help="timed repetitions; median is reported")
    ap.add_argument("--run-id", default="bench",
                    help="manifest run id; with --repeats > 1, repetition "
                         "i runs as <run-id>-<i>")
    args = ap.parse_args()

    from pyspark import StorageLevel
    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.extract import (extract_turns, list_runs,
                                            run_extract_job)
    from ocr_spark.sources.synthetic import synthesize_transcripts

    # master/cores come from spark-submit; only workload confs set here
    spark = (SparkSession.builder.appName("ocr-spark-extract")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    par = spark.sparkContext.defaultParallelism

    if args.warmup_convs:
        w = synthesize_transcripts(spark, n_convs=args.warmup_convs)
        extract_turns(w, salt_partitions=args.salt).count()

    import os
    if args.input_parquet:
        # staging (untimed, reused across runs): bucketed parquet layout —
        # what an Iceberg table bucketed by conv_id would give
        if not os.path.isdir(args.input_parquet):
            t = synthesize_transcripts(spark, n_convs=args.n_convs)
            (t.repartition(args.input_files, "conv_id",
                           (t.turn_idx / 64).cast("int"))
             .write.mode("overwrite").parquet(args.input_parquet))
        if args.salt == 0:
            # Map-only: scan partitions ARE the task granularity. Spark's
            # default split sizing (bytesPerCore + 4 MB openCost) aims for
            # ONE wave of tasks per core — stragglers in the payload mix
            # then bound the wall directly, and the larger cluster loses
            # more (its single wave has more stragglers to wait for).
            # Size splits for ~4 waves per core instead, with openCost
            # scaled to small bucketed files.
            total = sum(os.path.getsize(os.path.join(dp, f))
                        for dp, _dirs, files in os.walk(args.input_parquet)
                        for f in files if f.endswith(".parquet"))
            if total > 0:  # unknown layout: keep Spark's default sizing
                target = max(512 << 10, total // (4 * par))
                spark.conf.set("spark.sql.files.maxPartitionBytes",
                               str(target))
                spark.conf.set("spark.sql.files.openCostInBytes",
                               str(64 << 10))
        t = spark.read.parquet(args.input_parquet)
    else:
        t = synthesize_transcripts(spark, n_convs=args.n_convs)
        t = t.persist(StorageLevel.MEMORY_AND_DISK)
    n_turns = t.count()  # materialize before the timed window
    salt = args.salt

    walls = []
    for i in range(max(1, args.repeats)):
        t0 = time.time()
        if args.output:
            run_id = (args.run_id if args.repeats <= 1
                      else f"{args.run_id}-{i}")
            metrics = run_extract_job(spark, t, args.output,
                                      run_id=run_id,
                                      resume=args.resume,
                                      salt_partitions=salt)
            rows = metrics["rows_out"]
            if args.resume:
                # a resumed run extracts only the pending buckets, so the
                # full-input lineage assert does not apply
                print(json.dumps({"resume_metrics": metrics}),
                      file=sys.stderr)
                rows = n_turns
        else:
            rows = extract_turns(t, salt_partitions=salt).count()
        walls.append(time.time() - t0)
        assert rows == n_turns, f"lineage broken: {rows} != {n_turns}"

    if args.output:
        runs = [r.asDict() for r in list_runs(spark, args.output).collect()]
        for r in runs:
            r["committed_at"] = r["committed_at"].isoformat()
        print(json.dumps({"runs": runs}))

    walls.sort()
    median = walls[len(walls) // 2]
    print(json.dumps({
        "n_turns": n_turns,
        "wall_sec": round(median, 3),
        "walls": [round(w, 3) for w in walls],
        "turns_per_sec": round(n_turns / median, 1),
        "parallelism": par,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
