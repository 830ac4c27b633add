"""Streaming extraction + sessionization.

Design (Spark-first):
- The extraction stage is STATELESS (one output row per input turn), so
  the exact same mapInPandas stage the batch job uses runs unchanged on a
  streaming DataFrame — one code path, two execution modes.
- Incremental processing: Trigger.AvailableNow over a parquet file
  source. The streaming checkpoint records which input files were
  consumed, so re-running the job after new files land processes ONLY
  the new files — the set-oriented analog of the reference's
  run/draft resume (RunStore.php:33-37), complementing the batch job's
  bucket-manifest resume (pipeline/extract.py).
- Sessionization: session_window(gap) with a watermark — the streaming
  twin of the reference's Y-gap block grouping
  (TextBlockParser.php:219-263, threshold :232) and of the batch
  w3_gap_sessionize operator (lag+cumsum window).

Scale notes: a streaming shuffle is per-micro-batch; state for session
windows is bounded by the watermark horizon. maxFilesPerTrigger bounds
micro-batch size so executor memory is independent of backlog depth at
100 TB (backpressure by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synthetic import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript turns (schema fixed up front —
    streaming sources never infer)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_stream_extract(spark: SparkSession, input_dir: str,
                       output_dir: str, checkpoint_dir: str,
                       max_files_per_trigger: int | None = None,
                       timeout_sec: int = 300) -> dict:
    """Run one AvailableNow pass: consume all input files not yet in the
    checkpoint, extract, append parquet output. Returns progress metrics.

    Calling this again after new files land in input_dir processes only
    the new files (exactly-once per file via the streaming checkpoint).

    The stage is the batch job's own (pipeline/extract.extract_turns,
    null-key quarantine included) with salt_partitions=0: map-only, the
    micro-batch file split is the parallelism unit, so batch and stream
    outputs are row-for-row comparable."""
    from ..pipeline.extract import extract_turns
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    extracted = extract_turns(stream, salt_partitions=0)
    q = (extracted.writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        # returning partial metrics while the query keeps appending (and
        # holding the checkpoint) would hand the caller a live race
        q.stop()
        raise TimeoutError(
            f"AvailableNow pass exceeded {timeout_sec}s; query stopped")
    progress = q.lastProgress
    return {
        "batches": q.recentProgress and len(q.recentProgress) or 0,
        # source-side count (numInputRows); the extraction stage is 1:1
        # today but sink-row counts must come from the output, not here
        "rows_in": sum(int(p["numInputRows"])
                       for p in (q.recentProgress or [])),
        "last_progress": dict(progress) if progress else {},
    }


def sessionize_by_gap(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour",
                      ts_col: str = "ts", key_col: str = "user_id") -> DataFrame:
    """Gap-based session windows keyed by user (W3 ≙ session_window).

    Works on both batch and streaming DataFrames: in streaming the
    watermark bounds session state (late rows beyond it are dropped —
    the explicit late-data contract the reference never needed, being
    single-process); in batch the same expression aggregates directly,
    which is how the test proves stream ≡ batch."""
    if events.isStreaming:
        # watermarks require an instant-typed event time (NTZ casts up);
        # batch keeps the ntz column as-is — the instant cast would
        # shift session bounds by the session-tz DST offset while the
        # tz-free oracle (W3B_SQL) does wall-clock arithmetic
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                       F.col(key_col))
        .agg(F.count("*").alias("n_events"),
             # integer cents (CLAUDE.md money invariant): streaming
             # partial/state-store aggregation adds in a different order
             # than batch — ROUND of a double sum can flip a cent
             (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))
                    .cast("long")) / 100.0).alias("total_value"))
        .select(F.col(key_col),
                F.col("session.start").alias("session_start"),
                F.col("session.end").alias("session_end"),
                "n_events", "total_value")
    )
