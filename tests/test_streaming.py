"""Structured Streaming: stream ≡ batch extraction, checkpointed
incremental processing, and session-window parity with the batch
sessionizer."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _write_transcripts(spark, path, n_convs, seed_offset=0):
    """Deterministic transcript parquet (ts column, streaming schema)."""
    from ocr_spark.sources.synthetic import synthesize_transcripts
    t = synthesize_transcripts(spark, n_convs=n_convs)
    if seed_offset:
        t = t.withColumn("conv_id", F.concat(F.lit(f"b{seed_offset}-"),
                                             F.col("conv_id")))
    t.select("conv_id", "turn_idx", "role", "text", "tool", "ts") \
        .coalesce(2).write.mode("append").parquet(path)
    return t.count()


def _key_rows(df):
    return {
        (r.conv_id, r.turn_idx, r.source_kind, r.n_items,
         None if r.calc_total is None else round(r.calc_total, 2))
        for r in df.select("conv_id", "turn_idx", "source_kind",
                           "n_items", "calc_total").collect()
    }


def test_stream_extract_matches_batch(spark, tmp_path):
    from ocr_spark.pipeline.extract import extract_turns
    from ocr_spark.streaming import run_stream_extract

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n = _write_transcripts(spark, inp, n_convs=30)

    run_stream_extract(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == n

    batch = extract_turns(spark.read.parquet(inp), salt_partitions=0)
    assert _key_rows(got) == _key_rows(batch)


def test_stream_resume_processes_only_new_files(spark, tmp_path):
    from ocr_spark.streaming import run_stream_extract

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = _write_transcripts(spark, inp, n_convs=20)
    run_stream_extract(spark, inp, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # new files land; the same checkpoint consumes only the delta
    n2 = _write_transcripts(spark, inp, n_convs=10, seed_offset=1)
    metrics = run_stream_extract(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == n1 + n2, "resume must append exactly the new rows"
    # exactly-once per turn: no duplicates across the two passes
    assert got.select("conv_id", "turn_idx").distinct().count() == n1 + n2
    assert metrics["rows_in"] <= n2 + 1  # only the delta entered pass 2


def test_stream_malformed_rows_survive_extraction(spark, tmp_path):
    """The stream path shares the batch stage's JVM-side null-key
    quarantine (test_pipeline's malformed-rows case): a null conv_id or
    turn_idx must not kill the Python task — such rows land at conv ''
    / turn -1 and rows in == rows out holds."""
    from ocr_spark.sources.synthetic import TRANSCRIPT_SCHEMA
    from ocr_spark.streaming import run_stream_extract

    rows = [
        ("c1", 1, "tool", None, "markdown", None),   # null text
        (None, 3, "tool", "plain words", "", None),  # null conv_id
        ("c2", None, "tool", "x", "", None),         # null turn_idx
        (None, None, None, None, None, None),        # everything null
    ]
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.parquet(inp)
    run_stream_extract(spark, inp, out, str(tmp_path / "ckpt"))
    got = spark.read.parquet(out).collect()
    assert len(got) == len(rows)
    quarantined = [r for r in got if r.conv_id == "" or r.turn_idx == -1]
    assert len(quarantined) == 3
    assert all(r.bucket is not None for r in got)


def test_session_window_stream_equals_batch(spark, tmp_path):
    import shutil

    from ocr_spark.streaming import sessionize_by_gap

    events_src = f"{SF_DIR}/events.parquet"
    if not os.path.exists(events_src):
        pytest.skip("testdata not available")
    inp = str(tmp_path / "events")
    os.makedirs(inp)
    shutil.copy(events_src, os.path.join(inp, "events.parquet"))

    batch_df = spark.read.parquet(inp)
    expected = {(r.user_id, r.session_start, r.session_end, r.n_events,
                 r.total_value)
                for r in sessionize_by_gap(batch_df).collect()}

    stream = (spark.readStream.schema(batch_df.schema).parquet(inp))
    q = (sessionize_by_gap(stream).writeStream
         .format("memory").queryName("sessions")
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    q.awaitTermination(300)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events,
            r.total_value)
           for r in spark.sql("SELECT * FROM sessions").collect()}
    # append mode only emits sessions sealed by the watermark; with
    # availableNow over a finite file the final watermark seals all but
    # the tail sessions — everything emitted must be a true session, and
    # coverage must be substantial
    assert got <= expected
    assert len(got) >= 0.8 * len(expected)


def test_watermark_drops_late_events(spark, tmp_path):
    """The late-data contract (SURVEY §2.8): an event older than the
    watermark horizon arriving in a later micro-batch must NOT reopen its
    session. The reference never needed this (single process); streaming
    at scale does."""
    import datetime as dt

    from ocr_spark.streaming import sessionize_by_gap

    inp = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    os.makedirs(inp)
    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(inp)

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(inp).schema).parquet(inp)
        q = (sessionize_by_gap(stream, gap="10 minutes",
                               watermark="30 minutes")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination(300)
        return spark.read.parquet(out_dir)

    # batch 1: a session at t0 and a much later event that advances the
    # watermark far past it (sealing the t0 session)
    write([(1, t0, 7, 1.0), (2, t0 + dt.timedelta(minutes=5), 7, 1.0),
           (3, t0 + dt.timedelta(hours=5), 7, 1.0)])
    res1 = run()
    sealed = [r for r in res1.collect()
              if r.session_start == t0 and r.user_id == 7]
    assert len(sealed) == 1 and sealed[0].n_events == 2

    # batch 2: a LATE event inside the long-sealed t0 session window
    write([(4, t0 + dt.timedelta(minutes=6), 7, 99.0)])
    res2 = run()
    sealed2 = [r for r in res2.collect()
               if r.session_start == t0 and r.user_id == 7]
    # the sealed session is never re-emitted with the late event counted
    assert all(r.n_events == 2 for r in sealed2), \
        "late event beyond the watermark must be dropped"
