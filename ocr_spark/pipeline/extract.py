"""The extraction job: transcripts → extracted_turns (+ checkpoint manifest).

Spark plan (SURVEY.md §3.1 restatement, §4 custom work):

  read transcripts
    → [optional] bucket-aligned range shuffle on
      (bucket, conv_id, turn_idx block)
    → mapInPandas extraction stage (Arrow batches; kernels from
      ocr_spark.kernels — all per-row logic lives here, nothing per-row in
      the driver)
    → one output row per input turn; with a tally, the stage counts each
      bucket's rows in, rows out and rejected as it produces them
    → write parquet partitioned by resume bucket
    → the driver checks rows_in == rows_out per bucket and commits one
      manifest part (rows_in/out/rejected, wall_ms, version) for the
      buckets this run wrote

Scale notes:
- The extraction map is embarrassingly parallel; the shuffle exists to
  split *hot conversations* (1% of convs carry 100× turns in the synthetic
  skew model) across tasks, and to line the tasks up with the output
  buckets. It is a range partitioning whose key starts with the resume
  bucket: Spark samples the input and cuts it into row-balanced,
  contiguous ranges, so each task holds a run of whole buckets (plus the
  edge of its neighbours') and its fused partitionBy("bucket") write opens
  a few parquet writers — about n_buckets + n files per job, not up to
  n × n_buckets as with a hash salt. A conversation larger than one task's
  share is cut at turn_idx block boundaries (consecutive turns stay
  together for Arrow-batch locality). It shuffles only the input rows,
  once, before the expensive Python stage. For inputs already well
  bucketed (e.g. an Iceberg table bucketed by conv_id), and for the stream
  path, pass salt_partitions=0 to skip the shuffle entirely and run
  map-only over the scan partitions.
- resume bucket = first 8 hex chars of md5(conv_id) mod n_buckets (see
  bucket_expr): stable across runs, cluster sizes and engines (task
  partition ids are not), so a restarted job can anti-join completed
  buckets from the manifest and process only the rest (RunStore.php:20-31
  atomic-draft analog, set-oriented).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               MapType, StringType, StructField, StructType,
                               TimestampType)

from .. import EXTRACTOR_VERSION
from . import artifact

ITEM_SCHEMA = StructType([
    StructField("code", StringType()),
    StructField("name", StringType()),
    StructField("description", StringType()),
    StructField("qty", DoubleType()),
    StructField("unit", StringType()),
    StructField("unit_price", DoubleType()),
    StructField("total", DoubleType()),
    StructField("metadata", MapType(StringType(), StringType())),
])

RECORD_SCHEMA = StructType([
    StructField("source_file", StringType()),
    StructField("format_detected", StringType()),
    StructField("supplier_name", StringType()),
    StructField("customer_name", StringType()),
    StructField("invoice_date", StringType()),
    StructField("invoice_number", StringType()),
    StructField("declared_total", DoubleType()),
    StructField("calc_total", DoubleType()),
    StructField("currency", StringType()),
    StructField("items", ArrayType(ITEM_SCHEMA)),
    StructField("metadata", MapType(StringType(), StringType())),
])

SPAN_SCHEMA = StructType([
    StructField("field", StringType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
])

EXTRACT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("ts", TimestampType()),
    StructField("bucket", IntegerType()),
    StructField("source_kind", StringType()),
    StructField("confidence", DoubleType()),
    StructField("clean_text", StringType()),
    StructField("spans", ArrayType(SPAN_SCHEMA)),
    StructField("records", ArrayType(RECORD_SCHEMA)),
    StructField("n_items", IntegerType()),
    StructField("calc_total", DoubleType()),
    StructField("warnings", ArrayType(StringType())),
    StructField("is_document", IntegerType()),
    StructField("rejected", IntegerType()),
])

MANIFEST_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("source_snapshot_id", StringType()),
    StructField("bucket", IntegerType()),
    StructField("rows_in", LongType()),
    StructField("rows_out", LongType()),
    StructField("rows_rejected", LongType()),
    StructField("extractor_version", StringType()),
    StructField("wall_ms", LongType()),
    StructField("committed_at", TimestampType()),
])


def _ext_for(tool: str, text: str) -> str:
    """Payload kind per FIXTURES.md §1: tool column decides the 'file ext'."""
    if tool == "doc_parser":
        return "json"
    if tool == "markdown":
        return "md"
    if tool == "html":
        return "html"
    if tool == "pdf" or text.startswith("%PDF-"):
        return "pdf"
    return "txt"


def _coerce_record(inv: dict) -> dict:
    """Kernel dict → Arrow-friendly record (stringify metadata values)."""
    items = []
    for it in inv.get("items") or []:
        items.append({
            "code": it["code"], "name": it["name"],
            "description": it["description"],
            "qty": float(it["qty"]), "unit": it["unit"],
            "unit_price": float(it["unit_price"]),
            "total": float(it["total"]),
            "metadata": {str(k): str(v) for k, v in (it.get("metadata") or {}).items()},
        })
    return {
        "source_file": inv.get("source_file"),
        "format_detected": inv.get("format_detected"),
        "supplier_name": inv.get("supplier_name"),
        "customer_name": inv.get("customer_name"),
        "invoice_date": inv.get("invoice_date"),
        "invoice_number": inv.get("invoice_number"),
        "declared_total": (None if inv.get("declared_total") is None
                           else float(inv["declared_total"])),
        "calc_total": float(inv.get("calc_total") or 0.0),
        "currency": inv.get("currency"),
        "items": items,
        "metadata": {str(k): str(v) for k, v in (inv.get("metadata") or {}).items()},
    }


def _warnings_for(invoices: list[dict]) -> list[str]:
    """Validator-style flags (InvoiceDataValidator.php:439-508 semantics,
    warnings only — the reference flow runs with validation off, so these
    are side-band flags and never mutate the record)."""
    warns = []
    for inv in invoices:
        d, c = inv.get("declared_total"), inv.get("calc_total") or 0.0
        if d is not None and d > 0 and abs(d - c) / d > 0.05:
            warns.append("TOTAL_MISMATCH")
        for it in inv.get("items") or []:
            if it["qty"] > 1e5 or it["unit_price"] > 1e7 or it["total"] > 1e8:
                warns.append("VALUE_OUT_OF_RANGE")
            t = it["total"]
            if t > 0 and abs(it["qty"] * it["unit_price"] - t) / t > 0.05:
                warns.append("ITEM_MATH_MISMATCH")
    return warns


class BucketTally(AccumulatorParam):
    """Accumulator of per-bucket lineage: {bucket: [rows_in, rows_out,
    rows_rejected]}, summed over tasks."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        for bucket, counts in value2.items():
            have = value1.get(bucket)
            value1[bucket] = (list(counts) if have is None
                              else [a + b for a, b in zip(have, counts)])
        return value1


def _count_batch(counts: dict, pdf, frame) -> None:
    """Add one batch's rows in (from the input batch), rows out and
    rejected (from the frame the stage emits) to `counts`, per bucket."""
    for bucket, n in pdf["bucket"].value_counts().items():
        counts.setdefault(int(bucket), [0, 0, 0])[0] += int(n)
    outs = frame.groupby("bucket")["rejected"].agg(["size", "sum"])
    for bucket, n, rejected in zip(outs.index, outs["size"], outs["sum"]):
        c = counts.setdefault(int(bucket), [0, 0, 0])
        c[1] += int(n)
        c[2] += int(rejected)


def make_extract_fn(tally=None):
    """Iterator[pd.DataFrame] → Iterator[pd.DataFrame] extraction stage.

    Imports + regex compilation happen once per Python worker (module
    level), amortized across all Arrow batches (SURVEY §4 item 2).

    tally: an optional BucketTally accumulator. The stage then counts each
    bucket's rows in, rows out and rejected over all its batches and adds
    them to the tally once, when its input is exhausted. Spark applies a
    result stage's accumulator updates once per partition (a retried or
    speculative attempt's are dropped), so when the stage runs fused into
    the write's result stage, as in run_extract_job, the driver reads exact
    counts after the write returns. Without a tally the stage counts
    nothing.
    """

    def _extract(batches):
        import pandas as pd

        from ..kernels import parsers as KP

        counts: dict[int, list[int]] = {}
        for pdf in batches:
            out = {k: [] for k in (
                "source_kind", "confidence", "clean_text", "spans", "records",
                "n_items", "calc_total", "warnings", "is_document",
                "rejected")}
            for conv_id, turn_idx, text, tool in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["tool"]):
                text = text or ""
                tool = tool or ""
                ext = _ext_for(tool, text)
                name = f"{conv_id}_{int(turn_idx)}.{ext}"
                res = KP.extract_turn(ext, name, text)
                invoices = res["invoices"]
                is_doc = 1 if tool in ("doc_parser", "markdown") or ext != "txt" or (
                    res["source_kind"] is not None) else 0
                rejected = 1 if (tool in ("doc_parser", "markdown")
                                 and not invoices) else 0
                out["source_kind"].append(res["source_kind"])
                out["confidence"].append(float(res["confidence"]))
                out["clean_text"].append(res["clean_text"])
                out["spans"].append([
                    {"field": f, "start": s, "end": e} for (f, s, e) in res["spans"]])
                out["records"].append([_coerce_record(i) for i in invoices])
                out["n_items"].append(sum(len(i["items"]) for i in invoices))
                out["calc_total"].append(
                    float(sum(i["calc_total"] for i in invoices)))
                out["warnings"].append(_warnings_for(invoices))
                out["is_document"].append(is_doc)
                out["rejected"].append(rejected)
            frame = pd.DataFrame({
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"].astype("int32"),
                "role": pdf["role"],
                "ts": pdf["ts"],
                "bucket": pdf["bucket"].astype("int32"),
                "source_kind": out["source_kind"],
                "confidence": out["confidence"],
                "clean_text": out["clean_text"],
                "spans": out["spans"],
                "records": out["records"],
                "n_items": pd.Series(out["n_items"], dtype="int32"),
                "calc_total": out["calc_total"],
                "warnings": out["warnings"],
                "is_document": pd.Series(out["is_document"], dtype="int32"),
                "rejected": pd.Series(out["rejected"], dtype="int32"),
            })
            if tally is not None:
                _count_batch(counts, pdf, frame)
            yield frame
        if tally is not None:
            tally.add(counts)

    return _extract


def bucket_expr(n_buckets: int):
    """Stable resume-bucket id: first 8 hex chars of md5(conv_id) mod n.

    Computable identically in Spark SQL, DuckDB, and Python — stable across
    runs, cluster sizes, and engines (unlike task partition ids or
    xxhash64 seeds)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(n_buckets)).cast("int")


def stable_bucket_py(conv_id: str, n_buckets: int) -> int:
    """Python twin of bucket_expr (used by tests)."""
    import hashlib
    return int(hashlib.md5(conv_id.encode()).hexdigest()[:8], 16) % n_buckets


# turns per salting block: a hot conversation larger than one task's
# share is cut only at these boundaries, so consecutive turns stay in one
# Arrow batch
TURN_BLOCK = 64


def extract_turns(transcripts: DataFrame,
                  salt_partitions: int | None = None,
                  n_buckets: int = 64, tally=None) -> DataFrame:
    """Transcripts → extracted turns DataFrame (no write).

    salt_partitions:
      None  → default: 2× cluster parallelism, bucket-aligned range shuffle
      0     → skip the shuffle (map-only over scan partitions; the stream
              path uses this, so no micro-batch pays a sampling job)
      n > 0 → explicit partition count
    The shuffle key is (bucket, conv_id, floor(turn_idx / TURN_BLOCK))
    under range partitioning. Leading with the output bucket keeps each
    task's rows in a contiguous run of buckets, so a partitioned write
    opens a few files per task instead of one per bucket; the sampled range
    bounds balance rows across tasks and split a hot conversation at
    turn-block granularity.
    tally: a BucketTally accumulator the stage adds per-bucket counts to
    (see make_extract_fn).
    """
    spark = transcripts.sparkSession
    # null-key quarantine, JVM-side, BEFORE the Arrow stage: a malformed
    # row with null conv_id/turn_idx otherwise kills its whole task
    # (pandas IntCastingNaNError on the int32 columns) — at 100 TB one
    # bad row must not kill a job. Such rows land in conv_id '' at turn
    # -1, are extracted normally, and stay visible in lineage (rows in ==
    # rows out holds).
    df = (transcripts
          .select(F.coalesce(F.col("conv_id"), F.lit("")).alias("conv_id"),
                  F.coalesce(F.col("turn_idx"), F.lit(-1)).alias("turn_idx"),
                  "role", "text", "tool", "ts")
          .withColumn("bucket", bucket_expr(n_buckets)))
    if salt_partitions is None:
        salt_partitions = spark.sparkContext.defaultParallelism * 2
    if salt_partitions:
        df = df.repartitionByRange(
            salt_partitions,
            F.col("bucket"),
            F.col("conv_id"),
            F.floor(F.col("turn_idx") / TURN_BLOCK))
    return df.mapInPandas(make_extract_fn(tally), schema=EXTRACT_SCHEMA)


def run_extract_job(spark: SparkSession, transcripts: DataFrame,
                    output_dir: str, run_id: str,
                    source_snapshot_id: str = "",
                    resume: bool = False,
                    salt_partitions: int | None = None,
                    n_buckets: int = 64) -> dict:
    """Full job: extract → write parquet partitioned by bucket → commit
    per-bucket manifest. Returns job metrics: rows_in, rows_out and
    buckets_written count what this run extracted and wrote.

    The manifest is measured, not read back: the Python stage counts each
    bucket's rows in, rows out and rejected into a BucketTally accumulator
    as it runs, fused with the write. After the write the driver checks
    rows_in == rows_out per bucket and commits ONE parquet part file of
    MANIFEST_SCHEMA rows into `_checkpoints/`, covering only the buckets
    this run wrote (artifact.commit_part: tmp + os.replace, so a reader
    sees the whole part or none of it). No Spark job runs after the write.

    Resume: with resume=True, buckets already recorded in the manifest are
    skipped (anti-join on the stable bucket id) and new output is appended.
    Without resume, a run_id that already has manifest rows raises
    ValueError before any Spark job, so a run catalog never sums two runs
    under one id. Both manifest reads use pyarrow, not Spark
    (artifact.read_part_column); an unreadable part raises, naming it.
    The manifest is committed *after* the data write succeeds — a crashed
    run leaves at worst orphan data files for incomplete buckets, which a
    re-run overwrites (dynamic partition overwrite), never a manifest entry
    without data: same atomicity contract as the reference's tmp+rename
    draft write (RunStore.php:20-31).
    """
    t0 = time.time()
    data_dir = os.path.join(output_dir, "extracted_turns")
    manifest_dir = os.path.join(output_dir, "_checkpoints")

    done: set = set()
    if resume:
        done = artifact.read_part_column(manifest_dir, "bucket")
    elif run_id in artifact.read_part_column(manifest_dir, "run_id"):
        raise ValueError(f"run_id {run_id!r} already has manifest rows in "
                         f"{manifest_dir}: pass a new run_id, or resume=True")

    pending = transcripts
    if done:
        # prefilter on the same stable bucket expression the output is
        # partitioned by — completed buckets never reach the Python stage
        pending = transcripts.where(
            ~bucket_expr(n_buckets).isin(sorted(done)))

    tally = spark.sparkContext.accumulator({}, BucketTally())
    extracted = extract_turns(pending, salt_partitions=salt_partitions,
                              n_buckets=n_buckets, tally=tally)

    # ALWAYS dynamic partition overwrite, also on resume: completed buckets
    # are filtered out of `pending` so they emit no partitions and stay
    # untouched, while buckets whose data committed but whose manifest write
    # crashed get cleanly REPLACED instead of appended-to (append would
    # duplicate every row of such an orphan bucket on resume).
    (extracted.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket")
     .parquet(data_dir))

    counts = tally.value
    lost = sorted(b for b, (n_in, n_out, _) in counts.items()
                  if n_in != n_out)
    if lost:
        raise RuntimeError(
            f"lineage broken: rows_in != rows_out in buckets {lost}")
    wall_ms = int((time.time() - t0) * 1000)
    committed_at = datetime.now(timezone.utc)
    rows = [{"run_id": run_id, "source_snapshot_id": source_snapshot_id,
             "bucket": b, "rows_in": n_in, "rows_out": n_out,
             "rows_rejected": rejected,
             "extractor_version": EXTRACTOR_VERSION, "wall_ms": wall_ms,
             "committed_at": committed_at}
            for b, (n_in, n_out, rejected) in sorted(counts.items())]
    artifact.commit_part(manifest_dir, pa.Table.from_pylist(
        rows, schema=to_arrow_schema(MANIFEST_SCHEMA)))

    return {
        "run_id": run_id,
        "rows_in": sum(c[0] for c in counts.values()),
        "rows_out": sum(c[1] for c in counts.values()),
        "buckets_written": len(counts),
        "buckets_skipped": len(done),
        "wall_ms": wall_ms,
        "output": data_dir,
        "manifest": manifest_dir,
    }


def list_runs(spark: SparkSession, output_dir: str,
              limit: int = 50) -> DataFrame:
    """Run catalog (S9, RunStore.php:58-96 listRuns): newest-first summary
    of committed runs from the checkpoint manifest — run id, buckets,
    rows in/out/rejected, extractor version — limit N. Set-oriented: one
    manifest scan + hash agg instead of a glob + per-dir JSON read."""
    manifest_dir = os.path.join(output_dir, "_checkpoints")
    m = spark.read.parquet(manifest_dir)
    return (
        m.groupBy("run_id", "extractor_version")
        .agg(F.countDistinct("bucket").alias("n_buckets"),
             F.sum("rows_in").alias("rows_in"),
             F.sum("rows_out").alias("rows_out"),
             F.sum("rows_rejected").alias("rows_rejected"),
             F.max("committed_at").alias("committed_at"))
        .orderBy(F.desc("run_id"))
        .limit(limit)
    )


def stable_order(extracted: DataFrame) -> DataFrame:
    """Stable turn ordering: within conv_id order by (turn_idx, ts) — the
    invariant every equality comparison runs under (north_rule;
    FileScanner.php:91 analog). Adds turn_seq."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return extracted.withColumn("turn_seq", F.row_number().over(w))
