"""Transcript table readers (S1/S2/S5/S6 Spark-side).

The reference scans a directory tree, filters junk files, whitelists
extensions, sorts by name, then decodes JSON or reads raw text
(FileScanner.php:45-94, 206-225; Util.php:9-27). Our engine's input is a
TABLE, but the same source surface matters at the edge: transcripts
arrive as parquet (canonical), JSONL exports, or CSV dumps. One reader,
explicit schema everywhere (inference is a correctness and speed hazard
at 100 TB), junk-path filter, and stable ordering applied by the caller
via stable_order — never by relying on file listing order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .synthetic import TRANSCRIPT_SCHEMA

# FileScanner.php:12-19 ignore patterns, path-level variant — one
# source of truth in sources/ingest.py beside the name-level originals
from .ingest import JUNK_PATH as _JUNK_PATH  # noqa: E402


def read_transcripts(spark: SparkSession, path: str,
                     fmt: str = "parquet",
                     drop_corrupt: bool = True) -> DataFrame:
    """Read a transcripts table from parquet / jsonl / csv with the fixed
    TRANSCRIPT_SCHEMA.

    - schema is never inferred (S5's decode step with a contract);
    - malformed JSON/CSV rows become nulls and are COUNTED OUT rather
      than thrown (S6's null-as-error-metric contract): with
      drop_corrupt, rows whose conv_id is null are filtered and the
      caller can diff counts for the error metric;
    - junk files are excluded by path regex (F2) via a metadata column
      filter on input_file_name.
    """
    if fmt == "parquet":
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
    elif fmt in ("json", "jsonl"):
        df = spark.read.schema(TRANSCRIPT_SCHEMA).option(
            "mode", "PERMISSIVE").json(path)
    elif fmt == "csv":
        df = (spark.read.schema(TRANSCRIPT_SCHEMA)
              .option("header", "true")
              .option("mode", "PERMISSIVE")
              .option("multiLine", "true")
              .option("escape", '"')
              .csv(path))
    else:
        raise ValueError(f"unsupported transcript format: {fmt}")

    df = df.where(~F.lower(F.input_file_name()).rlike(_JUNK_PATH))
    if drop_corrupt:
        df = df.where(F.col("conv_id").isNotNull())
    return df


def write_transcripts(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Round-trip writer used by tests and export jobs."""
    w = df.select([f.name for f in TRANSCRIPT_SCHEMA.fields]).write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt in ("json", "jsonl"):
        w.json(path)
    elif fmt == "csv":
        w.option("header", "true").option("escape", '"').csv(path)
    else:
        raise ValueError(f"unsupported transcript format: {fmt}")
