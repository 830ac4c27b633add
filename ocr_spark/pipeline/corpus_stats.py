"""Persisted corpus-profile snapshot — the between-crawls monitoring
artifact.

The in-registry operator (operators/quality.txt_drift_tvd) shows the
drift READ over one corpus split into md5 halves; a real pipeline
snapshots each crawl's profile once and compares the NEXT crawl against
the COMMITTED snapshot before any of it enters curation:

- build_stats: one map-only projection + one map-side-combinable
  groupBy(source, bucket) collapses the corpus to ~|sources| x 40
  profile rows (doc counts + token sums per floor-log2 length bucket),
  committed as parquet. The 100 TB corpus is read once; the artifact is
  kilobytes.
- drift_check: profile the new batch the same way (the SHARED
  len_bucket_frame expression — a snapshot built yesterday must stay
  comparable to a profile computed today) and report per-source
  total-variation distance in integer basis points plus coverage status
  (new / vanished sources). All integer arithmetic — the same portable
  math as the registry read.

Commits follow pipeline/artifact.py's atomicity contract.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.frames import len_bucket_frame
from . import artifact

STATS_VERSION = 1

_MANIFEST = "_stats_manifest.json"
_DATA = "profile"


def profile_of(docs: DataFrame) -> DataFrame:
    """(source, bucket, n_docs, n_tokens) — the snapshot grain."""
    return (len_bucket_frame(docs)
            .groupBy("source", "bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens")))


# Applied batch tags are recorded INSIDE the data directory — they travel
# with the swap rename, so 'which batches are in this profile' commits
# atomically with the profile itself (the manifest's copy can lag by one
# crash window; this file cannot).
_TAGS_FILE = "_applied_tags.json"


def _applied_tags(data_dir: str) -> list[str]:
    return artifact.read(data_dir, _TAGS_FILE) or []


def _profile_stats(spark: SparkSession, data_dir: str) -> dict:
    """Manifest counts from the committed profile itself — no second
    corpus scan."""
    row = (spark.read.parquet(data_dir)
           .agg(F.count("*").alias("cells"),
                F.countDistinct("source").alias("sources"),
                F.sum("n_docs").alias("docs"),
                F.sum("n_tokens").alias("tokens")).collect()[0])
    return {"n_cells": int(row.cells), "n_sources": int(row.sources),
            "n_docs": int(row.docs or 0), "n_tokens": int(row.tokens or 0)}


def build_stats(spark: SparkSession, docs: DataFrame, output_dir: str,
                batch_tag: str = "") -> dict:
    """Profile the corpus and commit the snapshot (manifest AFTER data)."""
    t0 = time.time()
    data_dir = os.path.join(output_dir, _DATA)
    artifact.invalidate(output_dir, _MANIFEST)
    profile_of(docs).write.mode("overwrite").parquet(data_dir)
    tags = [batch_tag] if batch_tag else []
    artifact.commit(data_dir, tags, _TAGS_FILE)
    manifest = {
        "version": STATS_VERSION,
        "batch_tag": batch_tag,
        "batch_tags": tags,
        **_profile_stats(spark, data_dir),
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(output_dir, manifest, _MANIFEST)
    return manifest


def read_manifest(stats_dir: str) -> dict | None:
    artifact.recover_swap(os.path.join(stats_dir, _DATA), "append")
    return artifact.read(stats_dir, _MANIFEST)


def append_stats(spark: SparkSession, stats_dir: str,
                 new_docs: DataFrame, batch_tag: str | None = None) -> dict:
    """Fold an admitted crawl batch into the committed snapshot so the
    NEXT crawl drifts against the corpus as of now: profile the batch,
    union with the committed cells, sum per (source, bucket), and swap
    atomically (rewrite-into-tmp + two-rename — the parquet fallback for
    Iceberg MERGE INTO, same as dedup_index.append_batch). A retried
    append with the same batch_tag is a no-op.

    Idempotence is judged against the tags file INSIDE the data
    directory (written into the tmp dir BEFORE the swap promotes it),
    not the manifest: a crash between the swap and the manifest rewrite
    leaves the tag committed WITH the data, so the retry heals the
    manifest instead of double-counting every (source, bucket) cell —
    the profile counts ARE the drift baseline, so unlike the dedup
    index's benign n_members inflation, a double-count here would skew
    drift_bp for those sources permanently."""
    manifest = read_manifest(stats_dir)
    if manifest is None:
        raise FileNotFoundError(
            f"no committed corpus-stats snapshot at {stats_dir}")
    t0 = time.time()
    data_dir = os.path.join(stats_dir, _DATA)
    applied = _applied_tags(data_dir)
    if batch_tag is not None and batch_tag in applied:
        if batch_tag not in manifest.get("batch_tags", []):
            # swap committed, manifest write crashed: heal the manifest —
            # tags AND counts both describe the already-swapped data
            manifest.update(batch_tags=applied,
                            **_profile_stats(spark, data_dir))
            artifact.commit(stats_dir, manifest, _MANIFEST)
        return manifest
    merged = (spark.read.parquet(data_dir)
              .unionByName(profile_of(new_docs))
              .groupBy("source", "bucket")
              .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                   F.sum("n_tokens").cast("long").alias("n_tokens")))
    tmp = artifact.tmp_dir(data_dir, "append")
    merged.write.parquet(tmp)
    new_tags = applied + ([batch_tag] if batch_tag is not None else [])
    artifact.commit(tmp, new_tags, _TAGS_FILE)  # tags ride the swap rename
    stats = _profile_stats(spark, tmp)
    artifact.swap_in(data_dir, "append")
    manifest.update({
        **stats,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
        "batch_tags": new_tags,
    })
    artifact.commit(stats_dir, manifest, _MANIFEST)
    return manifest


def read_profile(spark: SparkSession, stats_dir: str) -> DataFrame:
    if read_manifest(stats_dir) is None:
        raise FileNotFoundError(
            f"no committed corpus-stats snapshot at {stats_dir} "
            "(missing manifest — build_stats first)")
    return spark.read.parquet(os.path.join(stats_dir, _DATA))


def drift_check(spark: SparkSession, stats_dir: str,
                new_docs: DataFrame) -> DataFrame:
    """Per-source drift of a NEW batch against the committed snapshot:
    (source, n_old, n_new, drift_bp, status). drift_bp is the integer
    TVD over length-bucket shares (NULL when either side is empty —
    which the status column then names: 'new' sources have no snapshot
    rows, 'vanished' sources no batch rows, 'both' otherwise).

    The snapshot side is ~|sources| x 40 rows and is BROADCAST; the new
    batch collapses through the same one-groupBy profile, so checking a
    crawl costs one pass over the batch and never touches the old
    corpus."""
    old = read_profile(spark, stats_dir).select(
        "source", "bucket", F.col("n_docs").alias("o_a"))
    new = profile_of(new_docs).select(
        "source", "bucket", F.col("n_docs").alias("o_b"))
    cells = (old.join(new, ["source", "bucket"], "full_outer")
             .select("source", "bucket",
                     F.coalesce("o_a", F.lit(0)).alias("o_a"),
                     F.coalesce("o_b", F.lit(0)).alias("o_b")))
    totals = cells.groupBy("source").agg(
        F.sum("o_a").alias("n_a"), F.sum("o_b").alias("n_b"))
    diff = F.abs(F.expr("o_a * 10000 DIV n_a")
                 - F.expr("o_b * 10000 DIV n_b"))
    return (cells.join(F.broadcast(totals), "source")
            .groupBy("source")
            .agg(F.max("n_a").cast("long").alias("n_old"),
                 F.max("n_b").cast("long").alias("n_new"),
                 F.sum(F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                              diff)).alias("sd"))
            .select("source", "n_old", "n_new",
                    F.expr("sd DIV 2").cast("long").alias("drift_bp"),
                    F.when(F.col("n_old") == 0, F.lit("new"))
                    .when(F.col("n_new") == 0, F.lit("vanished"))
                    .otherwise(F.lit("both")).alias("status"))
            .orderBy("source"))

