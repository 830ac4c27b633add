"""Persisted banded MinHash dedup index — the between-crawls artifact.

The in-registry operator (operators/corpus.dd_incremental_neardup) shows
the SHAPE of incremental fuzzy dedup — corpus collapses to one row per
(band, band_hash), the batch joins that index — but recodes the corpus on
every call. A real crawl pipeline materializes the index once and then,
per crawl: (1) checks the new batch against it, (2) appends the batch's
bands so the NEXT crawl sees it. This module is that artifact:

- build_dedup_index: signatures (one map-only Arrow stage over the
  corpus) → bands → one row per (band, band_hash) carrying the bucket's
  canonical (min) doc_id and its member count. Partitioned by band.
- check_batch: batch → bands → keyed equi-join on the index; per doc the
  number of colliding bands and the smallest colliding canonical.
  The 100 TB corpus is never touched — only its ~|buckets| summary rows.
- append_batch: merge the batch's bands into the index (min of
  canonicals, sum of counts) and swap atomically. Parquet has no MERGE,
  so the fallback is rewrite-into-tmp + directory swap (the
  maintenance.compact_parquet pattern); on Iceberg this becomes one
  MERGE INTO keyed on (band, band_hash).

Commits follow pipeline/artifact.py's atomicity contract.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.frames import spread_partitions
from ..functions.minhash import (N_BANDS, N_MINHASH, minhash_bands,
                                 minhash_sig_stage)
from . import artifact

INDEX_VERSION = 1

_MANIFEST = "_index_manifest.json"
_DATA = "band_index"


def _bands_of(docs: DataFrame) -> DataFrame:
    sigs = (spread_partitions(docs.select("doc_id", "text"))
            .mapInPandas(minhash_sig_stage(), "doc_id long, sig array<long>"))
    return minhash_bands(sigs)


def _bucketize(bands: DataFrame) -> DataFrame:
    return (bands.groupBy("band", "band_hash")
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count("*").cast("long").alias("n_members")))


def _index_stats(spark: SparkSession, data_dir: str) -> tuple[int, int]:
    """(n_buckets, n_docs) from the committed index itself: every signed
    doc contributes exactly N_BANDS member rows, so the doc count is
    free from the (tiny) index — no second scan of the corpus."""
    row = (spark.read.parquet(data_dir)
           .agg(F.count("*").alias("b"),
                F.sum("n_members").alias("m")).collect()[0])
    return int(row.b), int(row.m or 0) // N_BANDS


def build_dedup_index(spark: SparkSession, docs: DataFrame,
                      output_dir: str) -> dict:
    """Signature + band the corpus once and commit the bucket index.
    n_docs counts SIGNED documents (sub-3-word docs produce no
    signature and are invisible to fuzzy dedup by construction)."""
    t0 = time.time()
    data_dir = os.path.join(output_dir, _DATA)
    artifact.invalidate(output_dir, _MANIFEST)
    (_bucketize(_bands_of(docs))
     .write.mode("overwrite").partitionBy("band").parquet(data_dir))
    n_buckets, n_docs = _index_stats(spark, data_dir)
    manifest = {
        "version": INDEX_VERSION,
        "n_docs": n_docs,
        "n_buckets": n_buckets,
        "n_bands": N_BANDS,
        "n_minhash": N_MINHASH,
        "appends": 0,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(output_dir, manifest, _MANIFEST)
    return manifest


def read_manifest(index_dir: str) -> dict:
    artifact.recover_swap(os.path.join(index_dir, _DATA), "append")
    return artifact.require(index_dir, _MANIFEST, "dedup index",
                            version=INDEX_VERSION, n_bands=N_BANDS,
                            n_minhash=N_MINHASH)


def check_batch(spark: SparkSession, index_dir: str,
                batch: DataFrame) -> DataFrame:
    """Per batch doc: colliding band count and smallest colliding
    canonical from the committed index (NULLs for novel docs — same
    verdict shape as dd_incremental_neardup). One keyed equi-join on
    (band, band_hash); the index side is bucket summaries, broadcast- or
    skew-handled by AQE, never the corpus."""
    read_manifest(index_dir)
    index = spark.read.parquet(os.path.join(index_dir, _DATA))
    hits = (_bands_of(batch)
            .join(index, ["band", "band_hash"])
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_band_hits"),
                 F.min("canonical_id").alias("match_id")))
    return (batch.select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_band_hits", F.lit(0)).cast("long")
                    .alias("n_band_hits"),
                    "match_id",
                    (F.col("n_band_hits").isNotNull()).cast("int")
                    .alias("is_dup"))
            .orderBy("doc_id"))


def append_batch(spark: SparkSession, index_dir: str,
                 batch: DataFrame, batch_tag: str | None = None) -> dict:
    """Merge the batch's bands into the index so the next crawl sees
    these docs: per (band, band_hash) the canonical stays the MIN over
    old and new members and counts add. Rewrite-into-tmp + atomic swap
    (parquet fallback for Iceberg's MERGE INTO); the manifest is
    rewritten only after the swap, so a crash mid-append leaves the OLD
    index readable.

    Idempotence: pass a stable batch_tag (crawl id / snapshot id) and a
    RETRIED append of the same batch is a no-op — the tag is recorded in
    the manifest only after the swap commits, exactly the extract job's
    resume contract (a crash between swap and manifest re-applies the
    batch; canonical ids are min-stable so verdicts never change, only
    n_members double-counts, and only for that one crash window)."""
    manifest = read_manifest(index_dir)
    if batch_tag is not None and batch_tag in manifest.get("batch_tags", []):
        return manifest
    t0 = time.time()
    data_dir = os.path.join(index_dir, _DATA)
    merged = (spark.read.parquet(data_dir)
              .unionByName(_bucketize(_bands_of(batch)))
              .groupBy("band", "band_hash")
              .agg(F.min("canonical_id").alias("canonical_id"),
                   F.sum("n_members").cast("long").alias("n_members")))
    tmp = artifact.tmp_dir(data_dir, "append")
    merged.write.partitionBy("band").parquet(tmp)
    n_buckets, n_docs = _index_stats(spark, tmp)
    artifact.swap_in(data_dir, "append")
    manifest.update({
        "n_docs": n_docs,
        "n_buckets": n_buckets,
        "appends": manifest["appends"] + 1,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    })
    if batch_tag is not None:
        manifest["batch_tags"] = (manifest.get("batch_tags", [])
                                  + [batch_tag])
    artifact.commit(index_dir, manifest, _MANIFEST)
    return manifest
