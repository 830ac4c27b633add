"""Persisted Bloom-filter membership artifact — the cheap front door.

The in-registry operator (operators/corpus.dd_bloom_check) shows the
SHAPE — corpus hashes fold into m bits, the batch probes k positions —
but rebuilds the filter on every call. A real crawl pipeline commits the
filter once and puts it in FRONT of the EXACT hash index: most novel
docs resolve against a bitset of ≤ m/8 bytes (2 n_keys bytes at the
default sizing) without ever touching the big index. Scope note: the
Bloom answers exact membership ONLY — a near-duplicate has a different
content hash and sails through clean, which is why the banded MinHash
index (dedup_index.py) is a sibling, not a consumer: the two artifacts
answer different questions and compose side-by-side in a crawl loop,
never in series. This module is the seventh artifact in the layer (ann,
dedup, tokenizer, classifier, compaction, corpus-stats):

- build_bloom_filter: size m from the corpus count
  (bloom_bits_build: m = 2^(bit_length(n)+extra), 8n < m ≤ 16n),
  fold every content hash's BLOOM_K positions, commit the distinct
  position set + manifest. m is FROZEN in the manifest — every later
  probe and append must use the build-time modulus or the bits are
  meaningless.
- check_batch: per batch doc, n_hits of its k probes and the bloom_dup
  verdict (all k set). No false negatives ever; false-positive rate
  grows with fill — the manifest's fill_bp is the saturation gauge that
  tells ops when to rebuild wider.
- append_batch: OR the batch's positions into the bitset (union +
  distinct — set-monotone, so a replayed append is semantically a no-op
  even without its idempotence tag; the tag still skips the rewrite and
  keeps the append count honest). Rewrite-into-tmp + two-rename swap.

Commits follow pipeline/artifact.py's atomicity contract.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import (BLOOM_EXTRA_BITS, BLOOM_K,
                                 bloom_probe_frame)
from . import artifact

BLOOM_VERSION = 1

_MANIFEST = "_bloom_manifest.json"
_DATA = "bloom_bits"


def read_manifest(bloom_dir: str) -> dict:
    artifact.recover_swap(os.path.join(bloom_dir, _DATA), "append")
    return artifact.require(bloom_dir, _MANIFEST, "bloom filter",
                            version=BLOOM_VERSION, k=BLOOM_K)


def _bits_set(spark: SparkSession, data_dir: str) -> int:
    return spark.read.parquet(data_dir).count()


def _fill_bp(n_bits_set: int, m: int) -> int:
    return (n_bits_set * 10000) // m


def bloom_bits_build(corpus_docs: DataFrame,
                     extra_bits: int = BLOOM_EXTRA_BITS):
    """Materialize the Bloom filter of a corpus's content hashes for
    serving: returns
    (bits DataFrame of distinct positions, m, n_keys). m is fixed
    driver-side from ONE count (n_keys reuses it — no second input
    scan, and the manifest's sizing claim can never disagree with its
    own n_keys field)."""
    n = corpus_docs.count()
    m = 1 << (max(int(n), 1).bit_length() + extra_bits)
    bits = (bloom_probe_frame(corpus_docs, m)
            .select("pos").distinct())
    return bits, m, int(n)


def build_bloom_filter(spark: SparkSession, docs: DataFrame,
                       output_dir: str,
                       extra_bits: int = BLOOM_EXTRA_BITS) -> dict:
    """Fold the corpus's content hashes into the filter and commit.
    n_keys counts corpus ROWS folded (distinct hashes may be fewer —
    duplicate content re-sets the same bits, which is exactly the
    semantics a membership filter wants)."""
    t0 = time.time()
    data_dir = os.path.join(output_dir, _DATA)
    artifact.invalidate(output_dir, _MANIFEST)
    bits, m, n_keys = bloom_bits_build(docs, extra_bits=extra_bits)
    bits.write.mode("overwrite").parquet(data_dir)
    n_bits_set = _bits_set(spark, data_dir)
    manifest = {
        "version": BLOOM_VERSION,
        "m": m,
        "k": BLOOM_K,
        "extra_bits": int(extra_bits),
        "n_keys": int(n_keys),
        "n_bits_set": int(n_bits_set),
        "fill_bp": _fill_bp(n_bits_set, m),
        "appends": 0,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(output_dir, manifest, _MANIFEST)
    return manifest


def check_batch(spark: SparkSession, bloom_dir: str,
                batch: DataFrame) -> DataFrame:
    """Per batch doc: n_hits over its BLOOM_K probes and the bloom_dup
    verdict. Guarantee: a doc whose content hash was ever folded in can
    NEVER report n_hits < k (no false negatives — NULL text included,
    via the shared probe builder's coalesce); bloom_dup with no prior
    insert is a false positive, bounded by the fill ratio."""
    manifest = read_manifest(bloom_dir)
    bits = spark.read.parquet(os.path.join(bloom_dir, _DATA))
    return (bloom_probe_frame(batch, manifest["m"])
            .join(bits.withColumn("hit", F.lit(1)), "pos", "left")
            .groupBy("doc_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                 .cast("long").alias("n_hits"))
            .select("doc_id", "n_hits",
                    (F.col("n_hits") == BLOOM_K).alias("bloom_dup"))
            .orderBy("doc_id"))


def append_batch(spark: SparkSession, bloom_dir: str,
                 batch: DataFrame, batch_tag: str | None = None) -> dict:
    """OR the batch's positions into the bitset so the next crawl sees
    these docs. m is the manifest's frozen modulus — the batch is hashed
    with the BUILD-time sizing, never resized (resizing a Bloom filter
    means rebuilding it; the fill_bp gauge says when). Set-union is
    monotone, so a replayed append is semantically a no-op; the
    batch_tag records idempotence in the manifest and skips the rewrite
    entirely on a retry. Crash between swap and manifest: the retry
    re-ORs the same positions (bits stay exact; n_bits_set/fill_bp are
    recomputed from data) — only the n_keys gauge double-counts for that
    one window, the dedup_index n_members class of benign inflation."""
    manifest = read_manifest(bloom_dir)
    if batch_tag is not None and batch_tag in manifest.get("batch_tags", []):
        return manifest
    t0 = time.time()
    data_dir = os.path.join(bloom_dir, _DATA)
    merged = (spark.read.parquet(data_dir)
              .unionByName(bloom_probe_frame(batch, manifest["m"])
                           .select("pos"))
              .distinct())
    tmp = artifact.tmp_dir(data_dir, "append")
    merged.write.parquet(tmp)
    n_bits_set = _bits_set(spark, tmp)
    n_new_keys = batch.count()
    artifact.swap_in(data_dir, "append")
    manifest.update({
        "n_keys": manifest["n_keys"] + int(n_new_keys),
        "n_bits_set": int(n_bits_set),
        "fill_bp": _fill_bp(n_bits_set, manifest["m"]),
        "appends": manifest["appends"] + 1,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    })
    if batch_tag is not None:
        manifest["batch_tags"] = (manifest.get("batch_tags", [])
                                  + [batch_tag])
    artifact.commit(bloom_dir, manifest, _MANIFEST)
    return manifest
