"""The full training-data path in one composed pipeline:

    transcripts ──extract──▶ per-turn clean text + spans (checkpointed,
                             resumable; pipeline/extract.run_extract_job)
               ──document──▶ one document per extracted turn (md5-long
                             surrogate ids, heuristic language ID,
                             source = detected payload kind)
               ──curate────▶ quality / exact-dup / chunk-dup /
                             decontaminate / sample (pipeline/curate)
               ──pack──────▶ sequence-packing placement over the kept
                             docs (functions/frames.pack_placement_from)

Each stage writes its own artifact + manifest under the work dir, and the
composed manifest chains the counts so the funnel is auditable end to
end: extracted turns ≥ documents ≥ curated-kept == packed rows. The
extract stage is the resumable one (per-bucket manifest, crash recovery);
curation and packing are deterministic pure functions of their input, so
re-running them after a resume reproduces identical output — the same
idempotence contract the reference's tmp+rename draft write gives one
upload run (RunStore.php:20-31), lifted to the corpus scale.

Scale notes: every stage is the already-audited plan (extract = one
salted shuffle + Arrow map; document building = map-only projection on
the extract output; curation = the one-drop_reason keyed plan; packing =
per-shard window). Nothing here adds a new shuffle shape.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F

from ..functions.frames import PACK_SEQ_LEN, pack_placement_from
from ..functions.hashing import SMP_RATES, md5_long
from ..functions.text import lang_argmax_column, lang_hit_columns
from . import artifact
from .curate import run_curation
from .extract import run_extract_job

CORPUS_PIPELINE_VERSION = "corpus-v1"

# the heuristic language ID emits 'unk' for text none of the marker sets
# match (tables, code, short chatter) — the default SMP_RATES map has no
# entry for it, which would sample the whole unk stratum out; the
# composed pipeline keeps it at full rate and lets the quality /
# dedup gates do the dropping
CORPUS_SAMPLE_RATES = {**SMP_RATES, "unk": 1.0}


def documents_from_extracted(extracted: DataFrame) -> DataFrame:
    """One corpus document per extracted turn: md5-long surrogate doc_id
    (deterministic in (conv_id, turn_idx) — stable across runs and
    partitionings), the boilerplate-stripped clean text, heuristic
    language, and the detected payload kind as the source. Turns with no
    extractable text (pure chatter) are dropped here — they carry no
    training signal. Map-only."""
    base = (extracted
            .where(F.col("clean_text").isNotNull()
                   & (F.length("clean_text") > 0))
            .select(
                md5_long(F.concat(F.col("conv_id"), F.lit(":"),
                                  F.col("turn_idx").cast("string")))
                .alias("doc_id"),
                F.col("clean_text").alias("text"),
                F.coalesce(F.col("source_kind"), F.lit("chatter"))
                .alias("source")))
    return (base
            .select("doc_id", "text", "source",
                    *lang_hit_columns(F.col("text")))
            .withColumn("lang", lang_argmax_column())
            .select("doc_id", "text", "lang", "source"))


def run_corpus_pipeline(spark, transcripts: DataFrame, workdir: str,
                        run_id: str = "corpus",
                        resume: bool = False,
                        salt_partitions: int | None = None,
                        n_shards: int | None = None) -> dict:
    """Run extract → document → curate → pack under workdir; returns (and
    writes) the composed manifest. resume=True resumes the extract
    stage's bucket manifest; downstream stages re-run deterministically
    over the (now complete) extract output. n_shards additionally
    exports the kept docs as deterministic ordered training shards
    (pipeline/shards.py) under workdir/shards."""
    t0 = time.time()
    artifact.invalidate(workdir)
    extract_metrics = run_extract_job(
        spark, transcripts, os.path.join(workdir, "extracted"),
        run_id=run_id, resume=resume, salt_partitions=salt_partitions)

    extracted = spark.read.parquet(
        os.path.join(workdir, "extracted", "extracted_turns"))
    docs = documents_from_extracted(extracted)
    curate_manifest = run_curation(spark, docs,
                                   os.path.join(workdir, "curated"),
                                   sample_rates=CORPUS_SAMPLE_RATES)

    pack_stats = []
    if curate_manifest["n_kept"] > 0:
        kept = (spark.read.parquet(
            os.path.join(workdir, "curated", "curated"))
            .withColumn("source", F.lit("curated")))
        placement = pack_placement_from(
            kept.select("doc_id", "lang", "source", "text"))
        pack_dir = os.path.join(workdir, "packed")
        (placement.select("doc_id", "lang", "n_tokens_b", "tok_start",
                          "first_seq", "seq_offset", "n_seqs")
         .write.mode("overwrite").partitionBy("lang").parquet(pack_dir))
        pack_rows = spark.read.parquet(pack_dir)
        pack_stats = (pack_rows.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens_b").alias("n_tokens"),
            (F.max(F.col("first_seq") + F.col("n_seqs"))).alias("n_seqs"))
            .collect())

    shard_manifest = None
    if n_shards and curate_manifest["n_kept"] > 0:
        from .shards import write_training_shards
        kept = spark.read.parquet(
            os.path.join(workdir, "curated", "curated"))
        shard_manifest = write_training_shards(
            spark, kept.select("doc_id", "lang", "text"),
            os.path.join(workdir, "shards"), n_shards=n_shards)

    manifest = {
        "pipeline_version": CORPUS_PIPELINE_VERSION,
        "run_id": run_id,
        "extract": {k: extract_metrics[k]
                    for k in ("rows_in", "rows_out", "buckets_written",
                              "buckets_skipped")},
        "documents": curate_manifest["n_input"],
        "curate": curate_manifest["funnel"],
        "pack": {r["lang"]: {"n_docs": r["n_docs"],
                             "n_tokens": r["n_tokens"],
                             "n_seqs": r["n_seqs"]}
                 for r in pack_stats},
        "seq_len": PACK_SEQ_LEN,
        "n_kept": curate_manifest["n_kept"],
        "wall_sec": round(time.time() - t0, 3),
    }
    if shard_manifest is not None:
        manifest["shards"] = {"n_shards": shard_manifest["n_shards"],
                              "rows_out": shard_manifest["rows_out"]}
    artifact.commit(workdir, manifest)
    return manifest
