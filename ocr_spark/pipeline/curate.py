"""End-to-end corpus curation pipeline: the pass a 100 TB pretraining
corpus takes between extraction and training, composed from the
functions/ gate primitives into ONE DataFrame plan:

    documents → quality gate (token floor + Gopher repetition caps)
              → learned classifier gate (hashed-feature linear score)
              → exact dedup (normalized-md5, first-wins)
              → chunk-level near-dup drop (C4 line-dedup analog)
              → benchmark decontamination (broadcast 5-gram overlap)
              → deterministic stratified sampling (md5 bridge)
              → curated parquet partitioned by lang + funnel manifest

Scale design: every doc gets ONE `drop_reason` column computed by
priority, so the whole funnel is a single keyed plan — no per-stage
count() re-running the DAG, no driver-side loops. The gate signals are
joins keyed on doc_id (repetition, chunk share) or broadcast
(contamination), the sampling decision is a map-only md5 fold, and the
funnel metrics come from one aggregation over drop_reason. Every gate is
engine-exact (basis points / md5 bridge), so the full funnel is
oracle-paired at the driver (operators/curation.py: `curate_funnel`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.classifier import CLS_THRESHOLD, classifier_score_expr
from ..functions.hashing import (SMP_RATES, content_md5, md5_long,
                                 stratified_keep)
from ..functions.quality import (BENCH_MOD, CONTAM_NGRAM, MAX_DUP_BIGRAM_BP,
                                 MAX_SHARED_CHUNK_BP, MAX_TOP_TOKEN_BP,
                                 MIN_TOKENS, gopher_fail,
                                 with_repetition_signals)
from ..functions.text import TOKENS_EXPR, token_chunks_expr, token_shingle_expr
from . import artifact

# v2: learned hashed-feature classifier gate after the heuristic gate
CURATOR_VERSION = "curate-v2"


def curation_flags(docs: DataFrame,
                   sample_rates: dict[str, float] | None = None) -> DataFrame:
    """(doc_id, lang, text, drop_reason) for every input doc; drop_reason
    NULL = kept. Priority: quality > classifier > exact_dup > chunk_dup
    > contaminated > sampled_out — each doc reports the FIRST gate that
    rejects it. `classifier` is the learned hashed-feature gate
    (functions/classifier.py): a map-only integer score riding the same
    base scan as the Gopher signals, engine-exact by construction.

    sample_rates overrides the per-language keep rates (default
    SMP_RATES, the oracle-paired configuration); a language absent from
    the map samples out entirely."""
    rates = SMP_RATES if sample_rates is None else sample_rates
    docs = docs.where(F.col("doc_id").isNotNull())
    # persisted: the chunk-dedup and decontamination branches both
    # consume the tokenized frame — without the cache each branch
    # re-scans the parquet and re-runs the regex tokenizer. Tokens only —
    # the raw text column stays out of the cache.
    toks = docs.selectExpr("doc_id", f"{TOKENS_EXPR} AS t").persist()

    # exact dedup: first-wins inside each normalized-text hash group
    wdup = Window.partitionBy("text_hash").orderBy("doc_id")
    exact = (docs.select(
        "doc_id", content_md5(F.col("text")).alias("text_hash"))
        .withColumn("dup_rank", F.row_number().over(wdup))
        .select("doc_id", "dup_rank"))

    # chunk-level near-dup share, FIRST-WINS: stats run over exact-dedup
    # survivors only (verbatim copies are already gone), and a chunk
    # counts as shared for a doc only when an EARLIER doc also has it —
    # so the first member of a near-dup cluster always survives this
    # gate and later near-copies drop. Same keyed shapes as
    # quality.dd_chunk_dup, with min(doc_id) riding the chunk aggregate.
    chunks = (toks.join(exact.where(F.col("dup_rank") == 1)
                        .select("doc_id"), "doc_id")
              .selectExpr(
                  "doc_id", f"explode({token_chunks_expr('t')}) AS chunk")
              .select("doc_id", md5_long(F.col("chunk")).alias("chunk_hash")))
    cstats = (chunks.groupBy("chunk_hash")
              .agg(F.min("doc_id").alias("min_doc")))
    share = (chunks.join(cstats, "chunk_hash")
             .groupBy("doc_id")
             .agg(F.floor(
                 F.sum(F.when(F.col("min_doc") < F.col("doc_id"), 1)
                       .otherwise(0))
                 .cast("double") / F.count("*") * 10000)
                 .alias("shared_bp")))

    # benchmark decontamination: any shared CONTAM_NGRAM-token shingle
    n = CONTAM_NGRAM
    sh = (toks.where(f"size(t) >= {n}")
          .selectExpr("doc_id",
                      f"explode({token_shingle_expr('t', n)}) AS s"))
    bench = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
             .select("s").distinct())
    contam = (sh.where(F.col("doc_id") % BENCH_MOD != 0)
              .join(broadcast(bench), "s")
              .select("doc_id").distinct()
              .withColumn("contaminated", F.lit(True)))

    # stratified sampling decision (md5 bridge, engine-exact)
    sampled_in = stratified_keep(rates)

    # Gopher repetition signals ride the base scan MAP-SIDE (sort-run
    # fold per doc, with_repetition_signals) — a per-doc stat
    # needs no corpus shuffle and no join back
    flagged = (with_repetition_signals(
                   docs.selectExpr("doc_id", "lang", "text",
                                   f"{TOKENS_EXPR} AS t"))
               .select("doc_id", "lang", "text",
                       sampled_in.alias("sampled_in"),
                       gopher_fail().alias("quality_fail"),
                       F.expr(classifier_score_expr("t"))
                       .alias("cls_score"))
               .join(exact, "doc_id", "left")
               .join(share, "doc_id", "left")
               .join(contam, "doc_id", "left"))
    reason = (F.when(F.col("quality_fail"), "quality")
              .when(F.col("cls_score") <= CLS_THRESHOLD, "classifier")
              .when(F.col("dup_rank") > 1, "exact_dup")
              .when(F.coalesce(F.col("shared_bp"), F.lit(0))
                    >= MAX_SHARED_CHUNK_BP, "chunk_dup")
              .when(F.coalesce(F.col("contaminated"), F.lit(False)),
                    "contaminated")
              .when(~F.col("sampled_in"), "sampled_out"))
    return flagged.select("doc_id", "lang", "text",
                          reason.alias("drop_reason"))


def run_curation(spark, docs: DataFrame, out_dir: str,
                 sample_rates: dict[str, float] | None = None) -> dict:
    """Run the curation pipeline and write curated parquet partitioned by
    lang plus a funnel manifest (counts per stage, thresholds, curator
    version, wall time). One write of the kept rows; the funnel comes
    from the written-side aggregation, so input docs are scanned by the
    one shared plan."""
    t0 = time.time()
    artifact.invalidate(out_dir)
    flags = curation_flags(docs, sample_rates=sample_rates).persist()
    try:
        funnel = {r["stage"]: r["n"] for r in
                  (flags.groupBy(F.coalesce("drop_reason", F.lit("kept"))
                                 .alias("stage"))
                   .agg(F.count("*").alias("n")).collect())}
        kept = flags.where(F.col("drop_reason").isNull()) \
                    .select("doc_id", "lang", "text")
        (kept.write.mode("overwrite").partitionBy("lang")
         .parquet(os.path.join(out_dir, "curated")))
        manifest = {
            "curator_version": CURATOR_VERSION,
            "thresholds": {
                "min_tokens": MIN_TOKENS,
                "max_top_token_bp": MAX_TOP_TOKEN_BP,
                "max_dup_bigram_bp": MAX_DUP_BIGRAM_BP,
                "max_shared_chunk_bp": MAX_SHARED_CHUNK_BP,
                "cls_threshold": CLS_THRESHOLD,
                "sample_rates": (SMP_RATES if sample_rates is None
                                 else sample_rates),
            },
            "funnel": funnel,
            "n_input": sum(funnel.values()),
            "n_kept": funnel.get("kept", 0),
            "wall_sec": round(time.time() - t0, 3),
        }
        artifact.commit(out_dir, manifest)
        return manifest
    finally:
        flags.unpersist()

