"""Conversation-grain curation pipeline: the transcript-native twin of
pipeline/curate.py. A transcript corpus is curated at the CONVERSATION
grain (a training example is a conversation, not a turn), so the gates
key on conv_id:

    transcripts → stable-order assembly (one groupBy; sort_array pins
                  turn order inside the aggregation)
               → conversation quality gate (must contain a user turn,
                  char floor — drops tool-only/agent-only logs)
               → degenerate-decoding gate (any looping assistant turn —
                  the conv_degenerate_scan dup-bigram signal — drops the
                  conversation before it can claim a dedup slot)
               → exact dedup of assembled text (normalized md5,
                  first-wins by conv_id)
               → MinHash-LSH near-dup drop (the corpus layer's signature
                  stage + banding reused verbatim; CLUSTER first-wins:
                  connected components over the colliding-pair graph,
                  the component's MIN conv_id keeps, every other member
                  drops — one representative per duplicate cluster)
               → decontamination against an eval-suite slice of
                  conversations (broadcast CONTAM_NGRAM shingle overlap
                  on assembled text)
               → deterministic sampling (md5 bridge on conv_id)

Scale design mirrors curate.py: one drop_reason column by priority = ONE
keyed plan; the only corpus-wide shuffles are the conv_id assembly
groupBy and the banded signature groupBy (both keyed, both skew-capped
by MAX_LSH_BUCKET). Every gate is engine-exact (string_agg ordering,
md5 bridge, the certified MinHash CTE chain), so the funnel is
oracle-paired at the driver (operators/curation.py:
`conv_curate_funnel`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.frames import min_label_components
from ..functions.hashing import content_md5, md5_long, smp_threshold_u64
from ..functions.minhash import (lsh_candidate_pairs, minhash_bands,
                                 minhash_sig_stage)
from ..functions.quality import (CONTAM_NGRAM, CONV_BENCH_RATE,
                                 CONV_KEEP_RATE, DEGEN_DUP_BP,
                                 DEGEN_MIN_TOKENS, MIN_CONV_CHARS,
                                 with_repetition_signals)
from ..functions.text import TOKENS_EXPR, token_shingle_expr
from . import artifact

CONV_CURATOR_VERSION = "curate-convs-v3"


def conv_curation_flags(t: DataFrame,
                        _track: list | None = None) -> DataFrame:
    """(conv_id, n_turns, drop_reason) for every conversation in the
    transcripts frame t (conv_id, turn_idx, role, text, ts, ...);
    drop_reason NULL = kept. Priority: quality > degenerate > exact_dup >
    near_dup > contaminated > sampled_out — each conversation reports the FIRST gate rejecting it.

    The assembled frame is persisted: the exact-dup window, the near-dup
    signature stage, and the final flag projection all branch from it
    (the caller's action releases it; bench/driver hermeticity clears
    caches between queries). Pass a list as _track to receive the
    persisted intermediates — long-lived callers (run_conv_curation)
    unpersist them after their action so a shared session doesn't
    accumulate caches (the hermeticity failure mode in CLAUDE.md)."""
    conv = (
        t.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum((F.col("role") == "user").cast("bigint")).alias("n_user"),
             F.sum(F.length("text").cast("bigint")).alias("total_chars"),
             F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
             .alias("turns"))
        .select("conv_id", "n_turns", "n_user", "total_chars",
                F.concat_ws("\n", F.transform(
                    F.col("turns"), lambda s: s["text"])).alias("doc"))
        # ct is STORED in the persisted frame so the shingle lambdas below
        # index a materialized array — an index lambda over a computed
        # column would re-run the tokenizer per element (the HOF trap)
        .withColumn("ct", F.split(F.lower(F.col("doc")), r"[ \t\n\x0b\f\r]+"))
        .persist())
    if _track is not None:
        _track.append(conv)
    quality_fail = ((F.col("n_user") < 1)
                    | (F.col("total_chars") < MIN_CONV_CHARS))
    wdup = Window.partitionBy(content_md5(F.col("doc"))).orderBy("conv_id")
    # persisted: the near-dup signature stage, the two ids joins, and
    # the final flag projection all branch from flags0 — uncached, each
    # re-runs the exact-dup window shuffle (caller action releases it;
    # the bench/driver clears caches between queries)
    flags0 = (conv.withColumn("quality_fail", quality_fail)
              .withColumn("dup_rank", F.row_number().over(wdup))
              .persist())
    if _track is not None:
        _track.append(flags0)

    # degenerate-decoding gate (the conv_degenerate_scan signal as a
    # funnel stage): a conversation with ANY looping assistant turn of
    # >= DEGEN_MIN_TOKENS tokens drops before dedup — a degenerate
    # generation must not claim a cluster's canonical slot. The fold is
    # turn-local map-only; only flagged (conv_id) rows shuffle.
    asst = (t.where(F.col("role") == "assistant")
            .selectExpr("conv_id", f"{TOKENS_EXPR} AS tt")
            .where(f"size(tt) >= {DEGEN_MIN_TOKENS}"))
    # persisted: both the survivors anti-join and the final flag join
    # read it — uncached, the assistant-turn fold + distinct shuffle run
    # twice (the import_star two-branch lesson)
    degen = (with_repetition_signals(asst, tcol="tt")
             .where(F.expr(f"dup_bg * 10000 DIV n_bg >= {DEGEN_DUP_BP}"))
             .select("conv_id").distinct()
             .withColumn("degenerate", F.lit(True))
             .persist())
    if _track is not None:
        _track.append(degen)

    # near-dup candidates among the quality+degenerate+exact survivors
    # only: the MinHash surrogate ids are md5-derived longs so the oracle
    # replays the identical chain (the dd_conv_neardup pattern)
    survivors = (flags0.where(~F.col("quality_fail")
                              & (F.col("dup_rank") == 1))
                 .join(degen.select("conv_id"), "conv_id", "left_anti")
                 .select(md5_long(F.col("conv_id")).alias("doc_id"),
                         "conv_id", F.col("doc").alias("text")))
    # cached: lsh_candidate_pairs consumes the bands through two
    # exchange subtrees (stats aggregation + join probe) that
    # ReuseExchange cannot dedup — uncached, the tokenize+md5 signature
    # stage (the hottest per-conv work here) would run twice
    sigs = survivors.select("doc_id", "text").mapInPandas(
        minhash_sig_stage(), "doc_id long, sig array<long>").persist()
    if _track is not None:
        _track.append(sigs)
    pairs = (lsh_candidate_pairs(minhash_bands(sigs))
             .select("doc_a", "doc_b").distinct())
    ids = survivors.select("doc_id", "conv_id")
    # CLUSTER first-wins, not one-hop: connected components over the
    # conv-grain pair graph (min-label via the dd_dup_clusters
    # machinery); every conversation except its component's MIN conv_id
    # drops. The old one-hop rule (drop greatest of ANY colliding pair)
    # over-dropped chains: pairs (A,C),(B,C) with A<B<C kept A and B —
    # two near-dups of the same C surviving together — while the
    # component keeps exactly one representative per duplicate cluster.
    conv_pairs = (
        pairs
        .join(ids.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("conv_id", "conv_a"), "doc_a")
        .join(ids.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("conv_id", "conv_b"), "doc_b")
        .select(F.col("conv_a").alias("src"), F.col("conv_b").alias("dst")))
    labels = min_label_components(conv_pairs.sparkSession, conv_pairs,
                                  warn_tag="conv_curation_flags")
    near_dropped = (labels.where(F.col("doc_id") != F.col("label"))
                    .select(F.col("doc_id").alias("conv_id"))
                    .withColumn("near_dup", F.lit(True)))

    # decontamination against the eval-suite slice of conversations
    # (md5-bridge membership, engine-exact): a non-benchmark conversation
    # sharing any CONTAM_NGRAM-token shingle of assembled text with a
    # benchmark conversation drops. Benchmark side broadcasts — eval
    # suites are tiny next to the corpus.
    from pyspark.sql.functions import broadcast
    bench_thr = smp_threshold_u64(CONV_BENCH_RATE) - 2**63
    is_bench = md5_long(
        F.concat(F.col("conv_id"), F.lit(":bench"))) < F.lit(bench_thr)
    n = CONTAM_NGRAM
    csh = (conv.where(F.size("ct") >= n)
           .select("conv_id", is_bench.alias("is_bench"),
                   F.explode(F.expr(token_shingle_expr("ct", n)))
                   .alias("s")))
    bench_sh = csh.where("is_bench").select("s").distinct()
    contam = (csh.where(~F.col("is_bench"))
              .join(broadcast(bench_sh), "s")
              .select("conv_id").distinct()
              .withColumn("contaminated", F.lit(True)))

    thr = smp_threshold_u64(CONV_KEEP_RATE) - 2**63
    sampled_in = md5_long(
        F.concat(F.col("conv_id"), F.lit(":csmp"))) < F.lit(thr)
    reason = (F.when(F.col("quality_fail"), "quality")
              .when(F.coalesce(F.col("degenerate"), F.lit(False)),
                    "degenerate")
              .when(F.col("dup_rank") > 1, "exact_dup")
              .when(F.coalesce(F.col("near_dup"), F.lit(False)), "near_dup")
              .when(F.coalesce(F.col("contaminated"), F.lit(False)),
                    "contaminated")
              .when(~sampled_in, "sampled_out"))
    return (flags0.join(degen, "conv_id", "left")
            .join(near_dropped, "conv_id", "left")
            .join(contam, "conv_id", "left")
            .select("conv_id", "n_turns", reason.alias("drop_reason")))


def run_conv_curation(spark, t: DataFrame, out_dir: str) -> dict:
    """Curate a transcripts frame at the conversation grain: write the
    KEPT conversations' turns as parquet plus a funnel manifest. The
    kept-set join is a broadcast-friendly semi join on conv_id (the flag
    frame is one row per conversation)."""
    t0 = time.time()
    artifact.invalidate(out_dir)
    intermediates: list[DataFrame] = []
    flags = conv_curation_flags(t, _track=intermediates).persist()
    try:
        funnel = {r["stage"]: r["n"] for r in
                  (flags.groupBy(F.coalesce("drop_reason", F.lit("kept"))
                                 .alias("stage"))
                   .agg(F.count("*").alias("n")).collect())}
        kept = flags.where(F.col("drop_reason").isNull()).select("conv_id")
        (t.join(kept, "conv_id", "semi")
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, "curated_convs")))
        manifest = {
            "curator_version": CONV_CURATOR_VERSION,
            "thresholds": {
                "min_conv_chars": MIN_CONV_CHARS,
                "keep_rate": CONV_KEEP_RATE,
                "bench_rate": CONV_BENCH_RATE,
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
        for df in intermediates:
            df.unpersist()

