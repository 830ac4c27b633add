"""End-to-end corpus curation pipeline: the pass a 100 TB pretraining
corpus takes between extraction and training, composed from the
operators/quality.py gates into ONE DataFrame plan:

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
oracle-paired at the driver (operators/__init__.py: `curate_funnel`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..operators.classifier import (CLS_THRESHOLD, classifier_score_expr,
                                    classifier_score_sql)
from ..operators.corpus import _md5_long
from ..operators.quality import (BENCH_MOD, CHUNK_TOKENS, CONTAM_NGRAM,
                                 MAX_DUP_BIGRAM_BP, MAX_TOP_TOKEN_BP,
                                 MIN_TOKENS, SMP_RATES, _smp_threshold_u64,
                                 _TOKENS, token_shingle_expr,
                                 with_repetition_signals)
from . import artifact

# gate thresholds (documented defaults; callers override per corpus)
# MIN_TOKENS / MAX_TOP_TOKEN_BP / MAX_DUP_BIGRAM_BP now live in
# operators/quality.py (txt_gate_agreement shares them) and are
# imported above
MAX_SHARED_CHUNK_BP = 5000  # C4: ≥ half the chunks shared → near-dup drop

# v2: learned hashed-feature classifier gate after the heuristic gate
CURATOR_VERSION = "curate-v2"


def curation_flags(docs: DataFrame,
                   sample_rates: dict[str, float] | None = None) -> DataFrame:
    """(doc_id, lang, text, drop_reason) for every input doc; drop_reason
    NULL = kept. Priority: quality > classifier > exact_dup > chunk_dup
    > contaminated > sampled_out — each doc reports the FIRST gate that
    rejects it. `classifier` is the learned hashed-feature gate
    (operators/classifier.py): a map-only integer score riding the same
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
    toks = docs.selectExpr("doc_id", f"{_TOKENS} AS t").persist()

    # exact dedup: first-wins inside each normalized-text hash group
    wdup = Window.partitionBy("text_hash").orderBy("doc_id")
    exact = (docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+", " "))
        .alias("text_hash"))
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
                  "doc_id",
                  f"explode(transform("
                  f" sequence(0, cast(ceil(size(t) / {CHUNK_TOKENS}.0)"
                  f" AS int) - 1),"
                  f" i -> array_join(slice(t, i * {CHUNK_TOKENS} + 1,"
                  f" {CHUNK_TOKENS}), ' '))) AS chunk")
              .select("doc_id", _md5_long(F.col("chunk")).alias("chunk_hash")))
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
    h = _md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":strat")))
    sampled_in = F.lit(False)
    for lang, rate in rates.items():
        thr = _smp_threshold_u64(rate) - 2**63
        sampled_in = F.when(F.col("lang") == lang,
                            h < F.lit(thr)).otherwise(sampled_in)

    # Gopher repetition signals ride the base scan MAP-SIDE (sort-run
    # fold per doc, quality.with_repetition_signals) — a per-doc stat
    # needs no corpus shuffle and no join back
    bp = lambda a, b: F.floor(F.col(a).cast("double") / F.col(b) * 10000)  # noqa: E731
    flagged = (with_repetition_signals(
                   docs.selectExpr("doc_id", "lang", "text",
                                   f"{_TOKENS} AS t"))
               .select("doc_id", "lang", "text",
                       sampled_in.alias("sampled_in"),
                       F.col("n_tok"),
                       bp("max_tok", "n_tok").alias("top_token_bp"),
                       bp("dup_bg", "n_bg").alias("dup_bigram_bp"),
                       F.expr(classifier_score_expr("t"))
                       .alias("cls_score"))
               .join(exact, "doc_id", "left")
               .join(share, "doc_id", "left")
               .join(contam, "doc_id", "left"))
    quality_fail = (F.col("n_tok").isNull()
                    | (F.col("n_tok") < MIN_TOKENS)
                    | (F.col("top_token_bp") > MAX_TOP_TOKEN_BP)
                    | (F.col("dup_bigram_bp") > MAX_DUP_BIGRAM_BP))
    reason = (F.when(quality_fail, "quality")
              .when(F.col("cls_score") <= CLS_THRESHOLD, "classifier")
              .when(F.col("dup_rank") > 1, "exact_dup")
              .when(F.coalesce(F.col("shared_bp"), F.lit(0))
                    >= MAX_SHARED_CHUNK_BP, "chunk_dup")
              .when(F.coalesce(F.col("contaminated"), F.lit(False)),
                    "contaminated")
              .when(~F.col("sampled_in"), "sampled_out"))
    return flagged.select("doc_id", "lang", "text",
                          reason.alias("drop_reason"))


def curate_funnel(spark, sf_dir) -> DataFrame:
    """Per-stage funnel counts of the full curation pipeline over the
    documents table — the oracle-paired surface of run_curation (the
    driver replays the identical gates in SQL)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (curation_flags(docs)
            .groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept"))
                     .alias("stage"))
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("stage"))


def _smp_cases() -> str:
    return "\n".join(
        f"         WHEN lang = '{lang}' THEN h < {_smp_threshold_u64(rate)}"
        for lang, rate in SMP_RATES.items())


CURATE_FUNNEL_SQL = f"""
WITH docs AS (
  SELECT doc_id, lang, text, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
uni AS (
  SELECT doc_id, MAX(c) AS max_tok, CAST(SUM(c) AS BIGINT) AS n_tok FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(t) AS g FROM docs WHERE len(t) >= 2)
    GROUP BY 1, 2)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bg
  FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i + 1])) AS g
          FROM docs WHERE len(t) >= 2) GROUP BY 1, 2)
  GROUP BY doc_id
),
rep AS (
  SELECT uni.doc_id, n_tok,
         CAST(FLOOR(CAST(max_tok AS DOUBLE) / n_tok * 10000) AS BIGINT)
           AS top_token_bp,
         CAST(FLOOR(CAST(dup_bg AS DOUBLE) / n_bg * 10000) AS BIGINT)
           AS dup_bigram_bp
  FROM uni JOIN bg ON uni.doc_id = bg.doc_id
),
cls AS (
  SELECT doc_id, {classifier_score_sql('t')} AS cls_score FROM docs
),
exact AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
           ORDER BY doc_id) AS dup_rank
  FROM docs
),
ch AS (
  SELECT doc_id, chunk
  FROM (SELECT doc_id,
               unnest(list_transform(
                 range(0, cast(ceil(len(t) / {CHUNK_TOKENS}.0) AS int)),
                 i -> array_to_string(t[i * {CHUNK_TOKENS} + 1
                        : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' '))) AS chunk
        FROM docs
        WHERE doc_id IN (SELECT doc_id FROM exact WHERE dup_rank = 1))
),
share AS (
  SELECT doc_id,
         CAST(FLOOR(CAST(SUM(CASE WHEN min_doc < doc_id THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*) * 10000) AS BIGINT)
           AS shared_bp
  FROM ch JOIN (SELECT chunk, MIN(doc_id) AS min_doc
                FROM ch GROUP BY chunk) USING (chunk)
  GROUP BY doc_id
),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - {CONTAM_NGRAM - 2}),
                  i -> {" || ' ' || ".join(f"t[i + {j}]" for j in range(CONTAM_NGRAM))})) AS s
    FROM docs WHERE len(t) >= {CONTAM_NGRAM})
),
contam AS (
  SELECT DISTINCT c.doc_id FROM sh c
  JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0) b USING (s)
  WHERE c.doc_id % {BENCH_MOD} <> 0
),
samp AS (
  SELECT doc_id,
         CASE
{_smp_cases()}
         ELSE FALSE END AS sampled_in
  FROM (SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'),
                1, 16))::UBIGINT AS h
        FROM docs)
),
flags AS (
  SELECT d.doc_id,
         CASE
           WHEN rep.n_tok IS NULL OR rep.n_tok < {MIN_TOKENS}
                OR rep.top_token_bp > {MAX_TOP_TOKEN_BP}
                OR rep.dup_bigram_bp > {MAX_DUP_BIGRAM_BP} THEN 'quality'
           WHEN cls.cls_score <= {CLS_THRESHOLD} THEN 'classifier'
           WHEN exact.dup_rank > 1 THEN 'exact_dup'
           WHEN COALESCE(share.shared_bp, 0) >= {MAX_SHARED_CHUNK_BP}
             THEN 'chunk_dup'
           WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
           WHEN NOT samp.sampled_in THEN 'sampled_out'
           ELSE 'kept' END AS stage
  FROM docs d
  LEFT JOIN rep ON d.doc_id = rep.doc_id
  LEFT JOIN cls ON d.doc_id = cls.doc_id
  LEFT JOIN exact ON d.doc_id = exact.doc_id
  LEFT JOIN share ON d.doc_id = share.doc_id
  LEFT JOIN contam ON d.doc_id = contam.doc_id
  LEFT JOIN samp ON d.doc_id = samp.doc_id
)
SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM flags GROUP BY stage ORDER BY stage
"""


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


# self-registration for the curate-first import order (see
# operators/__init__._register_curate for the operators-first order)
from ..operators import ALL_QUERIES as _ALL_QUERIES  # noqa: E402

_ALL_QUERIES["curate_funnel"] = (curate_funnel, CURATE_FUNNEL_SQL)
