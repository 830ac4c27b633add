"""The two curation-funnel queries: the oracle-paired surfaces of the
document-grain (pipeline/curate.py) and conversation-grain
(pipeline/curate_convs.py) curation pipelines.

The funnels compose the pipeline's flag plans, so each query imports its
pipeline inside the function body: importing the operator layer never
loads pipeline/ (the extraction queries call extract_turns the same
way). The thresholds both the Spark plan and the oracle SQL embed live
in functions/quality.py, which the pipelines import too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.classifier import CLS_THRESHOLD, classifier_score_sql
from ..functions.hashing import SMP_RATES, smp_threshold_u64
from ..functions.minhash import MINHASH_CTES
from ..functions.quality import (BENCH_MOD, CONTAM_NGRAM, CONV_BENCH_RATE,
                                 CONV_KEEP_RATE, DEGEN_DUP_BP,
                                 MAX_DUP_BIGRAM_BP, MAX_SHARED_CHUNK_BP,
                                 MAX_TOP_TOKEN_BP, MIN_CONV_CHARS, MIN_TOKENS)
from ..functions.text import CHUNK_TOKENS
from ..sources.synthetic import agent_transcripts, agent_transcripts_sql
from .extraction import degen_turns_ctes


def curate_funnel(spark, sf_dir) -> DataFrame:
    """Per-stage funnel counts of the full curation pipeline over the
    documents table — the oracle-paired surface of run_curation (the
    driver replays the identical gates in SQL)."""
    from ..pipeline.curate import curation_flags
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (curation_flags(docs)
            .groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept"))
                     .alias("stage"))
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("stage"))


def _smp_cases() -> str:
    return "\n".join(
        f"         WHEN lang = '{lang}' THEN h < {smp_threshold_u64(rate)}"
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


def conv_curate_funnel(spark, sf_dir, conv_mod: int = 50) -> DataFrame:
    """Per-stage funnel over the synthesized agent transcripts — the
    oracle-paired surface of run_conv_curation. conv_mod=25 mixes all
    four roles per conversation (the registered query keeps the default
    50; the 25 twin makes the degenerate branch's oracle differential
    REAL in tests — under 50, role parity means no conversation carries
    both a user and an assistant turn)."""
    from ..pipeline.curate_convs import conv_curation_flags
    t = agent_transcripts(spark, sf_dir, conv_mod=conv_mod)
    return (conv_curation_flags(t)
            .groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept"))
                     .alias("stage"))
            .agg(F.count("*").cast("long").alias("n_convs"),
                 F.sum("n_turns").cast("long").alias("n_turns"))
            .orderBy("stage"))


def conv_curate_sql(conv_mod: int = 50) -> str:
    """The funnel oracle at an arbitrary conv modulus (mirrors
    conv_curate_funnel's conv_mod)."""
    return f"""
WITH RECURSIVE t AS ({agent_transcripts_sql(conv_mod)}),
conv AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_user,
         CAST(SUM(len(text)) AS BIGINT) AS total_chars,
         string_agg(text, chr(10) ORDER BY turn_idx, text) AS doc
  FROM t GROUP BY conv_id
),
flags0 AS (
  SELECT *,
         (n_user < 1 OR total_chars < {MIN_CONV_CHARS}) AS quality_fail,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(lower(doc), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
           ORDER BY conv_id) AS dup_rank
  FROM conv
),
{degen_turns_ctes(conv_mod)},
dg_degen AS (
  SELECT DISTINCT conv_id FROM dg_scored WHERE dup_bp >= {DEGEN_DUP_BP}
),
ids AS (
  SELECT conv_id, doc AS text,
         CAST(('0x' || substr(md5(conv_id), 1, 16))::UBIGINT::HUGEINT
              - 9223372036854775808 AS BIGINT) AS doc_id
  FROM flags0 WHERE NOT quality_fail AND dup_rank = 1
    AND conv_id NOT IN (SELECT conv_id FROM dg_degen)
),
{MINHASH_CTES.format(src="ids")},
near_edges AS (
  SELECT ia.conv_id AS src, ib.conv_id AS dst
  FROM (SELECT DISTINCT doc_a, doc_b FROM cand_pairs) p
  JOIN ids ia ON ia.doc_id = p.doc_a
  JOIN ids ib ON ib.doc_id = p.doc_b
),
near_sym AS (
  SELECT src, dst FROM near_edges UNION SELECT dst, src FROM near_edges
),
-- cluster first-wins: per-vertex MIN over the transitive closure of
-- the colliding-pair graph; every conversation except its component's
-- min conv_id drops (mirrors min_label_components' fixpoint)
near_reach AS (
  SELECT src AS conv_id, src AS label FROM near_sym
  UNION
  SELECT e.dst AS conv_id, r.label
  FROM near_reach r JOIN near_sym e ON e.src = r.conv_id
),
near AS (
  SELECT conv_id FROM near_reach GROUP BY conv_id
  HAVING MIN(label) != conv_id
),
csh AS (
  SELECT DISTINCT conv_id, is_bench, s FROM (
    SELECT conv_id,
           ('0x' || substr(md5(conv_id || ':bench'), 1, 16))::UBIGINT
             < {smp_threshold_u64(CONV_BENCH_RATE)} AS is_bench,
           unnest(list_transform(range(1, len(ct) - {CONTAM_NGRAM - 2}),
                  i -> {" || ' ' || ".join(f"ct[i + {j}]" for j in range(CONTAM_NGRAM))})) AS s
    FROM (SELECT conv_id, string_split_regex(lower(doc), '[ \\t\\n\\x0b\\f\\r]+') AS ct
          FROM conv)
    WHERE len(ct) >= {CONTAM_NGRAM})
),
contam AS (
  SELECT DISTINCT c.conv_id FROM csh c
  JOIN (SELECT DISTINCT s FROM csh WHERE is_bench) b USING (s)
  WHERE NOT c.is_bench
),
samp AS (
  SELECT conv_id,
         ('0x' || substr(md5(conv_id || ':csmp'), 1, 16))::UBIGINT
           < {smp_threshold_u64(CONV_KEEP_RATE)} AS sampled_in
  FROM conv
),
staged AS (
  SELECT f.conv_id, f.n_turns,
         CASE WHEN f.quality_fail THEN 'quality'
              WHEN dg.conv_id IS NOT NULL THEN 'degenerate'
              WHEN f.dup_rank > 1 THEN 'exact_dup'
              WHEN near.conv_id IS NOT NULL THEN 'near_dup'
              WHEN contam.conv_id IS NOT NULL THEN 'contaminated'
              WHEN NOT samp.sampled_in THEN 'sampled_out'
              ELSE 'kept' END AS stage
  FROM flags0 f
  LEFT JOIN dg_degen dg ON dg.conv_id = f.conv_id
  LEFT JOIN near ON near.conv_id = f.conv_id
  LEFT JOIN contam ON contam.conv_id = f.conv_id
  LEFT JOIN samp ON samp.conv_id = f.conv_id
)
SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_convs,
       CAST(SUM(n_turns) AS BIGINT) AS n_turns
FROM staged GROUP BY stage ORDER BY stage
"""


CONV_CURATE_SQL = conv_curate_sql()


QUERIES = {
    "curate_funnel": (curate_funnel, CURATE_FUNNEL_SQL),
    "conv_curate_funnel": (conv_curate_funnel, CONV_CURATE_SQL),
}
