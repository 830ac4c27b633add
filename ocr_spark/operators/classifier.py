"""The learned quality gate as an oracle-paired query: the shipped
hashed-feature linear model (functions/classifier.py) scores the
documents table, and the DuckDB oracle is generated from the same weight
constants."""

from __future__ import annotations

from ..functions.classifier import (CLS_THRESHOLD, classifier_score_sql,
                                    score_frame)

# the same whitespace class as functions.text.TOKENS_EXPR (explicit
# Java-\s), in DuckDB's escaping convention
_WS_SQL = "[ \\t\\n\\x0b\\f\\r]+"


def txt_classifier_score(spark, sf_dir):
    """Per-document learned quality score over the documents table: the
    shipped hashed-feature linear model as ONE map-only projection
    (tokenize → hash → integer weight sum). `pred` is the gate decision
    the curation funnel composes (score_sum > 0 keeps)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return score_frame(docs)


def _txt_classifier_sql() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id,
         string_split_regex(lower(text), '{_WS_SQL}') AS t
  FROM documents WHERE doc_id IS NOT NULL
), scored AS (
  SELECT doc_id,
         CAST(len(list_distinct(list_concat(t,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))))
           AS BIGINT) AS n_feats,
         {classifier_score_sql('t')} AS score_sum
  FROM docs
)
SELECT doc_id, n_feats, score_sum,
       CAST(score_sum > {CLS_THRESHOLD} AS INT) AS pred
FROM scored ORDER BY doc_id
"""


QUERIES = {
    "txt_classifier_score": (txt_classifier_score, _txt_classifier_sql()),
}
