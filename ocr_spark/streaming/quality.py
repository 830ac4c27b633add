"""Streaming corpus quality gate.

The doc-local half of the curation pipeline (token floor + Gopher
repetition caps) re-expressed as PURE column expressions over the token
array — no explode, no groupBy, no state — so the exact same gate runs
unchanged on a streaming DataFrame: a corpus can be quality-filtered
while it lands, with the cross-doc gates (dedup, decontamination,
sampling) left to the batch curation pass or the stateful MinHash
near-dedup operator (streaming/stateful.py).

The repetition signals are the shared map-only sort-run fold
(operators/quality.with_repetition_signals): O(n log n) per doc, zero
shuffles, so the identical computation serves batch curation and any
streaming trigger. Equivalence with an independently-built keyed
explode+groupBy aggregation is pinned by
tests/test_streaming_quality.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import TOKENS_EXPR
from ..operators.quality import (MAX_DUP_BIGRAM_BP, MAX_TOP_TOKEN_BP,
                                 MIN_TOKENS, blocklist_reason_col,
                                 chunk_windows_from, with_repetition_signals)


def quality_signals(docs: DataFrame) -> DataFrame:
    """doc_id, n_tokens_b, top_token_bp, dup_bigram_bp as map-only
    expressions (same outputs as the keyed-aggregation form for docs
    with ≥2 tokens)."""
    bp = "FLOOR(CAST({a} AS DOUBLE) / {b} * 10000)"
    return (with_repetition_signals(
                docs.selectExpr("*", f"{TOKENS_EXPR} AS _t"),
                tcol="_t")
            .selectExpr(
                "*",
                "CAST(size(_t) AS BIGINT) AS n_tokens_b",
                bp.format(a="max_tok", b="n_tok") + " AS top_token_bp",
                bp.format(a="dup_bg", b="n_bg") + " AS dup_bigram_bp")
            .drop("_t", "n_tok", "max_tok", "max_bg", "n_bg", "dup_bg"))


def quality_gate_stream(docs: DataFrame) -> DataFrame:
    """Filter a (streaming or batch) documents DataFrame to the rows that
    pass the doc-local curation gates, annotating the signals. Stateless
    map-only plan — valid under any streaming trigger, no watermark
    needed."""
    sig = quality_signals(docs)
    return sig.where(
        (F.col("n_tokens_b") >= MIN_TOKENS)
        & (F.col("n_tokens_b") >= 2)
        & (F.col("top_token_bp") <= MAX_TOP_TOKEN_BP)
        & (F.col("dup_bigram_bp") <= MAX_DUP_BIGRAM_BP))


def classifier_gate_stream(docs: DataFrame) -> DataFrame:
    """Filter a (streaming or batch) documents DataFrame through the
    learned hashed-feature quality gate (operators/classifier.py) —
    the identical integer score expression the batch curation funnel's
    'classifier' stage evaluates (shared builder: with_classifier_score,
    so tokenization lives in one place), as a stateless map-only plan.
    Survivors keep their score in `cls_score`."""
    from ..operators.classifier import CLS_THRESHOLD, with_classifier_score
    return (with_classifier_score(docs)
            .where(F.col("cls_score") > CLS_THRESHOLD))


def blocklist_gate_stream(docs: DataFrame) -> DataFrame:
    """Drop documents whose text matches the phrase blocklist, annotating
    the surviving rows with block_reason == 'kept'. Stateless map-only
    expression (operators/quality.blocklist_reason_col), so the identical
    gate runs on a stream under any trigger; batch/stream equivalence is
    pinned by tests/test_streaming_quality.py."""
    return (docs.withColumn("block_reason",
                            blocklist_reason_col(F.col("text")))
            .where(F.col("block_reason") == "kept"))


def url_spam_gate_stream(docs: DataFrame) -> DataFrame:
    """Drop link farms as documents land: the txt_url_density spam
    predicate (URL characters >= URL_SPAM_BP of the text, integer
    arithmetic — no ROUND edge) as a stateless map-only expression,
    annotating survivors with their link share. Same regex class as the
    batch op ([!-~], Java/RE2-identical); batch/stream equivalence is
    pinned by tests/test_streaming_quality.py."""
    from ..functions.text import URL_RE
    from ..operators.quality import URL_SPAM_BP
    url_chars = (
        "CAST(length(coalesce(text, '')) - length(regexp_replace("
        f"coalesce(text, ''), '{URL_RE}', '')) AS BIGINT)")
    n_chars = "CAST(length(coalesce(text, '')) AS BIGINT)"
    # underscore names: the documents schema already carries n_chars
    return (docs.selectExpr(
                "*", f"{url_chars} AS _uq_url", f"{n_chars} AS _uq_len")
            .where(f"NOT (_uq_len > 0"
                   f" AND _uq_url * 10000 >= _uq_len * {URL_SPAM_BP})")
            .selectExpr(
                "* EXCEPT (_uq_url, _uq_len)",
                "CAST(_uq_url * 10000 DIV greatest(_uq_len, 1) AS BIGINT)"
                " AS link_char_bp"))


def entropy_gate_stream(docs: DataFrame) -> DataFrame:
    """Drop low-entropy (near-constant / machine-junk) documents as they
    land: the integer-bits entropy fold (operators/quality.
    with_entropy_bits — the txt_entropy signal, shared builder so batch
    and stream cannot drift) as a stateless map-only plan, gating on
    bits-per-token ≥ ENT_GATE_MIN_BPT_BP. Survivors keep n_tokens /
    ent_bits / bpt_bp. Batch/stream equivalence pinned by
    tests/test_streaming_quality.py."""
    from ..operators.quality import ENT_GATE_MIN_BPT_BP, with_entropy_bits
    return (with_entropy_bits(docs)
            .where(F.col("bpt_bp") >= ENT_GATE_MIN_BPT_BP))


def bloom_check_stream(docs: DataFrame, bits: DataFrame,
                       m: int) -> DataFrame:
    """Streaming Bloom membership check: documents ARRIVING on a stream
    probe the committed corpus Bloom filter (corpus.bloom_bits_build) —
    the dedup_index.check_stream shape with an O(m/8)-byte static side
    instead of the full band index (the reason real pipelines put a
    Bloom in FRONT of the exact index: most novel docs resolve against
    bits that fit in memory). Stateless stream-static LEFT join; output
    grain is (doc_id, pos, hit) — one row per probe position, per-doc
    roll-up (n_hits == BLOOM_K ⇒ bloom-dup) is the consumer's
    aggregation, exactly as check_stream leaves it. Batch equivalence
    with dd_bloom_check's n_hits is pinned by
    tests/test_streaming_quality.py."""
    from ..operators.corpus import bloom_probe_frame
    probes = bloom_probe_frame(docs, m)
    return (probes.join(bits.withColumn("hit", F.lit(1)), "pos", "left")
            .select("doc_id", "pos",
                    F.coalesce(F.col("hit"), F.lit(0)).alias("hit")))


def chunk_windows_stream(docs: DataFrame) -> DataFrame:
    """Overlapping token-window chunks of a (streaming or batch)
    documents frame — txt_chunk_windows' exact projection without its
    presentation sort (a stream can't globally order): stateless split →
    explode → slice, the shape that feeds an embedding index while the
    corpus lands."""
    return chunk_windows_from(docs)
