"""Corpus quality / curation operators for a training-data pipeline.

The second half of the corpus layer (first half: ocr_spark/operators/
corpus.py — dedup, similarity, text stats): the curation passes a 100 TB
pretraining pipeline runs between extraction and training. Everything here
is pure Spark column expressions + keyed aggregations — no Python in the
hot path — and every operator is oracle-paired (the fractions are emitted
as floor(x*1e4) basis points so both engines derive the identical IEEE
double before an engine-neutral floor; no ROUND-of-double edge class).

Scale notes:
- repetition / chunk-dup explode token n-grams but aggregate them keyed by
  (doc_id, gram) with map-side combine, so the shuffle carries one row per
  distinct gram per doc per partition — never the raw token stream;
- chunk-dup's corpus-wide stats shuffle on the chunk HASH (8-byte md5
  fold), the standard C4 line-dedup shape; the join back to docs is on the
  same key, so AQE can co-locate the two sides;
- contamination broadcasts the benchmark shingle set (benchmarks are tiny
  next to the corpus) — no shuffle touches the 100 TB side beyond the
  per-doc count;
- stratified sampling and token-budget capping are map-only / one window:
  the md5-bridge keeps the sampling decision deterministic and
  engine-reproducible (same trick as functions.hashing.md5_long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.classifier import (CLS_THRESHOLD, classifier_score_expr,
                                    classifier_score_sql)
from ..functions.frames import (PACK_SEQ_LEN, len_bucket, len_bucket_frame,
                                pack_placement_from, sharded_prefix_sum)
from ..functions.hashing import (N_TRAIN_SHARDS, SMP_RATES, content_md5,
                                 md5_long, shard_key_column, smp_threshold_u64,
                                 stratified_keep)
from ..functions.quality import (BENCH_MOD, BIGINT_ONE, BIGINT_ZERO,
                                 CONTAM_NGRAM, MAX_DUP_BIGRAM_BP,
                                 MAX_TOP_TOKEN_BP, MIN_TOKENS, floor_bp,
                                 gopher_fail, with_repetition_signals)
from ..functions.text import (CHUNK_TOKENS, TOKENS_EXPR, URL_RE,
                              token_chunks_expr)
from ..sources.synthetic import agent_transcripts, agent_transcripts_sql
from .corpus import _STOPWORDS_EN, _URL_KEYED_CTES, _docs

# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def txt_repetition(spark, sf_dir):
    """Per-doc repetition signals a Gopher-style quality filter gates on:
    most-frequent-token share, most-frequent-bigram share, and the share
    of bigram instances whose bigram repeats within the doc. Emitted as
    floor(frac*1e4) basis points (engine-neutral: both engines floor the
    identical IEEE quotient). Map-only sort-run fold per doc (see
    with_repetition_signals) — zero shuffles; the DuckDB oracle computes
    the same numbers via the keyed explode + GROUP BY form, so the
    driver compare is differential across both algorithms."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{TOKENS_EXPR} AS t").where("size(t) >= 2")
    return (with_repetition_signals(docs)
            .select("doc_id",
                    F.col("n_tok").cast("long").alias("n_tokens_b"),
                    floor_bp("max_tok", "n_tok").alias("top_token_bp"),
                    floor_bp("max_bg", "n_bg").alias("top_bigram_bp"),
                    floor_bp("dup_bg", "n_bg").alias("dup_bigram_bp"))
            .orderBy("doc_id"))


TXT_REPETITION_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM documents WHERE doc_id IS NOT NULL AND len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) >= 2
),
uni AS (
  SELECT doc_id, MAX(c) AS max_tok, CAST(SUM(c) AS BIGINT) AS n_tok FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(t) AS g FROM tok) GROUP BY 1, 2)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id, MAX(c) AS max_bg, CAST(SUM(c) AS BIGINT) AS n_bg,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bg
  FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1])) AS g
          FROM tok) GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT uni.doc_id, n_tok AS n_tokens_b,
       CAST(FLOOR(CAST(max_tok AS DOUBLE) / n_tok * 10000) AS BIGINT) AS top_token_bp,
       CAST(FLOOR(CAST(max_bg AS DOUBLE) / n_bg * 10000) AS BIGINT) AS top_bigram_bp,
       CAST(FLOOR(CAST(dup_bg AS DOUBLE) / n_bg * 10000) AS BIGINT) AS dup_bigram_bp
FROM uni JOIN bg ON uni.doc_id = bg.doc_id
ORDER BY uni.doc_id
"""


# ---------------------------------------------------------------------------
# Cross-doc duplicate chunks (C4 line-level dedup analog)
# ---------------------------------------------------------------------------


def dd_chunk_dup(spark, sf_dir):
    """C4-style line-level dedup signal on token chunks (the transcripts
    have no newlines, so sequential 10-token chunks stand in for lines):
    per doc, the share of chunks that also appear in at least one OTHER
    doc. Chunks shuffle on their 8-byte md5 fold — one keyed corpus-wide
    aggregation + one same-key join back, the scalable line-dedup shape."""
    chunks = (
        _docs(spark, sf_dir).selectExpr("doc_id", f"{TOKENS_EXPR} AS t")
        .selectExpr(
            "doc_id",
            f"explode({token_chunks_expr('t')}) AS chunk")
        .select("doc_id", md5_long(F.col("chunk")).alias("chunk_hash")))
    stats = (chunks.groupBy("chunk_hash")
             .agg(F.countDistinct("doc_id").alias("n_docs")))
    return (chunks.join(stats, "chunk_hash")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
                 .cast("long").alias("n_shared"))
            .select("doc_id", "n_chunks", "n_shared",
                    floor_bp("n_shared", "n_chunks").alias("shared_bp"))
            .orderBy("doc_id"))


DD_CHUNK_SQL = f"""
WITH ch AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(chunk), 1, 16))::UBIGINT AS HUGEINT)
           - 9223372036854775808 AS chunk_hash
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, cast(ceil(len(t) / {CHUNK_TOKENS}.0) AS int)),
             i -> array_to_string(t[i * {CHUNK_TOKENS} + 1
                                    : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                                  ' '))) AS chunk
    FROM (SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
          FROM documents WHERE doc_id IS NOT NULL))
),
stats AS (
  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
  FROM ch GROUP BY chunk_hash
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(FLOOR(CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*) * 10000) AS BIGINT) AS shared_bp
FROM ch JOIN stats USING (chunk_hash)
GROUP BY doc_id ORDER BY doc_id
"""


def dd_chunk_dedup_strip(spark, sf_dir):
    """C4-style global line dedup as a TRANSFORM, not just a signal
    (dd_chunk_dup reports the share; this one rewrites the corpus): every
    10-token chunk that occurs more than once corpus-wide survives ONLY
    at its globally-first occurrence (min doc_id, then min chunk index);
    all later occurrences are stripped and each doc's text is reassembled
    from its kept chunks in order. A doc whose every chunk occurred
    earlier elsewhere disappears entirely — the C4 outcome.

    Plan: chunking is the dd_chunk_dup map-only projection; the keep
    decision is ONE row_number window partitioned by chunk content (the
    full-width shuffle is inherent to global line dedup — every C4-style
    pipeline pays it once, and the chunk text must travel anyway for
    reassembly); re-assembly is one groupBy(doc_id) with an ordered
    struct sort. Two shuffles total at any scale."""
    chunks = (
        _docs(spark, sf_dir).selectExpr("doc_id", f"{TOKENS_EXPR} AS t")
        .selectExpr(
            "doc_id",
            f"CAST(ceil(size(t) / {CHUNK_TOKENS}.0) AS BIGINT)"
            " AS n_chunks_in",
            f"posexplode({token_chunks_expr('t')}) AS (idx, chunk)"))
    wk = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    kept = (chunks.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") == 1))
    return (
        kept.groupBy("doc_id")
        .agg(F.max("n_chunks_in").alias("n_chunks_in"),
             F.count("*").cast("long").alias("n_chunks_kept"),
             F.array_join(
                 F.transform(
                     F.sort_array(F.collect_list(F.struct("idx", "chunk"))),
                     lambda s: s["chunk"]), " ").alias("new_text"))
        .orderBy("doc_id"))


DD_CHUNK_STRIP_SQL = f"""
WITH ch AS (
  SELECT doc_id,
         CAST(ceil(len(t) / {CHUNK_TOKENS}.0) AS BIGINT) AS n_chunks_in,
         CAST(i AS INT) AS idx,
         array_to_string(t[i * {CHUNK_TOKENS} + 1
                           : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' ')
           AS chunk
  FROM (SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
        FROM documents WHERE doc_id IS NOT NULL),
       UNNEST(range(0, cast(ceil(len(t) / {CHUNK_TOKENS}.0) AS int))) AS u(i)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk
                               ORDER BY doc_id, idx) AS rk
  FROM ch
)
SELECT doc_id, MAX(n_chunks_in) AS n_chunks_in,
       CAST(COUNT(*) AS BIGINT) AS n_chunks_kept,
       string_agg(chunk, ' ' ORDER BY idx) AS new_text
FROM ranked WHERE rk = 1
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Substring-level duplication (sliding windows + winnowing)
# ---------------------------------------------------------------------------

SUBSTR_TOKENS = 8     # k: tokens per sliding window
SUBSTR_WINNOW = 4     # w: winnowing window over consecutive hashes


def _window_join(t, k: int):
    """k-token sliding windows joined with ' ', as an iterated zip_with
    chain whose lambdas touch only lambda variables. The index-lambda
    form (`t[i + j]` over a sequence) re-evaluates the computed token
    column per ELEMENT ACCESS after projection collapse (the _run_fold
    trap), making an n-window explode quadratic in doc length; here the
    token expression is evaluated only k times per row (argument
    positions). Returns size(t) entries whose last k-1 are NULL from the
    slice length mismatch — callers filter or slice them off."""
    out = t
    for j in range(1, k):
        out = F.zip_with(out, F.slice(t, j + 1, F.size(t)),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def _sliding_min(arr, w: int):
    """Width-w sliding minimum over an array expression via a least()
    zip_with chain — same lambda discipline as _window_join; the array
    expression is evaluated w+1 times per row (argument positions), not
    once per output element. Trailing partial windows (least() skips the
    NULLs) are sliced off: size(arr) - w + 1 full windows remain."""
    m = arr
    for j in range(1, w):
        m = F.zip_with(m, F.slice(arr, j + 1, F.size(arr)),
                       lambda a, b: F.least(a, b))
    return F.slice(m, 1, F.size(arr) - w + 1)


def dd_substring_dup(spark, sf_dir):
    """Substring-level dedup signal (the Lee et al. 'Deduplicating
    Training Data' class): per doc, the share of winnowed sliding-window
    fingerprints that also occur in at least one OTHER doc. Sliding
    k-token windows catch shared runs at ANY alignment — dd_chunk_dup's
    disjoint chunks miss a run that straddles a chunk boundary — and
    winnowing (Schleimer et al., SIGMOD'03) guarantees any shared run of
    >= k+w-1 tokens still yields a shared selected fingerprint while
    shuffling only ~2/(w+1) of the window hashes. The window hashing AND
    the winnowing min-selection are array expressions inside one
    projection (JVM-side, no Python): only the winnowed DISTINCT
    fingerprints are exploded, shuffled on their 8-byte md5 fold, and
    joined back on the same key — the dd_chunk_dup shape with a sliding
    front end."""
    K, W = SUBSTR_TOKENS, SUBSTR_WINNOW
    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.split(F.lower("text"), r"[ \t\n\x0b\f\r]+").alias("t"))
            # k+w-1 tokens = first full winnowing window; shorter docs
            # have no fingerprints (LEFT JOIN restores them with 0s)
            .where(F.size("t") >= K + W - 1))
    win = F.filter(_window_join(F.col("t"), K), lambda x: x.isNotNull())
    hs = F.transform(win, lambda w: md5_long(w))
    fps = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_sliding_min(hs, W))).alias("fp"))
    stats = fps.groupBy("fp").agg(F.count("*").alias("n_docs"))
    per_doc = (fps.join(stats, "fp")
               .groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_fps"),
                    F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
                    .cast("long").alias("n_shared")))
    return (_docs(spark, sf_dir).select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                    .alias("n_shared"),
                    F.coalesce(floor_bp("n_shared", "n_fps"),
                               F.lit(0)).cast("long").alias("shared_bp"))
            .orderBy("doc_id"))


DD_SUBSTR_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
hs AS (
  SELECT doc_id,
         list_transform(range(0, len(t) - {SUBSTR_TOKENS} + 1),
           i -> CAST(('0x' || substr(md5(array_to_string(
                  t[i + 1 : i + {SUBSTR_TOKENS}], ' ')), 1, 16))::UBIGINT
                  AS HUGEINT) - 9223372036854775808) AS hs
  FROM tok WHERE len(t) >= {SUBSTR_TOKENS + SUBSTR_WINNOW - 1}
),
fp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(hs) - {SUBSTR_WINNOW} + 1),
                  j -> list_min(hs[j + 1 : j + {SUBSTR_WINNOW}]))) AS fp
    FROM hs)
),
stats AS (SELECT fp, COUNT(*) AS n_docs FROM fp GROUP BY fp),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
         CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM fp JOIN stats USING (fp) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_fps, 0) AS BIGINT) AS n_fps,
       CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(FLOOR(CAST(n_shared AS DOUBLE) / n_fps * 10000), 0)
            AS BIGINT) AS shared_bp
FROM documents d LEFT JOIN per_doc USING (doc_id)
WHERE d.doc_id IS NOT NULL
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Benchmark contamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------


def txt_contamination(spark, sf_dir):
    """Decontamination check: corpus docs sharing any 5-token shingle with
    the 'benchmark' set (stand-in: doc_id % 97 == 0). The benchmark
    shingle set is tiny next to the corpus, so it is broadcast — the
    corpus side is scanned once, map-side joined, and aggregated per doc;
    no corpus-wide shuffle of shingles."""
    n = CONTAM_NGRAM
    t = F.split(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+")
    grams = F.array_distinct(
        F.filter(_window_join(t, n), lambda x: x.isNotNull()))
    sh = (_docs(spark, sf_dir)
          .where(F.size(t) >= n)
          .select("doc_id", F.explode(grams).alias("s")))
    bench = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
             .select("s").distinct())
    return (sh.where(F.col("doc_id") % BENCH_MOD != 0)
            .join(broadcast(bench), "s")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_hits"))
            .orderBy("doc_id"))


TXT_CONTAM_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - {CONTAM_NGRAM - 2}),
                  i -> {" || ' ' || ".join(f"t[i + {j}]" for j in range(CONTAM_NGRAM))})) AS s
    FROM (SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
          FROM documents
          WHERE doc_id IS NOT NULL
            AND len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) >= {CONTAM_NGRAM}))
)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM sh c JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0) b
  USING (s)
WHERE c.doc_id % {BENCH_MOD} <> 0
GROUP BY c.doc_id ORDER BY c.doc_id
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# RE2-safe (no lookaround) AND Java-regex-identical patterns
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def txt_pii_scrub(spark, sf_dir):
    """PII scrub: count + redact emails / phone numbers / IPv4s. The
    testdata transcripts carry no PII, so a deterministic payload derived
    from doc_id is appended on BOTH engines (same expression) — the regex
    extraction and redaction are then exercised against real matches and
    checked end-to-end via the md5 of the redacted text. Map-only; at
    100 TB this is one codegen'd projection, no shuffle."""
    docs = _docs(spark, sf_dir)
    payload = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" call +1-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" from 10.0."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit("."),
                        ((F.col("doc_id") * 7) % 256).cast("string")))
        .otherwise(F.lit("")))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(payload, _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return (docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(payload, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(payload, F.lit(_PII_PHONE), F.lit(0)))
        .cast("long").alias("n_phone"),
        F.size(F.regexp_extract_all(payload, F.lit(_PII_IP), F.lit(0)))
        .cast("long").alias("n_ip"),
        F.md5(red).alias("scrub_hash"))
        .orderBy("doc_id"))


_PII_PAYLOAD_SQL = """
  text
  || CASE WHEN doc_id % 2 = 0
          THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END
  || CASE WHEN doc_id % 3 = 0
          THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  || CASE WHEN doc_id % 5 = 0
          THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
          ELSE '' END
"""

TXT_PII_SQL = f"""
WITH p AS (
  SELECT doc_id, {_PII_PAYLOAD_SQL} AS payload
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id,
       CAST(len(regexp_extract_all(payload, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(payload, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(payload, '{_PII_IP}')) AS BIGINT) AS n_ip,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(payload, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_hash
FROM p ORDER BY doc_id
"""


# boilerplate/spam phrase blocklist (C4's badwords-filter shape); first
# match in list order wins as the block reason
BLOCK_PHRASES = ("click here", "lorem ipsum", "subscribe now")


def txt_blocklist_filter(spark, sf_dir):
    """Phrase-blocklist gate (the C4 badwords/boilerplate filter shape):
    a document is blocked when its lowercased text contains any blocklist
    phrase; the FIRST matching phrase (list order) is the block reason.
    The synthetic corpus carries no such phrases, so — like txt_pii_scrub
    — a deterministic payload derived from doc_id is appended on BOTH
    engines before matching, exercising the gate against real hits.
    Map-only projection + one tiny groupBy(source, reason); the corpus
    side never shuffles wide at any scale."""
    docs = _docs(spark, sf_dir)
    payload = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.col("doc_id") % 13 == 5,
               F.lit(" please Click Here for more")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 9,
               F.lit(" Lorem Ipsum dolor sit")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 11,
               F.lit(" SUBSCRIBE NOW friends")).otherwise(F.lit("")))
    low = F.lower(F.coalesce(payload, F.lit("")))
    reason = F.lit("kept")
    for phrase in reversed(BLOCK_PHRASES):  # earlier phrases win
        reason = F.when(low.contains(phrase),
                        F.lit(phrase)).otherwise(reason)
    return (docs.select("source", reason.alias("block_reason"))
            .groupBy("source", "block_reason")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("source", "block_reason"))


_BLOCK_CASES = "\n".join(
    f"         WHEN contains(low, '{p}') THEN '{p}'" for p in BLOCK_PHRASES)

TXT_BLOCKLIST_SQL = f"""
WITH p AS (
  SELECT source,
         lower(coalesce(text, '')
           || CASE WHEN doc_id % 13 = 5
                   THEN ' please Click Here for more' ELSE '' END
           || CASE WHEN doc_id % 13 = 9
                   THEN ' Lorem Ipsum dolor sit' ELSE '' END
           || CASE WHEN doc_id % 13 = 11
                   THEN ' SUBSCRIBE NOW friends' ELSE '' END) AS low
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT source,
       CASE
{_BLOCK_CASES}
       ELSE 'kept' END AS block_reason,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM p GROUP BY 1, 2 ORDER BY source, block_reason
"""


# ---------------------------------------------------------------------------
# Sampling / data mixing
# ---------------------------------------------------------------------------


def smp_stratified(spark, sf_dir):
    """Deterministic stratified sampling for data mixing: a doc is kept
    iff its salted md5 fold falls under the language's keep-rate
    threshold. Map-only + one tiny groupBy(lang); the same doc keeps the
    same fate on any cluster, any partitioning, any engine — the property
    that makes corpus sampling reproducible and resumable at 100 TB."""
    docs = _docs(spark, sf_dir)
    kept = stratified_keep(SMP_RATES)
    return (docs.select("lang", kept.cast("int").alias("k"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_total"),
                 F.sum("k").cast("long").alias("n_kept"))
            .orderBy("lang"))


_SMP_CASES = "\n".join(
    f"       WHEN lang = '{lang}' THEN h < {smp_threshold_u64(rate)}"
    for lang, rate in SMP_RATES.items())

SMP_STRAT_SQL = f"""
WITH h AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 16))
           ::UBIGINT AS h
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE
{_SMP_CASES}
       ELSE FALSE END::INT) AS BIGINT) AS n_kept
FROM h GROUP BY lang ORDER BY lang
"""

SMP_TOKEN_BUDGET = 5000


def smp_token_budget(spark, sf_dir):
    """Token-budget capping per language (data-mixing to a target token
    count): docs are admitted in deterministic doc_id order until the
    language's running token total passes the budget. The per-stratum
    prefix sum runs as the distributed two-level scan
    (sharded_prefix_sum — a stratum is a whole language at 100 TB),
    bit-identical to the single-window form the SQL oracle states."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "lang",
        f"CAST(size({TOKENS_EXPR}) AS BIGINT) AS n_tokens_b")
    return (sharded_prefix_sum(docs, ["lang"], "n_tokens_b", "cum_tokens")
            .withColumn("kept",
                        (F.col("cum_tokens") <= SMP_TOKEN_BUDGET)
                        .cast("int"))
            .select("doc_id", "lang", "n_tokens_b", "cum_tokens", "kept")
            .orderBy("lang", "doc_id"))


SMP_BUDGET_SQL = f"""
SELECT doc_id, lang,
       CAST(len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tokens_b,
       CAST(SUM(len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')))
            OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')))
            OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) <= {SMP_TOKEN_BUDGET} AS INT) AS kept
FROM documents WHERE doc_id IS NOT NULL
ORDER BY lang, doc_id
"""


def _pack_placement(spark, sf_dir):
    return pack_placement_from(_docs(spark, sf_dir))


def smp_pack_sequences(spark, sf_dir):
    """Sequence packing (GPT-style concat-and-chunk): lay each
    (lang, source) shard's documents end to end in deterministic doc_id
    order and cut the token stream into fixed PACK_SEQ_LEN-token training
    sequences; emit where each document lands (first sequence index,
    offset inside it, how many sequences it spans). This is the packing
    pass a pretraining pipeline runs between curation and training —
    the placement plan is computed set-oriented here; the actual byte
    assembly then reads each sequence's member docs by (first_seq ..
    first_seq+n_seqs) range join.

    One window per shard (cumulative token prefix sum). At 100 TB
    packing streams are per-shard BY CONSTRUCTION (each trainer reads
    one shard), so the window key IS the shard key — no global ordering
    is ever materialized, and shard count grows with the corpus. All
    outputs are exact integers (token counts, integer division), so the
    oracle is exact."""
    return (_pack_placement(spark, sf_dir)
            .select("doc_id", "lang", "source", "n_tokens_b", "tok_start",
                    "first_seq", "seq_offset", "n_seqs")
            .orderBy("lang", "source", "doc_id"))


# DuckDB window SUM(BIGINT) is HUGEINT and integer // on HUGEINT stays
# HUGEINT — every output casts back to BIGINT (the round-1 typing class)
SMP_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT)
           AS n_tokens_b
  FROM documents WHERE doc_id IS NOT NULL
), pos AS (
  SELECT *,
         SUM(n_tokens_b) OVER (PARTITION BY lang, source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens_b
           AS tok_start
  FROM toks
)
SELECT doc_id, lang, source, n_tokens_b,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_start // {PACK_SEQ_LEN} AS BIGINT) AS first_seq,
       CAST(tok_start % {PACK_SEQ_LEN} AS BIGINT) AS seq_offset,
       CAST((tok_start + n_tokens_b - 1) // {PACK_SEQ_LEN}
            - tok_start // {PACK_SEQ_LEN} + 1 AS BIGINT) AS n_seqs
FROM pos ORDER BY lang, source, doc_id
"""


def smp_pack_assembly(spark, sf_dir):
    """The consumer view of the packing plan: one row PER TRAINING
    SEQUENCE, with how many documents contribute, how many tokens the
    sequence holds (== PACK_SEQ_LEN except each shard's tail), and the
    doc-id range to read — exactly the range join a trainer's data
    loader issues to assemble sequence bytes. Derived from the placement
    by exploding each doc over the sequences it spans (bounded fan-out:
    a doc adds ≤ n_tokens/PACK_SEQ_LEN + 1 rows) and one keyed
    aggregation on (lang, source, seq_id). All-integer, oracle-exact."""
    p = _pack_placement(spark, sf_dir)
    L = PACK_SEQ_LEN
    exploded = p.select(
        "lang", "source", "doc_id", "tok_start", "n_tokens_b",
        F.explode(F.sequence(
            F.col("first_seq"),
            F.col("first_seq") + F.col("n_seqs") - 1)).alias("seq_id"))
    overlap = (F.least(F.col("tok_start") + F.col("n_tokens_b"),
                       (F.col("seq_id") + 1) * L)
               - F.greatest(F.col("tok_start"), F.col("seq_id") * L))
    return (exploded
            .withColumn("tok_in_seq", overlap)
            .groupBy("lang", "source", "seq_id")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("tok_in_seq").alias("n_seq_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("lang", "source", "seq_id"))


SMP_PACK_ASSEMBLY_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT)
           AS n_tokens_b
  FROM documents WHERE doc_id IS NOT NULL
), pos AS (
  SELECT *,
         CAST(SUM(n_tokens_b) OVER (PARTITION BY lang, source
                                    ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)
              - n_tokens_b AS BIGINT) AS tok_start
  FROM toks
), exploded AS (
  SELECT lang, source, doc_id, tok_start, n_tokens_b,
         CAST(unnest(range(tok_start // {PACK_SEQ_LEN},
                           (tok_start + n_tokens_b - 1)
                             // {PACK_SEQ_LEN} + 1)) AS BIGINT) AS seq_id
  FROM pos
)
SELECT lang, source, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(least(tok_start + n_tokens_b, (seq_id + 1) * {PACK_SEQ_LEN})
                - greatest(tok_start, seq_id * {PACK_SEQ_LEN})) AS BIGINT)
         AS n_seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM exploded
GROUP BY lang, source, seq_id
ORDER BY lang, source, seq_id
"""


# ---------------------------------------------------------------------------
# SFT-grain chat packing (whole conversations -> fixed-length sequences
# with loss-mask spans and document-boundary attention segments)
# ---------------------------------------------------------------------------

# whitespace tokenizer over a turn's text — the same explicit Java-\s
# class as TOKENS_EXPR, total on NULL turns (coalesce '' -> 1 empty token,
# identical on both engines)
_TURN_TOKENS = ("split(lower(coalesce(text, '')),"
                " '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')")


def chat_pack_placement(turns: DataFrame) -> DataFrame:
    """Chat-pack placement over a (conv_id, turn_idx, role, text) turn
    frame: conversations are laid end to end in md5-long(conv_id) order
    (the same reproducible md5-bridge training order as shards.py) and
    cut into PACK_SEQ_LEN-token sequences, keeping every turn WHOLE
    inside its conversation — the concat-and-chunk pass an SFT corpus
    runs on assembled conversations instead of flat documents.

    Two-level ordering, both levels distributed:
      1. conversation starts — per-conv token totals through the same
         sharded_prefix_sum two-level scan as document packing (the
         global stream is never one window; ≤4096-way bucket
         parallelism on the uniform md5-long conv keys);
      2. turn offsets — one window PER CONVERSATION (bounded: a
         conversation is at most a few thousand turns), keyed the same
         (turn_idx, text) stable order as conv_assemble/W1.

    Emits per turn: its span in the global token stream, the
    loss-mask flag (assistant turns train, everything else is masked),
    and where it lands in the fixed-length sequences. All outputs are
    exact integers, so the DuckDB oracle is exact. Tie determinism:
    rows tied on (conv_id, turn_idx, text) share role and token count
    by construction, so the emitted multiset is order-invariant."""
    tok = turns.selectExpr(
        "conv_id", "turn_idx", "role", "coalesce(text, '') AS text",
        f"CAST(size({_TURN_TOKENS}) AS BIGINT) AS n_tokens")
    conv = (tok.groupBy("conv_id")
            .agg(F.sum("n_tokens").alias("conv_tokens"))
            .withColumn("doc_id", md5_long(F.col("conv_id"))))
    conv_pos = (sharded_prefix_sum(conv, [], "conv_tokens", "_cum")
                .select("conv_id",
                        (F.col("_cum") - F.col("conv_tokens"))
                        .alias("conv_start")))
    wi = (Window.partitionBy("conv_id").orderBy("turn_idx", "text")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (tok
            .withColumn("_intra", F.sum("n_tokens").over(wi))
            .join(conv_pos, "conv_id")
            .withColumn("tok_start", F.col("conv_start") + F.col("_intra")
                        - F.col("n_tokens"))
            .withColumn("loss",
                        (F.col("role") == "assistant").cast("int"))
            .withColumn("first_seq",
                        F.expr(f"tok_start DIV {PACK_SEQ_LEN}"))
            .withColumn("seq_offset",
                        F.expr(f"tok_start % {PACK_SEQ_LEN}"))
            .withColumn("n_seqs", F.expr(
                f"(tok_start + n_tokens - 1) DIV {PACK_SEQ_LEN}"
                f" - first_seq + 1"))
            .drop("_intra", "text"))


def smp_chat_pack(spark, sf_dir):
    """Per-turn chat-pack placement over the transcript table (the
    conv_mod=25 surface: every conversation mixes all four roles, so
    loss-masked and trainable spans interleave)."""
    return (chat_pack_placement(agent_transcripts(spark, sf_dir,
                                                  conv_mod=25))
            .select("conv_id", "turn_idx", "role", "loss", "n_tokens",
                    "tok_start", "first_seq", "seq_offset", "n_seqs")
            .orderBy("tok_start"))


def smp_chat_pack_seqs(spark, sf_dir):
    """The trainer's view of the chat pack: one row PER TRAINING
    SEQUENCE with the loss-mask and attention-mask accounting — how
    many tokens train (assistant spans), and how many attention
    segments the sequence holds (`n_segments` = conversations starting
    inside it, plus one if it opens mid-conversation: exactly the
    block-diagonal attention-mask structure a document-boundary-aware
    trainer builds). Derived by exploding each turn over the sequences
    it spans (bounded fan-out) and ONE keyed aggregation on seq_id.
    All-integer, oracle-exact."""
    p = chat_pack_placement(agent_transcripts(spark, sf_dir,
                                              conv_mod=25))
    L = PACK_SEQ_LEN
    spanned = p.select(
        "conv_start", "first_seq", "conv_id", "tok_start", "n_tokens",
        "loss",
        F.explode(F.sequence(
            F.col("first_seq"),
            F.col("first_seq") + F.col("n_seqs") - 1)).alias("seq_id"))
    overlap = (F.least(F.col("tok_start") + F.col("n_tokens"),
                       (F.col("seq_id") + 1) * L)
               - F.greatest(F.col("tok_start"), F.col("seq_id") * L))
    exploded = (spanned
                .withColumn("tok_in_seq", overlap)
                .withColumn("loss_in_seq",
                            F.when(F.col("loss") == 1, F.col("tok_in_seq"))
                            .otherwise(F.lit(0))))
    is_start = F.col("tok_start") == F.col("conv_start")
    return (exploded
            .groupBy("seq_id")
            .agg(F.count_distinct("conv_id").alias("n_convs"),
                 F.count("*").cast("long").alias("n_turns"),
                 F.sum("tok_in_seq").alias("n_seq_tokens"),
                 F.sum("loss_in_seq").alias("n_loss_tokens"),
                 (F.sum((is_start
                         & (F.col("seq_id") == F.col("first_seq")))
                        .cast("long"))
                  + 1
                  - F.max((is_start
                           & (F.col("tok_start")
                              == F.col("seq_id") * L)).cast("long")))
                 .alias("n_segments"))
            .orderBy("seq_id"))


def _chat_pack_ctes() -> str:
    """Shared oracle CTE chain: transcripts (conv_mod=25) -> per-turn
    tokens -> md5-bridge conversation order -> global conv prefix ->
    per-conv turn prefix. DuckDB window SUM(BIGINT) is HUGEINT; every
    consumer casts outputs back to BIGINT (the round-1 typing class)."""
    return f"""
t AS ({agent_transcripts_sql(conv_mod=25)}),
tok AS (
  SELECT conv_id, turn_idx, role, coalesce(text, '') AS text,
         CAST(len(string_split_regex(lower(coalesce(text, '')),
                                     '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT)
           AS n_tokens
  FROM t
), conv AS (
  SELECT conv_id,
         CAST(('0x' || substr(md5(conv_id), 1, 16))::UBIGINT::HUGEINT
              - 9223372036854775808 AS BIGINT) AS ckey,
         SUM(n_tokens) AS conv_tokens
  FROM tok GROUP BY conv_id
), cpos AS (
  SELECT conv_id,
         SUM(conv_tokens) OVER (ORDER BY ckey ROWS UNBOUNDED PRECEDING)
           - conv_tokens AS conv_start
  FROM conv
), tpos AS (
  SELECT k.conv_id, k.turn_idx, k.role, k.n_tokens,
         CAST(c.conv_start AS BIGINT) AS conv_start,
         CAST(c.conv_start
           + SUM(k.n_tokens) OVER (PARTITION BY k.conv_id
                                   ORDER BY k.turn_idx, k.text
                                   ROWS UNBOUNDED PRECEDING)
           - k.n_tokens AS BIGINT) AS tok_start
  FROM tok k JOIN cpos c USING (conv_id)
)"""


def _smp_chat_pack_sql() -> str:
    return f"""
WITH {_chat_pack_ctes()}
SELECT conv_id, turn_idx, role,
       CAST(role = 'assistant' AS INT) AS loss,
       n_tokens,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_start // {PACK_SEQ_LEN} AS BIGINT) AS first_seq,
       CAST(tok_start % {PACK_SEQ_LEN} AS BIGINT) AS seq_offset,
       CAST((tok_start + n_tokens - 1) // {PACK_SEQ_LEN}
            - tok_start // {PACK_SEQ_LEN} + 1 AS BIGINT) AS n_seqs
FROM tpos ORDER BY tok_start
"""


def _smp_chat_pack_seqs_sql() -> str:
    L = PACK_SEQ_LEN
    return f"""
WITH {_chat_pack_ctes()},
exploded AS (
  SELECT conv_id, tok_start, n_tokens, conv_start,
         CAST(role = 'assistant' AS INT) AS loss,
         CAST(tok_start // {L} AS BIGINT) AS first_seq,
         CAST(unnest(range(tok_start // {L},
                           (tok_start + n_tokens - 1) // {L} + 1))
              AS BIGINT) AS seq_id
  FROM tpos
)
SELECT seq_id,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(least(tok_start + n_tokens, (seq_id + 1) * {L})
                - greatest(tok_start, seq_id * {L})) AS BIGINT)
         AS n_seq_tokens,
       CAST(SUM(CASE WHEN loss = 1
                     THEN least(tok_start + n_tokens, (seq_id + 1) * {L})
                          - greatest(tok_start, seq_id * {L})
                     ELSE 0 END) AS BIGINT) AS n_loss_tokens,
       CAST(SUM(CASE WHEN tok_start = conv_start AND seq_id = first_seq
                     THEN 1 ELSE 0 END)
            + 1
            - MAX(CASE WHEN tok_start = conv_start
                        AND tok_start = seq_id * {L}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_segments
FROM exploded GROUP BY seq_id ORDER BY seq_id
"""


# ---------------------------------------------------------------------------
# Source-mixture sampling (data mixing to configured source weights)
# ---------------------------------------------------------------------------

# configured relative weights per source; sources not listed weigh 1.0
MIX_WEIGHTS = {"src0": 4.0, "src1": 3.0, "src2": 2.0}
MIX_BUDGET_SHARE = 0.5  # overall token budget as a share of corpus tokens


def _mix_weight_col():
    w = F.lit(1.0)
    for s, wt in MIX_WEIGHTS.items():
        w = F.when(F.col("source") == s, F.lit(wt)).otherwise(w)
    return w


def smp_source_mix(spark, sf_dir):
    """Mixture sampling to configured source weights (the data-mixing
    pass a pretraining pipeline runs to rebalance web/books/code/...):
    each source s gets acceptance rate
    min(1, (w_s / Σw) · (budget_share · total_tokens) / tokens_s) — its
    token share is pulled toward the configured weight, never upsampled —
    and docs are admitted by the deterministic md5 bridge (same doc, same
    fate, any cluster/partitioning/engine).

    Scale shape: one map-only projection (tokens + hash), one tiny
    groupBy(source) for the per-source stats, a single-row total, and a
    broadcast join of the per-source rates back onto the corpus — the
    100 TB side never shuffles. The projection is persisted because the
    stats and the final pass both read it. All rate arithmetic is IEEE
    double with the association order written identically in the oracle
    SQL (weights and token counts are integer-exact, so the operands are
    bit-identical on both engines)."""
    docs = _docs(spark, sf_dir)
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    # coalesce: size(split(NULL)) is -1 in Spark but NULL (SUM-skipped) in
    # DuckDB — NULL text must count 1 empty token on both engines
    proj = (docs.selectExpr(
        "doc_id", "source",
        "CAST(size(split(lower(coalesce(text, '')), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')) AS BIGINT)"
        " AS n_tokens_b")
            .withColumn("h", h)
            .persist())
    stats = (proj.groupBy("source")
             .agg(F.sum("n_tokens_b").alias("src_tokens"))
             .withColumn("w", _mix_weight_col()))
    tot = stats.agg(F.sum("w").alias("total_w"),
                    F.sum("src_tokens").alias("total_tokens"))
    rates = (stats.crossJoin(broadcast(tot))
             .withColumn("rate", F.least(
                 F.lit(1.0),
                 F.col("w") / F.col("total_w")
                 * (F.lit(MIX_BUDGET_SHARE) * F.col("total_tokens"))
                 / F.col("src_tokens")))
             .select("source", "rate"))
    # signed-space threshold; rate >= 1 keeps everything (casting the max
    # long to double rounds UP to 2^63 and would drop one doc otherwise)
    thr = (F.col("rate") * F.lit(18446744073709551616.0)
           - F.lit(9223372036854775808.0))
    kept = ((F.col("rate") >= 1.0)
            | (F.col("h").cast("double") < thr)).cast("int")
    return (proj.join(broadcast(rates), "source")
            .withColumn("k", kept)
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_total"),
                 F.sum("k").cast("long").alias("n_kept"),
                 F.sum("n_tokens_b").cast("long").alias("tok_total"),
                 F.sum(F.col("k") * F.col("n_tokens_b")).cast("long")
                 .alias("tok_kept"),
                 # floor-basis pattern: both engines floor the same IEEE
                 # double (ROUND of an arbitrary double is engine-edgy)
                 F.min(F.floor(F.col("rate") * 1000000).cast("long"))
                 .alias("rate_ppm"))
            .orderBy("source"))


_MIX_CASES = "\n".join(
    f"       WHEN source = '{s}' THEN CAST({w!r} AS DOUBLE)"
    for s, w in MIX_WEIGHTS.items())

# every fractional literal is CAST(... AS DOUBLE): DuckDB parses bare
# decimal literals as DECIMAL and would run the rate arithmetic in
# decimal, not the IEEE doubles the Spark plan uses
SMP_MIX_SQL = f"""
WITH proj AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'))
              AS BIGINT) AS n_tokens_b,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 16))
              ::UBIGINT::HUGEINT - 9223372036854775808 AS BIGINT) AS h
  FROM documents WHERE doc_id IS NOT NULL
), stats AS (
  SELECT source, SUM(n_tokens_b) AS src_tokens,
         CASE
{_MIX_CASES}
         ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM proj GROUP BY source
), tot AS (
  SELECT SUM(w) AS total_w, SUM(src_tokens) AS total_tokens FROM stats
), rates AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               w / total_w * (CAST({MIX_BUDGET_SHARE!r} AS DOUBLE)
                              * total_tokens) / src_tokens) AS rate
  FROM stats, tot
), flagged AS (
  SELECT p.source, p.n_tokens_b, r.rate,
         CASE WHEN r.rate >= CAST(1.0 AS DOUBLE)
                OR CAST(p.h AS DOUBLE)
                   < rate * CAST(18446744073709551616 AS DOUBLE)
                     - CAST(9223372036854775808 AS DOUBLE)
              THEN 1 ELSE 0 END AS k
  FROM proj p JOIN rates r ON p.source = r.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(k) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens_b) AS BIGINT) AS tok_total,
       CAST(SUM(k * n_tokens_b) AS BIGINT) AS tok_kept,
       CAST(MIN(floor(rate * 1000000)) AS BIGINT) AS rate_ppm
FROM flagged
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Quality-score histogram (gate-threshold calibration)
# ---------------------------------------------------------------------------


def txt_quality_hist(spark, sf_dir):
    """Stopword-ratio histogram per language — the calibration table a
    curation pipeline reads before picking quality-gate thresholds.
    Bin = floor(ratio · 10) (both engines floor the same IEEE double —
    the repo's floor-basis-points pattern, no ROUND edge). Map-only
    projection + one tiny groupBy(lang, bin); nothing else touches the
    corpus."""
    docs = _docs(spark, sf_dir)
    # lowercase before matching the lowercase stopword list (sentence-
    # initial 'The'/'It' must count, like every other op via TOKENS_EXPR)
    tokens = F.split(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+")
    n_tokens = F.size(tokens)
    n_stop = F.size(F.filter(
        tokens, lambda t: t.isin(*_STOPWORDS_EN)))
    bin_ = F.when(n_tokens > 0,
                  F.floor(n_stop / n_tokens * 10)).otherwise(F.lit(-1))
    return (docs.select("lang", bin_.cast("long").alias("bin"))
            .groupBy("lang", "bin")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("lang", "bin"))


TXT_QUALITY_HIST_SQL = """
SELECT lang,
       CAST(CASE WHEN len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
            THEN floor(CAST(len(list_filter(
                   string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                   t -> t IN ('the','a','of','and','to','in','is','it','for','on')))
                 AS DOUBLE) / len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) * 10)
            ELSE -1 END AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents WHERE doc_id IS NOT NULL
GROUP BY 1, 2 ORDER BY lang, bin
"""


# ---------------------------------------------------------------------------
# Unigram-LM quality score (CCNet-style perplexity filter, self-trained)
# ---------------------------------------------------------------------------


def txt_lm_unigram_score(spark, sf_dir):
    """Language-model quality score: per-document mean self-information
    under a unigram LM trained on the corpus itself — the CCNet-style
    perplexity filter (low mean surprise ≈ fluent/common text, high ≈
    gibberish or rare-token soup). Self-information is quantized to
    whole BITS via integer arithmetic so both engines agree exactly:
    bits(w) = length(bin(N DIV c_w)) — i.e. floor(log2(N/c_w))+1 computed
    without any transcendental (log of a double is the one primitive
    whose last ulp is NOT guaranteed identical between JVM libm and
    DuckDB's; integer division + binary length is). The per-doc mean is
    an integer-division basis-point value, exact on both engines.

    Scale shape: classic wordcount aggregation (map-side combine — the
    shuffle carries per-partition (word, count) rows), one single-row
    total joined by broadcast, then the token stream joins the vocab
    keyed on word (sort-merge; AQE broadcasts the vocab side when it is
    small — at web scale a top-V vocab + OOV-floor constant would make
    the broadcast unconditional) and reduces per doc. No Python
    anywhere."""
    docs = _docs(spark, sf_dir)
    words = (docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+")).alias("word"))
        .where(F.col("word") != "")
        .persist())
    counts = words.groupBy("word").agg(F.count("*").alias("c"))
    tot = counts.agg(F.sum("c").alias("n"))
    bits = (counts.crossJoin(broadcast(tot))
            .select("word",
                    F.length(F.bin(F.expr("n DIV c"))).cast("long")
                    .alias("b")))
    return (words.join(bits, "word")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("b").cast("long").alias("sum_bits"))
            .select("doc_id", "n_tokens", "sum_bits",
                    F.expr("sum_bits * 10000 DIV n_tokens").cast("long")
                    .alias("mean_bits_bp"))
            .orderBy("doc_id"))


TXT_LM_SCORE_SQL = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) AS word
  FROM documents WHERE doc_id IS NOT NULL
), words AS (
  SELECT * FROM w WHERE word <> ''
), counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY word
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts
), bits AS (
  SELECT word, CAST(length(bin(n // c)) AS BIGINT) AS b FROM counts, tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(b) AS BIGINT) AS sum_bits,
       CAST(CAST(SUM(b) AS BIGINT) * 10000 // COUNT(*) AS BIGINT)
         AS mean_bits_bp
FROM words JOIN bits USING (word)
GROUP BY doc_id ORDER BY doc_id
"""


# fold over a SORTED token array counting types whose run reaches
# length 2 (multi-occurrence types); hapax = distinct types - multi.
# Lambdas touch only lambda variables (see _run_fold).
_MULTI_ZERO = (f"named_struct('prev', CAST(NULL AS STRING), "
               f"'run', {BIGINT_ZERO}, 'multi', {BIGINT_ZERO})")
_MULTI_STEP = (f"(a, x) -> IF(x <=> a.prev, "
               f"named_struct('prev', x, 'run', a.run + {BIGINT_ONE}, "
               f"'multi', a.multi + IF(a.run = {BIGINT_ONE}, {BIGINT_ONE}, "
               f"{BIGINT_ZERO})), "
               f"named_struct('prev', x, 'run', {BIGINT_ONE}, "
               f"'multi', a.multi))")


def txt_ttr(spark, sf_dir):
    """Lexical-diversity signals per document: type-token ratio and
    hapax-legomenon share — the Gopher-adjacent gate that separates
    natural prose (high diversity, many one-off words) from keyword
    stuffing and template spam (few types, few hapaxes). Both ratios
    are integer-division basis points, exact on both engines.

    Map-only: types via array_distinct, multi-occurrence types via an
    O(n) run fold over the doc's own sorted token array — per-doc
    statistics never pay a corpus shuffle (the explode + GROUP BY twin
    lives in the DuckDB oracle, so the driver compare is differential
    across the two algorithms, like txt_repetition)."""
    docs = _docs(spark, sf_dir)
    return (docs.selectExpr(
        "doc_id",
        "filter(split(lower(coalesce(text, '')), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+'), x -> x <> '')"
        " AS tf")
        .selectExpr(
            "doc_id",
            "CAST(size(tf) AS BIGINT) AS n_tokens",
            "CAST(size(array_distinct(tf)) AS BIGINT) AS n_types",
            f"aggregate(array_sort(tf), {_MULTI_ZERO}, {_MULTI_STEP},"
            f" a -> a.multi) AS n_multi")
        .selectExpr(
            "doc_id", "n_tokens", "n_types",
            "n_types - n_multi AS n_hapax",
            "CAST(IF(n_tokens > 0, n_types * 10000 DIV n_tokens, -1)"
            " AS BIGINT) AS ttr_bp",
            "CAST(IF(n_types > 0, (n_types - n_multi) * 10000 DIV n_types,"
            " -1) AS BIGINT) AS hapax_share_bp")
        .orderBy("doc_id"))


TXT_TTR_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'),
                     x -> x <> '') AS tf
  FROM documents WHERE doc_id IS NOT NULL
), w AS (
  SELECT doc_id, unnest(tf) AS word FROM tok
), per_word AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM per_word GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tf) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_types, 0) AS BIGINT) AS n_types,
       CAST(COALESCE(p.n_hapax, 0) AS BIGINT) AS n_hapax,
       CAST(CASE WHEN len(t.tf) > 0
            THEN COALESCE(p.n_types, 0) * 10000 // len(t.tf)
            ELSE -1 END AS BIGINT) AS ttr_bp,
       CAST(CASE WHEN COALESCE(p.n_types, 0) > 0
            THEN p.n_hapax * 10000 // p.n_types
            ELSE -1 END AS BIGINT) AS hapax_share_bp
FROM tok t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""


CODE_SCORE_BP = 200  # is_code threshold on the weighted signal density

# injected code block (the txt_pii_scrub pattern: planted from doc_id on
# BOTH engines so the code class is reachable in the prose-only corpus)
_CODE_SNIPPET = ("\nfunction f(x) {\n    if (x > 0) { return x * 2; }\n"
                 "    let y = x + 1;\n    return y;\n}\n")


def txt_code_detect(spark, sf_dir):
    """Code-vs-prose heuristic — the format gate a pretraining pipeline
    runs to route documents to the code or text branch (and to catch
    code spam inside a prose crawl). Signals are pure integer counts
    (brace/semicolon density via length-of-replace diffs, indented-line
    share via a startswith filter), folded into one basis-point score;
    no float crosses the engine boundary. Docs with doc_id % 13 == 0
    get a small code block planted (see _CODE_SNIPPET).

    Scale shape: ONE codegen'd map-only projection over the corpus —
    no shuffle at all except the display sort."""
    docs = _docs(spark, sf_dir)
    text = F.when(F.col("doc_id") % 13 == 0,
                  F.concat(F.coalesce(F.col("text"), F.lit("")),
                           F.lit(_CODE_SNIPPET)))\
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
    n_chars = F.length(text)
    n_semi = n_chars - F.length(F.regexp_replace(text, ";", ""))
    n_brace = n_chars - F.length(F.regexp_replace(text, r"[{}]", ""))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_indent = F.size(F.filter(
        lines, lambda ln: ln.startswith("    ") | ln.startswith("\t")))
    g = docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_semi.cast("long").alias("n_semi"),
        n_brace.cast("long").alias("n_brace"),
        n_lines.cast("long").alias("n_lines"),
        n_indent.cast("long").alias("n_indent"))
    score = F.expr("(n_semi * 2 + n_brace * 3 + n_indent * 5) * 10000"
                   " DIV greatest(n_chars, 1)")
    return (g.select(
        "doc_id", "n_semi", "n_brace", "n_indent", "n_lines",
        score.cast("long").alias("code_score_bp"),
        (score >= CODE_SCORE_BP).cast("int").alias("is_code"))
        .orderBy("doc_id"))


# the snippet with SQL quoting (single quotes doubled, real newlines)
_CODE_SNIPPET_SQL = _CODE_SNIPPET.replace("'", "''").replace("\n", "' || chr(10) || '")

TXT_CODE_DETECT_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0
              THEN coalesce(text, '') || '{_CODE_SNIPPET_SQL}'
              ELSE coalesce(text, '') END AS text
  FROM documents WHERE doc_id IS NOT NULL
),
g AS (
  SELECT doc_id,
         CAST(len(text) AS BIGINT) AS n_chars,
         CAST(len(text) - len(replace(text, ';', '')) AS BIGINT) AS n_semi,
         CAST(len(text) - len(regexp_replace(text, '[{{}}]', '', 'g'))
              AS BIGINT) AS n_brace,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
                  ln -> starts_with(ln, '    ')
                        OR starts_with(ln, chr(9)))) AS BIGINT) AS n_indent
  FROM injected
)
SELECT doc_id, n_semi, n_brace, n_indent, n_lines,
       CAST((n_semi * 2 + n_brace * 3 + n_indent * 5) * 10000
            // greatest(n_chars, 1) AS BIGINT) AS code_score_bp,
       CAST(CASE WHEN (n_semi * 2 + n_brace * 3 + n_indent * 5) * 10000
                      // greatest(n_chars, 1) >= {CODE_SCORE_BP}
            THEN 1 ELSE 0 END AS INTEGER) AS is_code
FROM g ORDER BY doc_id
"""


LONG_SENT_WORDS = 30  # a sentence past this many words counts as run-on


def txt_sentence_stats(spark, sf_dir):
    """Sentence-grain readability screening: sentence count, total
    words, mean words-per-sentence (×100, integer) and the share of
    run-on sentences — the doc-shape signal quality gates use beside
    token ratios (wall-of-text dumps have few, enormous sentences;
    shredded OCR has thousands of one-word ones). Sentences split on
    [.!?]+ runs; whitespace classes are EXPLICIT (the Java \\s set
    [ \\t\\n\\x0b\\f\\r]) so Java and RE2 agree — RE2's \\s shorthand
    would exclude \\x0B.

    All outputs are integer counts or integer-division ratios — exact
    on both engines. Scale shape: ONE map-only projection (the HOF
    chain is per-doc, no corpus shuffle); display sort only."""
    docs = _docs(spark, sf_dir)
    text = F.coalesce(F.col("text"), F.lit(""))
    sents = F.filter(F.split(text, r"[.!?]+"),
                     lambda s: F.trim(s) != "")
    wc = F.transform(sents,
                     lambda s: F.size(F.split(F.trim(s),
                                              "[ \\t\\n\\x0b\\f\\r]+")))
    g = docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.coalesce(
            F.aggregate(wc, F.lit(0).cast("long"),
                        lambda a, c: a + c.cast("long")),
            F.lit(0)).cast("long").alias("n_words"),
        F.size(F.filter(wc, lambda c: c > LONG_SENT_WORDS)).cast("long")
        .alias("n_long"))
    return (g.select(
        "doc_id", "n_sentences", "n_words",
        F.expr("n_words * 100 DIV greatest(n_sentences, 1)").cast("long")
        .alias("mean_words_x100"),
        F.expr("n_long * 10000 DIV greatest(n_sentences, 1)").cast("long")
        .alias("long_share_bp"))
        .orderBy("doc_id"))


_WS_CLS_SQL = "'[ \\t\\n\\x0b\\f\\r]+'"

TXT_SENTENCE_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_filter(string_split_regex(coalesce(text, ''), '[.!?]+'),
                     s -> trim(s) <> '') AS sents
  FROM documents WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id,
         CAST(len(sents) AS BIGINT) AS n_sentences,
         CAST(coalesce(list_sum(list_transform(sents,
              s -> len(string_split_regex(trim(s), {_WS_CLS_SQL})))), 0)
              AS BIGINT) AS n_words,
         CAST(len(list_filter(list_transform(sents,
              s -> len(string_split_regex(trim(s), {_WS_CLS_SQL}))),
              w -> w > {LONG_SENT_WORDS})) AS BIGINT) AS n_long
  FROM g
)
SELECT doc_id, n_sentences, n_words,
       CAST(n_words * 100 // greatest(n_sentences, 1) AS BIGINT)
         AS mean_words_x100,
       CAST(n_long * 10000 // greatest(n_sentences, 1) AS BIGINT)
         AS long_share_bp
FROM c ORDER BY doc_id
"""


# planted CJK run (the txt_pii_scrub pattern: injected from doc_id on
# BOTH engines so the CJK class is reachable in the ASCII-only corpus)
_CJK_SNIPPET = " 你好世界测试文本"


def txt_char_class_mix(spark, sf_dir):
    """Per-document character-class composition — alpha / digit /
    whitespace / CJK / other shares in basis points. The script-mix
    read a multilingual curation pipeline uses beside langid: a 'en'
    doc that is 40% CJK is mislabeled, a doc that is mostly digits or
    symbols is a table dump, and the CJK share routes text to the
    CJK-aware tokenizer branch. Docs with doc_id % 17 == 0 get a small
    CJK run planted (_CJK_SNIPPET) so the class is exercised.

    Engine-exactness: every count is a length-of-replace diff on the
    SAME explicit character classes (no \\s shorthand — Java includes
    \\x0B in \\s, RE2 does not; the repo-wide sweep spells the Java set
    [ \\t\\n\\x0b\\f\\r] on both engines), shares are integer-division basis
    points. Scale shape: ONE codegen'd map-only projection; no shuffle
    beyond the display sort."""
    docs = _docs(spark, sf_dir)
    text = F.when(F.col("doc_id") % 17 == 0,
                  F.concat(F.coalesce(F.col("text"), F.lit("")),
                           F.lit(_CJK_SNIPPET)))\
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
    n = F.length(text)

    def cnt(cls):
        return (n - F.length(F.regexp_replace(text, cls, ""))).cast("long")

    n_alpha = cnt("[A-Za-z]")
    n_digit = cnt("[0-9]")
    n_space = cnt("[ \\t\\n\\r\\f]")
    n_cjk = cnt("[\\x{4e00}-\\x{9fff}]")
    g = docs.select(
        "doc_id", n.cast("long").alias("n_chars"),
        n_alpha.alias("n_alpha"), n_digit.alias("n_digit"),
        n_space.alias("n_space"), n_cjk.alias("n_cjk"))
    return (g.select(
        "doc_id", "n_chars",
        F.expr("n_alpha * 10000 DIV greatest(n_chars, 1)").cast("long")
        .alias("alpha_bp"),
        F.expr("n_digit * 10000 DIV greatest(n_chars, 1)").cast("long")
        .alias("digit_bp"),
        F.expr("n_space * 10000 DIV greatest(n_chars, 1)").cast("long")
        .alias("space_bp"),
        F.expr("n_cjk * 10000 DIV greatest(n_chars, 1)").cast("long")
        .alias("cjk_bp"),
        F.expr("(n_chars - n_alpha - n_digit - n_space - n_cjk) * 10000"
               " DIV greatest(n_chars, 1)").cast("long").alias("other_bp"))
        .orderBy("doc_id"))


TXT_CHAR_CLASS_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN coalesce(text, '') || '{_CJK_SNIPPET}'
              ELSE coalesce(text, '') END AS text
  FROM documents WHERE doc_id IS NOT NULL
),
g AS (
  SELECT doc_id,
         CAST(len(text) AS BIGINT) AS n_chars,
         CAST(len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS n_alpha,
         CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit,
         CAST(len(text) - len(regexp_replace(text,
              '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']',
              '', 'g')) AS BIGINT) AS n_space,
         CAST(len(text) - len(regexp_replace(text,
              '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS BIGINT) AS n_cjk
  FROM injected
)
SELECT doc_id, n_chars,
       CAST(n_alpha * 10000 // greatest(n_chars, 1) AS BIGINT) AS alpha_bp,
       CAST(n_digit * 10000 // greatest(n_chars, 1) AS BIGINT) AS digit_bp,
       CAST(n_space * 10000 // greatest(n_chars, 1) AS BIGINT) AS space_bp,
       CAST(n_cjk * 10000 // greatest(n_chars, 1) AS BIGINT) AS cjk_bp,
       CAST((n_chars - n_alpha - n_digit - n_space - n_cjk) * 10000
            // greatest(n_chars, 1) AS BIGINT) AS other_bp
FROM g ORDER BY doc_id
"""


def txt_lm_bigram_score(spark, sf_dir):
    """Bigram-LM quality score — the conditional upgrade of
    txt_lm_unigram_score: per-document mean self-information of each
    bigram under the corpus-trained bigram LM,
    bits(w2|w1) = floor(log2(c(w1)/c(w1,w2))) + 1, computed as
    length(bin(c1 DIV c12)) — pure integer arithmetic, exact on both
    engines (log/pow doubles are NOT last-ulp portable; see the unigram
    op). c(w1) counts w1 as a bigram LEFT (doc-final tokens excluded)
    so the conditional distribution normalizes. Documents with <2
    tokens emit n_bigrams = 0 and sentinel mean -1.

    Scale shape: tokens posexplode once; the bigram stream is a lag
    window keyed on doc_id (the one per-doc shuffle — same key the doc
    grain reduces on anyway); bigram counts aggregate with map-side
    combine, left counts reduce FROM the bigram counts (no second pass
    over the stream), and the per-pair bits table joins back keyed on
    the pair (AQE broadcasts it when small; at web scale a top-V
    vocab + OOV floor makes the broadcast unconditional)."""
    docs = _docs(spark, sf_dir)
    words = (docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+"),
                              lambda x: x != ""))
        .alias("pos", "word")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (words
             .select("doc_id", F.lag("word").over(w).alias("w1"),
                     F.col("word").alias("w2"))
             .where(F.col("w1").isNotNull())
             .persist())
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    bits = (c12.join(c1, "w1")
            .select("w1", "w2",
                    F.length(F.bin(F.expr("c1 DIV c12"))).cast("long")
                    .alias("b")))
    scored = (pairs.join(bits, ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_bigrams"),
                   F.sum("b").cast("long").alias("sum_bits")))
    base = docs.select("doc_id")
    return (base.join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("sum_bits", F.lit(0)).cast("long")
                    .alias("sum_bits"),
                    F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                           F.expr("sum_bits * 10000 DIV n_bigrams"))
                    .otherwise(F.lit(-1)).cast("long")
                    .alias("mean_bits_bp"))
            .orderBy("doc_id"))


TXT_LM_BIGRAM_SQL = """
WITH words AS (
  -- zip parallel unnests (no WITH ORDINALITY in DuckDB)
  SELECT doc_id,
         unnest(range(len(t))) AS pos,
         unnest(t) AS word
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id IS NOT NULL)
), pairs AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id,
           lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           word AS w2
    FROM words)
  WHERE w1 IS NOT NULL
), c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pairs GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
), bits AS (
  SELECT w1, w2, CAST(length(bin(c1 // c12)) AS BIGINT) AS b
  FROM c12 JOIN c1 USING (w1)
), scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(b) AS BIGINT) AS sum_bits
  FROM pairs JOIN bits USING (w1, w2)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(s.sum_bits, 0) AS BIGINT) AS sum_bits,
       CAST(CASE WHEN COALESCE(s.n_bigrams, 0) > 0
            THEN s.sum_bits * 10000 // s.n_bigrams
            ELSE -1 END AS BIGINT) AS mean_bits_bp
FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (multinomial sampling at alpha = 0.5)
# ---------------------------------------------------------------------------

# alpha = 0.5 (square-root temperature scaling, the common pretraining
# choice): implemented as sqrt() because IEEE 754 guarantees sqrt is
# correctly rounded — bit-identical on both engines, unlike pow().
TEMP_BUDGET_SHARE = 0.5
# quantization scale for the sqrt weights: summing raw double weights is
# association-order-dependent across engines; summing their floor at 1e-9
# precision is exact integer arithmetic
_TEMP_W_SCALE = 1_000_000_000


def smp_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing: each source's acceptance rate
    pulls its token share toward p_s^0.5 / Σ p^0.5 (upweights small
    sources, damps dominant ones — the standard multilingual/multi-source
    pretraining mix), capped at 1 (never upsampled). Doc admission uses
    the deterministic md5 bridge.

    Engine-exactness: p_s = tokens_s / total is an exact-int division
    (correctly rounded, identical doubles); sqrt is IEEE-correctly-
    rounded; the sqrt weights are quantized to integers BEFORE the
    cross-source sum (a double sum's association order is engine-
    dependent; an integer sum is not). Scale shape = smp_source_mix:
    one map-only projection, one tiny groupBy(source), broadcast rates
    back — the corpus side never shuffles."""
    docs = _docs(spark, sf_dir)
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":tmix")))
    proj = (docs.selectExpr(
        "doc_id", "source",
        "CAST(size(split(lower(coalesce(text, '')), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')) AS BIGINT)"
        " AS n_tokens_b")
            .withColumn("h", h)
            .persist())
    stats = proj.groupBy("source").agg(
        F.sum("n_tokens_b").cast("long").alias("src_tokens"))
    tot = stats.agg(F.sum("src_tokens").cast("long").alias("total_tokens"))
    wq = (stats.crossJoin(broadcast(tot))
          .withColumn("wsq", F.floor(
              F.sqrt(F.col("src_tokens").cast("double")
                     / F.col("total_tokens").cast("double"))
              * F.lit(float(_TEMP_W_SCALE))).cast("long")))
    wtot = wq.agg(F.sum("wsq").cast("long").alias("wsq_tot"))
    rates = (wq.crossJoin(broadcast(wtot))
             .withColumn("rate", F.least(
                 F.lit(1.0),
                 F.col("wsq").cast("double") / F.col("wsq_tot").cast("double")
                 * (F.lit(TEMP_BUDGET_SHARE)
                    * F.col("total_tokens").cast("double"))
                 / F.col("src_tokens").cast("double")))
             .select("source", "rate"))
    thr = (F.col("rate") * F.lit(18446744073709551616.0)
           - F.lit(9223372036854775808.0))
    kept = ((F.col("rate") >= 1.0)
            | (F.col("h").cast("double") < thr)).cast("int")
    return (proj.join(broadcast(rates), "source")
            .withColumn("k", kept)
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_total"),
                 F.sum("k").cast("long").alias("n_kept"),
                 F.sum("n_tokens_b").cast("long").alias("tok_total"),
                 F.sum(F.col("k") * F.col("n_tokens_b")).cast("long")
                 .alias("tok_kept"),
                 F.min(F.floor(F.col("rate") * 1000000).cast("long"))
                 .alias("rate_ppm"))
            .orderBy("source"))


SMP_TEMP_MIX_SQL = f"""
WITH proj AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'))
              AS BIGINT) AS n_tokens_b,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':tmix'), 1, 16))
              ::UBIGINT::HUGEINT - 9223372036854775808 AS BIGINT) AS h
  FROM documents WHERE doc_id IS NOT NULL
), stats AS (
  SELECT source, CAST(SUM(n_tokens_b) AS BIGINT) AS src_tokens
  FROM proj GROUP BY source
), tot AS (
  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens FROM stats
), wq AS (
  SELECT source, src_tokens, total_tokens,
         CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)
                         / CAST(total_tokens AS DOUBLE))
                    * CAST({float(_TEMP_W_SCALE)!r} AS DOUBLE)) AS BIGINT)
           AS wsq
  FROM stats, tot
), wtot AS (
  SELECT CAST(SUM(wsq) AS BIGINT) AS wsq_tot FROM wq
), rates AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               CAST(wsq AS DOUBLE) / CAST(wsq_tot AS DOUBLE)
               * (CAST({TEMP_BUDGET_SHARE!r} AS DOUBLE)
                  * CAST(total_tokens AS DOUBLE))
               / CAST(src_tokens AS DOUBLE)) AS rate
  FROM wq, wtot
), flagged AS (
  SELECT p.source, p.n_tokens_b, r.rate,
         CASE WHEN r.rate >= CAST(1.0 AS DOUBLE)
                OR CAST(p.h AS DOUBLE)
                   < rate * CAST(18446744073709551616 AS DOUBLE)
                     - CAST(9223372036854775808 AS DOUBLE)
              THEN 1 ELSE 0 END AS k
  FROM proj p JOIN rates r ON p.source = r.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(k) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens_b) AS BIGINT) AS tok_total,
       CAST(SUM(k * n_tokens_b) AS BIGINT) AS tok_kept,
       CAST(MIN(floor(rate * 1000000)) AS BIGINT) AS rate_ppm
FROM flagged
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Training-shard assignment (deterministic global shuffle)
# ---------------------------------------------------------------------------


def smp_shard_assign(spark, sf_dir):
    """Per-shard audit of the deterministic training shuffle
    (pipeline/shards.py): doc/token balance plus the min/max order keys
    as engine-checkable witnesses of the exact membership. Map-only
    projection + one tiny groupBy(shard) — at 100 TB the corpus side
    emits per-partition partial aggregates for at most n_shards keys."""
    docs = _docs(spark, sf_dir)
    key = shard_key_column()
    return (docs.select(
        "doc_id",
        F.expr("CAST(size(split(lower(coalesce(text, '')), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+'))"
               " AS BIGINT)").alias("n_tokens_b"))
        .withColumn("k", key)
        .select(F.pmod(F.col("k"), F.lit(N_TRAIN_SHARDS)).cast("int")
                .alias("shard"), "n_tokens_b", "k")
        .groupBy("shard")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_tokens_b").cast("long").alias("tok_total"),
             F.min("k").alias("min_key"),
             F.max("k").alias("max_key"))
        .orderBy("shard"))


SMP_SHARD_SQL = f"""
WITH proj AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'))
              AS BIGINT) AS n_tokens_b,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'),
                              1, 16))
              ::UBIGINT::HUGEINT - 9223372036854775808 AS BIGINT) AS k
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT CAST(((k % {N_TRAIN_SHARDS}) + {N_TRAIN_SHARDS}) % {N_TRAIN_SHARDS}
            AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens_b) AS BIGINT) AS tok_total,
       CAST(MIN(k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key
FROM proj GROUP BY 1 ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Gopher document gate (the full published rule set, integer-exact)
# ---------------------------------------------------------------------------

# Gopher (Rae et al. 2021, §A1.1) repetition-free document rules. Each
# rule is a ratio threshold; we evaluate every one by INTEGER
# cross-multiplication (10*x <= n, 5*a >= 4*n, ...) so no double division
# ever happens — the flags are bit-free of engine rounding by
# construction (stronger than the floor-basis-points pattern: there is
# no floating point at all).
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def txt_gopher_gate(spark, sf_dir):
    """The full Gopher quality-rule gate as one map-only projection:
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    bullet-line and ellipsis-line shares, alphabetic-word share, and
    required-stopword presence — the publicly documented rule set a
    web-scale curation pipeline runs doc-locally before any dedup.

    Engine-exactness: every ratio rule is an integer cross-multiply
    (e.g. mean word length in [3,10] ⇔ 3·n_words ≤ n_word_chars ≤
    10·n_words), so there is NO floating point anywhere — no division,
    no floor-quantization needed. Scale shape: pure per-doc column
    expressions; nothing shuffles (the orderBy is the driver-compare
    convention, not part of the operator)."""
    docs = _docs(spark, sf_dir)
    stop_lit = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    return (docs.selectExpr(
        "doc_id",
        "split(lower(coalesce(text, '')), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+') AS tk",
        "split(coalesce(text, ''), '\\n') AS ln",
        "CAST(length(regexp_replace(coalesce(text, ''), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]', ''))"
        " AS BIGINT) AS n_word_chars",
        "CAST(length(coalesce(text, ''))"
        " - length(replace(coalesce(text, ''), '#', '')) AS BIGINT)"
        " AS n_hash",
        "CAST((length(coalesce(text, ''))"
        " - length(replace(coalesce(text, ''), '...', ''))) DIV 3"
        " AS BIGINT) AS n_ellipsis")
        .selectExpr(
            "doc_id", "n_word_chars", "n_hash", "n_ellipsis",
            "CAST(size(tk) AS BIGINT) AS n_words",
            "CAST(size(filter(tk, x -> x rlike '[a-z]')) AS BIGINT)"
            " AS n_alpha",
            f"CAST(size(array_intersect(tk, array({stop_lit})))"
            " AS BIGINT) AS n_stop_hits",
            "CAST(size(ln) AS BIGINT) AS n_lines",
            "CAST(size(filter(ln, x -> x rlike '^[-*\\u2022]')) AS BIGINT)"
            " AS n_bullet",
            "CAST(size(filter(ln, x -> x rlike '\\\\.\\\\.\\\\.$'))"
            " AS BIGINT) AS n_ell_lines")
        .selectExpr(
            "doc_id", "n_words",
            "CAST(n_words BETWEEN 50 AND 100000 AS INT) AS f_words",
            "CAST(3 * n_words <= n_word_chars"
            " AND n_word_chars <= 10 * n_words AS INT) AS f_meanlen",
            "CAST(10 * (n_hash + n_ellipsis) <= n_words AS INT) AS f_symbol",
            "CAST(10 * n_bullet <= 9 * n_lines AS INT) AS f_bullet",
            "CAST(10 * n_ell_lines <= 3 * n_lines AS INT) AS f_ellip",
            "CAST(5 * n_alpha >= 4 * n_words AS INT) AS f_alpha",
            "CAST(n_stop_hits >= 2 AS INT) AS f_stop")
        .selectExpr(
            "*",
            "CAST(f_words * f_meanlen * f_symbol * f_bullet * f_ellip"
            " * f_alpha * f_stop AS INT) AS passed")
        .orderBy("doc_id"))


_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)

TXT_GOPHER_SQL = f"""
WITH feat AS (
  SELECT doc_id,
         string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+') AS tk,
         string_split_regex(coalesce(text, ''), '\\n') AS ln,
         CAST(length(regexp_replace(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]', '', 'g'))
              AS BIGINT) AS n_word_chars,
         CAST(length(coalesce(text, ''))
              - length(replace(coalesce(text, ''), '#', '')) AS BIGINT)
           AS n_hash,
         CAST((length(coalesce(text, ''))
               - length(replace(coalesce(text, ''), '...', ''))) // 3
              AS BIGINT) AS n_ellipsis
  FROM documents WHERE doc_id IS NOT NULL
), cnt AS (
  SELECT doc_id, n_word_chars, n_hash, n_ellipsis,
         CAST(len(tk) AS BIGINT) AS n_words,
         CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(tk, [{_GOPHER_STOP_SQL}]))
              AS BIGINT) AS n_stop_hits,
         CAST(len(ln) AS BIGINT) AS n_lines,
         CAST(len(list_filter(ln, x -> regexp_matches(x, '^[-*\\x{{2022}}]')))
              AS BIGINT) AS n_bullet,
         CAST(len(list_filter(ln, x -> regexp_matches(x, '\\.\\.\\.$')))
              AS BIGINT) AS n_ell_lines
  FROM feat
), flags AS (
  SELECT doc_id, n_words,
         CAST(n_words BETWEEN 50 AND 100000 AS INTEGER) AS f_words,
         CAST(3 * n_words <= n_word_chars
              AND n_word_chars <= 10 * n_words AS INTEGER) AS f_meanlen,
         CAST(10 * (n_hash + n_ellipsis) <= n_words AS INTEGER) AS f_symbol,
         CAST(10 * n_bullet <= 9 * n_lines AS INTEGER) AS f_bullet,
         CAST(10 * n_ell_lines <= 3 * n_lines AS INTEGER) AS f_ellip,
         CAST(5 * n_alpha >= 4 * n_words AS INTEGER) AS f_alpha,
         CAST(n_stop_hits >= 2 AS INTEGER) AS f_stop
  FROM cnt
)
SELECT *,
       CAST(f_words * f_meanlen * f_symbol * f_bullet * f_ellip
            * f_alpha * f_stop AS INTEGER) AS passed
FROM flags ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Epoch up-sampling (per-source repeat factors, fractional last epoch)
# ---------------------------------------------------------------------------

# Per-source epoch counts (how many times each source is seen per
# training run — the standard way small high-quality sources are
# upweighted without touching the sampler). Non-integer epochs admit a
# deterministic md5-bridge fraction of docs to one extra epoch.
EPOCH_RATES = {"src0": 3.0, "src1": 2.5, "src2": 1.5}


def _epoch_rate_col():
    r = F.lit(1.0)
    for s, rate in EPOCH_RATES.items():
        r = F.when(F.col("source") == s, F.lit(rate)).otherwise(r)
    return r


def epoch_copies_column():
    """copies = ⌊epochs⌋ + (md5-bridge admits the fractional epoch).
    Requires columns `source` and `h` (signed md5 long). The threshold
    maps the fraction onto the signed 64-bit space exactly like the
    sampling ops; an integer rate has fraction 0 → threshold -2^63 →
    strict `<` admits nobody."""
    rate = _epoch_rate_col()
    frac = rate - F.floor(rate)
    thr = (frac * F.lit(18446744073709551616.0)
           - F.lit(9223372036854775808.0))
    return (F.floor(rate).cast("long")
            + (F.col("h").cast("double") < thr).cast("long"))


def smp_epoch_mix(spark, sf_dir):
    """Epoch up-sampling audit: per-source doc/copy/token totals under
    the configured EPOCH_RATES — the replication plan a pretraining run
    applies to over-sample small high-quality sources (epochs > 1)
    without mutating the corpus. Deterministic: the fractional epoch is
    admitted per-doc by the md5 bridge, so the same doc replicates the
    same way on any cluster, partitioning, or engine.

    Scale shape: one map-only projection (rate is a CASE over a
    broadcast-sized config, not a join) + one tiny groupBy(source); the
    audit never explodes the copies."""
    docs = _docs(spark, sf_dir)
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch")))
    rate = _epoch_rate_col()
    proj = (docs.selectExpr(
        "doc_id", "source",
        "CAST(size(split(lower(coalesce(text, '')), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')) AS BIGINT)"
        " AS n_tokens_b")
        .withColumn("h", h)
        .withColumn("copies", epoch_copies_column())
        .withColumn("epochs_ppm",
                    F.floor(rate * F.lit(1000000.0)).cast("long")))
    return (proj.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("copies").cast("long").alias("n_copies"),
                 F.sum("n_tokens_b").cast("long").alias("tok_total"),
                 F.sum(F.col("copies") * F.col("n_tokens_b")).cast("long")
                 .alias("tok_replicated"),
                 F.min("epochs_ppm").cast("long").alias("epochs_ppm"))
            .orderBy("source"))


def _epoch_rate_sql() -> str:
    branches = " ".join(
        f"WHEN source = '{s}' THEN CAST({r!r} AS DOUBLE)"
        for s, r in EPOCH_RATES.items())
    return f"CASE {branches} ELSE CAST(1.0 AS DOUBLE) END"


SMP_EPOCH_SQL = f"""
WITH proj AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'))
              AS BIGINT) AS n_tokens_b,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'),
                              1, 16))
              ::UBIGINT::HUGEINT - 9223372036854775808 AS BIGINT) AS h,
         {_epoch_rate_sql()} AS rate
  FROM documents WHERE doc_id IS NOT NULL
), cop AS (
  SELECT source, n_tokens_b,
         CAST(floor(rate) AS BIGINT)
         + CASE WHEN CAST(h AS DOUBLE)
                     < (rate - floor(rate))
                       * CAST(18446744073709551616 AS DOUBLE)
                       - CAST(9223372036854775808 AS DOUBLE)
                THEN 1 ELSE 0 END AS copies,
         CAST(floor(rate * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
           AS epochs_ppm
  FROM proj
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(copies) AS BIGINT) AS n_copies,
       CAST(SUM(n_tokens_b) AS BIGINT) AS tok_total,
       CAST(SUM(copies * n_tokens_b) AS BIGINT) AS tok_replicated,
       CAST(MIN(epochs_ppm) AS BIGINT) AS epochs_ppm
FROM cop GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Quality-proportional sampling (DCLM-style admission weighting)
# ---------------------------------------------------------------------------

QW_BAND_BP = 500        # stopword-ratio band width, basis points
QW_BASE_RATE_BP = 1000  # admission rate floor (band 0)
QW_SLOPE_BP = 900       # extra admission rate per band, capped at 10000


def smp_quality_weighted(spark, sf_dir):
    """Quality-proportional sampling: a document's admission PROBABILITY
    scales with a quality signal (here the stopword ratio — the cheap
    natural-language proxy), instead of the all-or-nothing gate of
    txt_gopher_gate or the per-stratum constants of smp_stratified.
    DCLM-style: low-signal docs are down-weighted, not dropped.

    Engine-exact integer math throughout: stopword basis points via
    integer division (n_stop*10000 DIV n_tokens; split('') = [''] so
    n_tokens >= 1), band = bp DIV 500, rate_bp = min(10000, 1000 +
    band*900), and the admission draw is a 32-bit md5 fold mod 10000 —
    positive on both engines, so % agrees with no signed/unsigned split.
    Map-only per doc + one tiny groupBy(band); same doc, same fate on
    any cluster or engine."""
    docs = _docs(spark, sf_dir)
    tk = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"[ \t\n\x0b\f\r]+")
    d = docs.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.size(F.filter(tk, lambda t: t.isin(*_STOPWORDS_EN)))
        .cast("long").alias("n_stop"))
    d = d.selectExpr(
        "doc_id", "n_tokens",
        f"((n_stop * 10000) DIV n_tokens) DIV {QW_BAND_BP} AS band")
    d = d.selectExpr(
        "doc_id", "n_tokens", "band",
        f"least(CAST(10000 AS BIGINT), "
        f"{QW_BASE_RATE_BP} + band * {QW_SLOPE_BP}) AS rate_bp",
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':qw')), "
        "1, 8), 16, 10) AS BIGINT) % 10000 AS u")
    return (d.withColumn("k", (F.col("u") < F.col("rate_bp")).cast("int"))
            .groupBy("band")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("k").cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("k") == 1, F.col("n_tokens"))
                       .otherwise(F.lit(0))).cast("long").alias("tok_kept"))
            .orderBy("band"))


_QW_STOPLIST = ", ".join(f"'{w}'" for w in _STOPWORDS_EN)

SMP_QW_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'))
              AS BIGINT) AS n_tokens,
         CAST(len(list_filter(
              string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+'),
              t -> t IN ({_QW_STOPLIST}))) AS BIGINT) AS n_stop
  FROM documents WHERE doc_id IS NOT NULL
), b AS (
  SELECT doc_id, n_tokens,
         ((n_stop * 10000) // n_tokens) // {QW_BAND_BP} AS band
  FROM t
), r AS (
  SELECT doc_id, n_tokens, band,
         CASE WHEN {QW_BASE_RATE_BP} + band * {QW_SLOPE_BP} > 10000
              THEN 10000
              ELSE {QW_BASE_RATE_BP} + band * {QW_SLOPE_BP} END AS rate_bp,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':qw'), 1, 8))
           ::UINTEGER::BIGINT % 10000 AS u
  FROM b
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM((u < rate_bp)::INT) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN u < rate_bp THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tok_kept
FROM r GROUP BY band ORDER BY band
"""


# ---------------------------------------------------------------------------
# Sliding-window chunking (embedding-model / RAG preprocessing)
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 64   # tokens per chunk
CHUNK_STRIDE = 48   # tokens between chunk starts (overlap = 16)


def txt_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking — the preprocessing step that
    feeds long documents to a bounded-context embedding model (or RAG
    index): stride-48 windows of 64 tokens, each chunk carrying its
    reconstructed text and an 8-byte md5 fold for downstream chunk-grain
    dedup/indexing. The last window starts at the first stride multiple
    covering the tail, so every token lands in at least one chunk and
    chunk count is ⌈(n−W)/S⌉+1.

    Scale shape: one map-only projection + explode — the blow-up factor
    is ~n/S per doc and each output row is one chunk, exactly the frame
    the embedding stage consumes; nothing shuffles. Engine-exact: token
    split, slice, and join are pure string ops; the hash is the repo's
    md5-fold bridge."""
    w, s = CHUNK_WINDOW, CHUNK_STRIDE
    return (_docs(spark, sf_dir).selectExpr(
        "doc_id", "split(coalesce(text, ''), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+') AS tk")
        .selectExpr("doc_id", "tk", "CAST(size(tk) AS BIGINT) AS n")
        .selectExpr(
            "doc_id", "tk",
            f"explode(sequence(CAST(0 AS BIGINT), "
            f"IF(n <= {w}, CAST(0 AS BIGINT), ((n - {w}) + {s} - 1)"
            f" DIV {s}))) AS chunk_idx")
        .selectExpr(
            "doc_id", "chunk_idx",
            f"slice(tk, CAST(chunk_idx * {s} + 1 AS INT), {w}) AS ck")
        .selectExpr(
            "doc_id", "chunk_idx",
            "CAST(size(ck) AS BIGINT) AS n_tok_c",
            "array_join(ck, ' ') AS chunk_text")
        .withColumn("chunk_hash", md5_long(F.col("chunk_text")))
        .orderBy("doc_id", "chunk_idx"))


TXT_CHUNK_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+') AS tk,
         CAST(len(string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+'))
              AS BIGINT) AS n
  FROM documents WHERE doc_id IS NOT NULL
), idx AS (
  SELECT doc_id, tk,
         CAST(unnest(range(0,
           CASE WHEN n <= {CHUNK_WINDOW} THEN 1
                ELSE ((n - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1)
                     // {CHUNK_STRIDE} + 1 END)) AS BIGINT) AS chunk_idx
  FROM tok
), ck AS (
  SELECT doc_id, chunk_idx,
         array_to_string(list_slice(tk,
           chunk_idx * {CHUNK_STRIDE} + 1,
           chunk_idx * {CHUNK_STRIDE} + {CHUNK_WINDOW}), ' ') AS chunk_text,
         CAST(len(list_slice(tk,
           chunk_idx * {CHUNK_STRIDE} + 1,
           chunk_idx * {CHUNK_STRIDE} + {CHUNK_WINDOW})) AS BIGINT)
           AS n_tok_c
  FROM idx
)
SELECT doc_id, chunk_idx, n_tok_c, chunk_text,
       CAST(('0x' || substr(md5(chunk_text), 1, 16))::UBIGINT::HUGEINT
            - 9223372036854775808 AS BIGINT) AS chunk_hash
FROM ck ORDER BY doc_id, chunk_idx
"""


BOILERPLATE_TOP_K = 20


def dd_boilerplate_topk(spark, sf_dir):
    """The boilerplate TABLE itself — dd_chunk_dup scores each doc's
    shared-chunk share; this names the offenders: the BOILERPLATE_TOP_K
    token chunks appearing in the most documents (nav chrome, license
    headers, cookie banners in a real crawl). Curation teams read this
    before writing a strip list (txt_blocklist_filter's input).

    Scale shape: the same chunking projection as dd_chunk_dup into one
    groupBy(chunk) with map-side combine (the shuffle carries
    per-partition (chunk, partials), never the token stream), filtered
    to cross-doc chunks, then top-K as TakeOrdered — per-partition heads
    merged on the driver, no global sort. Ties break on the chunk text
    so the K-boundary is deterministic on both engines."""
    chunks = (
        _docs(spark, sf_dir).selectExpr("doc_id", f"{TOKENS_EXPR} AS t")
        .selectExpr(
            "doc_id",
            f"explode({token_chunks_expr('t')}) AS chunk"))
    return (chunks.groupBy("chunk")
            .agg(F.count("*").cast("long").alias("n_occ"),
                 F.countDistinct("doc_id").cast("long").alias("n_docs"))
            .where(F.col("n_docs") >= 2)
            .orderBy(F.desc("n_docs"), F.desc("n_occ"), "chunk")
            .limit(BOILERPLATE_TOP_K))


DD_BOILERPLATE_SQL = f"""
WITH ch AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, cast(ceil(len(t) / {CHUNK_TOKENS}.0) AS int)),
           i -> array_to_string(t[i * {CHUNK_TOKENS} + 1
                                  : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                                ' '))) AS chunk
  FROM (SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
        FROM documents WHERE doc_id IS NOT NULL)
)
SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ch GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, chunk LIMIT {BOILERPLATE_TOP_K}
"""


DOMAIN_CAP_K = 4  # max docs kept per host


def smp_domain_cap(spark, sf_dir):
    """Per-domain document cap — the anti-dominance sampler every big
    crawl runs (C4 and its descendants cap pages per host) so that one
    sprawling site cannot dominate a language's token budget. Keeps the
    DOMAIN_CAP_K longest documents per normalized host (length as the
    deterministic quality proxy; ties broken by doc_id) and emits the
    doc-grain verdict so downstream gates compose on the kept flag.

    Scale shape: the host key is a codegen'd map-only URL chain (shared
    with dd_domain_stats), and the ONLY shuffle is the per-host window —
    partitioned by the very key the cap is defined over; the rank and
    flag are then map-side. Exact integers throughout."""
    from .corpus import _norm_url, _synth_url
    docs = _docs(spark, sf_dir)
    host = F.regexp_extract(_norm_url(_synth_url()), "^[^/?]*", 0)
    d = docs.select("doc_id", host.alias("host"),
                    F.col("n_chars").cast("long").alias("n_chars_b"))
    w = Window.partitionBy("host").orderBy(F.col("n_chars_b").desc(),
                                           F.col("doc_id").asc())
    return (d.withColumn("rk", F.row_number().over(w).cast("int"))
            .withColumn("kept",
                        (F.col("rk") <= DOMAIN_CAP_K).cast("int"))
            .select("doc_id", "host", "n_chars_b", "rk", "kept")
            .orderBy("doc_id"))


SMP_DOMAIN_CAP_SQL = f"""
WITH {_URL_KEYED_CTES},
d AS (
  SELECT k.doc_id, regexp_extract(k.url_norm, '^[^/?]*') AS host,
         CAST(doc.n_chars AS BIGINT) AS n_chars_b
  FROM keyed k JOIN documents doc USING (doc_id)
),
ranked AS (
  SELECT doc_id, host, n_chars_b,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY n_chars_b DESC, doc_id ASC) AS rk
  FROM d
)
SELECT doc_id, host, n_chars_b, CAST(rk AS INTEGER) AS rk,
       CAST(CASE WHEN rk <= {DOMAIN_CAP_K} THEN 1 ELSE 0 END AS INTEGER)
         AS kept
FROM ranked ORDER BY doc_id
"""


LEN_QUANTILE_PS = (10, 50, 90, 99)  # percent ranks reported


def txt_len_quantiles(spark, sf_dir):
    """Exact per-source length quantiles — the scan-profile read a
    pipeline takes before picking chunking / packing / truncation
    thresholds. Discrete (type-1) quantiles: the value at 0-based index
    (n−1)·p DIV 100 in (n_chars, doc_id) order — pure integer index
    arithmetic, so both engines select the identical element and the
    oracle is exact (interpolated percentile_approx would not be).

    Scale shape: ONE per-source window (row_number over the sort the
    quantile is defined on) + a tiny per-source count aggregate expanded
    to sources×4 target rows and BROADCAST back — the corpus never
    shuffles twice and no global sort exists."""
    docs = _docs(spark, sf_dir)
    d = docs.select("source", "doc_id",
                    F.col("n_chars").cast("long").alias("n_chars_b"))
    w = Window.partitionBy("source").orderBy(F.col("n_chars_b").asc(),
                                             F.col("doc_id").asc())
    ranked = d.withColumn("rn", F.row_number().over(w))
    targets = (d.groupBy("source")
               .agg(F.count("*").cast("long").alias("n"))
               .select("source", "n",
                       F.explode(F.array(*[F.lit(p) for p in
                                           LEN_QUANTILE_PS])).alias("p"))
               .withColumn("rn", F.expr("(n - 1) * p DIV 100 + 1")
                           .cast("int")))
    return (ranked.join(F.broadcast(targets), ["source", "rn"])
            .select("source", F.col("p").cast("int").alias("p"), "n",
                    F.col("n_chars_b").alias("value"))
            .orderBy("source", "p"))


TXT_LEN_QUANT_SQL = f"""
WITH d AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars_b
  FROM documents WHERE doc_id IS NOT NULL
),
ranked AS (
  SELECT source, n_chars_b,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars_b ASC, doc_id ASC) AS rn
  FROM d
),
targets AS (
  SELECT source, n, p, CAST((n - 1) * p // 100 + 1 AS INTEGER) AS rn
  FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d
        GROUP BY source),
       (VALUES {', '.join('(%d)' % p for p in LEN_QUANTILE_PS)}) t(p)
)
SELECT r.source, CAST(t.p AS INTEGER) AS p, t.n,
       r.n_chars_b AS value
FROM ranked r JOIN targets t
  ON r.source = t.source AND r.rn = t.rn
ORDER BY r.source, p
"""


# ---------------------------------------------------------------------------
# URL / link density (C4-style link-spam signal)
# ---------------------------------------------------------------------------

# a doc whose URL characters exceed 30% of its text is link spam
URL_SPAM_BP = 3000


def txt_url_density(spark, sf_dir):
    """Link-density screening per source — the C4-style signal that
    separates prose from link farms / navigation dumps: per doc, the
    count of URLs and the share of characters inside them; per source,
    how many docs contain URLs, how many cross the link-spam share, and
    the aggregate URL-character share.

    Scale shape: one map-only projection (regexp_extract_all + an
    aggregate fold whose lambda touches only lambda variables) into a
    tiny groupBy(source) with map-side combine. Every output is an
    integer or an integer-division basis-point share — exact on both
    engines (no ROUND edge, no double sums)."""
    docs = _docs(spark, sf_dir)
    # url_chars = length minus length-after-strip: no HOF, no match-array
    # materialization, whole projection stays in codegen. Tight warm A/B
    # vs the regexp_extract_all + aggregate-HOF form is EQUAL at sf0.1
    # (~0.3s both; regex cost dominates) — kept for the plan shape, not a
    # measured win: the HOF form drops the projection out of codegen and
    # builds every doc's match array twice, which is the shape that bites
    # at 100 TB row widths.
    per = docs.selectExpr(
        "source",
        f"CAST(regexp_count(coalesce(text, ''), '{URL_RE}') AS BIGINT)"
        " AS n_urls",
        "CAST(length(coalesce(text, '')) - length(regexp_replace("
        f"coalesce(text, ''), '{URL_RE}', '')) AS BIGINT) AS url_chars",
        "CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars")
    spam = ((F.col("n_chars") > 0)
            & (F.col("url_chars") * 10000 >= F.col("n_chars") * URL_SPAM_BP))
    return (per.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum((F.col("n_urls") > 0).cast("long")).cast("long")
                 .alias("n_url_docs"),
                 F.sum(spam.cast("long")).cast("long").alias("n_spam_docs"),
                 F.sum("n_urls").cast("long").alias("urls_total"),
                 F.sum("url_chars").cast("long").alias("url_chars_total"),
                 F.sum("n_chars").cast("long").alias("chars_total"))
            .withColumn("link_char_bp",
                        F.expr("url_chars_total * 10000"
                               " DIV greatest(chars_total, 1)").cast("long"))
            .select("source", "n_docs", "n_url_docs", "n_spam_docs",
                    "urls_total", "url_chars_total", "chars_total",
                    "link_char_bp")
            .orderBy("source"))


TXT_URL_DENSITY_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(len(regexp_extract_all(coalesce(text, ''), '{URL_RE}'))
              AS BIGINT) AS n_urls,
         CAST(length(coalesce(text, ''))
              - length(regexp_replace(coalesce(text, ''), '{URL_RE}',
                                      '', 'g')) AS BIGINT) AS url_chars,
         CAST(len(coalesce(text, '')) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_urls > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_url_docs,
       CAST(SUM(CASE WHEN n_chars > 0
                      AND url_chars * 10000 >= n_chars * {URL_SPAM_BP}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_spam_docs,
       CAST(SUM(n_urls) AS BIGINT) AS urls_total,
       CAST(SUM(url_chars) AS BIGINT) AS url_chars_total,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(url_chars) * 10000 // GREATEST(SUM(n_chars), 1) AS BIGINT)
         AS link_char_bp
FROM per GROUP BY source ORDER BY source
"""


def txt_gate_agreement(spark, sf_dir):
    """Heuristic-vs-learned gate agreement matrix — the calibration
    read a data team runs before trusting a new gate: per language, how
    many documents each (gopher_pass, cls_pass) combination holds. The
    off-diagonal cells are the review queue (docs one gate keeps and
    the other drops); a learned gate whose disagreement cell explodes
    after retraining is caught HERE, before it reaches the funnel. Both
    verdicts ride the same single scan (map-only signals + the foldable
    classifier expression), one keyed aggregation — no corpus shuffle
    beyond the final tiny group."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("doc_id").isNotNull())
            .selectExpr("doc_id", "lang", f"{TOKENS_EXPR} AS t"))
    sig = with_repetition_signals(docs)
    cls_pass = F.expr(classifier_score_expr("t")) > CLS_THRESHOLD
    return (sig
            .select("lang",
                    (~gopher_fail()).cast("int").alias("gopher_pass"),
                    cls_pass.cast("int").alias("cls_pass"))
            .groupBy("lang", "gopher_pass", "cls_pass")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("lang", "gopher_pass", "cls_pass"))


def _txt_gate_agreement_sql() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, lang,
         string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
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
verdicts AS (
  SELECT d.lang,
         CASE WHEN uni.n_tok IS NULL OR uni.n_tok < {MIN_TOKENS}
              OR FLOOR(CAST(uni.max_tok AS DOUBLE) / uni.n_tok * 10000)
                 > {MAX_TOP_TOKEN_BP}
              OR FLOOR(CAST(bg.dup_bg AS DOUBLE) / bg.n_bg * 10000)
                 > {MAX_DUP_BIGRAM_BP}
              THEN 0 ELSE 1 END AS gopher_pass,
         CASE WHEN {classifier_score_sql('d.t')} > {CLS_THRESHOLD}
              THEN 1 ELSE 0 END AS cls_pass
  FROM docs d
  LEFT JOIN uni ON d.doc_id = uni.doc_id
  LEFT JOIN bg ON d.doc_id = bg.doc_id
)
SELECT lang, gopher_pass, cls_pass,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM verdicts GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Corpus drift monitoring: batch-over-batch distribution shift
# ---------------------------------------------------------------------------


def txt_drift_tvd(spark, sf_dir):
    """Batch-over-batch distribution drift per source: split the corpus
    into two deterministic md5 halves (standing in for consecutive crawl
    batches) and report the total-variation distance between their
    token-length distributions, bucketed by floor-log2 length. This is
    the monitoring read a pipeline runs after every ingest — a source
    whose length profile jumps (template change, truncation bug, spam
    flood) shows up as drift before any downstream gate moves.

    Engine-exact: buckets are length(bin(n_tokens)) (exact integer
    floor-log2 on both engines), per-half shares are integer basis
    points (o*10000 DIV n — integer division, no doubles anywhere), and
    the TVD is the integer sum of absolute share differences DIV 2.
    A source with an empty half reports NULL drift (the CASE guards the
    division on both engines).

    Scale shape: one map-only projection (token count, bucket, md5
    half), then ONE map-side-combinable groupBy(source, bucket) whose
    output is ~sources x 40 rows; everything after is driver-trivial."""
    docs = _docs(spark, sf_dir)
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":drift")))
    per_doc = len_bucket_frame(docs).select(
        "source",
        (h.bitwiseAND(F.lit(1))).cast("int").alias("half"),
        "bucket")
    cells = (per_doc.groupBy("source", "bucket")
             .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                  .cast("long").alias("o_a"),
                  F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
                  .cast("long").alias("o_b")))
    totals = cells.groupBy("source").agg(
        F.sum("o_a").alias("n_a"), F.sum("o_b").alias("n_b"))
    diff = F.abs(F.expr("o_a * 10000 DIV n_a")
                 - F.expr("o_b * 10000 DIV n_b"))
    return (cells.join(totals, "source")
            .groupBy("source")
            .agg(F.max("n_a").cast("long").alias("n_a"),
                 F.max("n_b").cast("long").alias("n_b"),
                 F.sum(F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                              diff))
                 .alias("sd"))
            .select("source", "n_a", "n_b",
                    F.expr("sd DIV 2").cast("long").alias("drift_bp"))
            .orderBy("source"))


TXT_DRIFT_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':drift'),
                               1, 16))::UBIGINT & 1) AS INT) AS half,
         CAST(CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END AS INT)
           AS bucket
  FROM (
    SELECT source, doc_id,
           len(list_filter(string_split_regex(
                 trim(lower(coalesce(text, ''))), '[ \\t\\n\\x0b\\f\\r]+'),
               x -> x != '')) AS n
    FROM documents WHERE doc_id IS NOT NULL)
),
cells AS (
  SELECT source, bucket,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o_b
  FROM per_doc GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(SUM(o_a) AS BIGINT) AS n_a,
         CAST(SUM(o_b) AS BIGINT) AS n_b
  FROM cells GROUP BY 1
)
SELECT source, n_a, n_b,
       CAST(SUM(CASE WHEN n_a > 0 AND n_b > 0
                THEN abs(o_a * 10000 // n_a - o_b * 10000 // n_b)
                END) // 2 AS BIGINT) AS drift_bp
FROM cells JOIN totals USING (source)
GROUP BY source, n_a, n_b ORDER BY source
"""


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste accounting
# ---------------------------------------------------------------------------

LEN_BUCKET_MIN_BITS = 6     # smallest bucket = 64 tokens
LEN_BUCKET_MAX = 2048       # docs longer than this are truncated


def smp_length_buckets(spark, sf_dir):
    """Length-bucketed batching ledger: assign every document to the
    next power-of-two token-length bucket (floor 64, cap 2048 with
    truncation) and account the padding a fixed-shape batch of that
    bucket wastes — the read that decides a serving/training bucket
    ladder. waste_bp = padded slots / total slots per bucket, in basis
    points.

    Engine-exact: the bucket is 1 << max(6, length(bin(n-1))) (exact
    next-pow2 via bin-length, no log()), padding and waste are pure
    integer arithmetic with a single integer division. Map-only
    projection + one tiny groupBy(bucket)."""
    docs = _docs(spark, sf_dir)
    tok_arr = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                r"[ \t\n\x0b\f\r]+"),
        lambda x: x != "")
    n_raw = F.size(tok_arr).cast("long")
    per_doc = docs.select(
        F.greatest(n_raw, F.lit(1).cast("long")).alias("n1")
    ).selectExpr(
        # next-pow2 via bin-length; F.shiftleft needs a literal shift, so
        # the column-shift runs as the SQL function
        f"least(shiftleft(CAST(1 AS BIGINT), "
        f"  greatest({LEN_BUCKET_MIN_BITS}, length(bin(n1 - 1)))), "
        f"  CAST({LEN_BUCKET_MAX} AS BIGINT)) AS bucket_size",
        f"least(n1, CAST({LEN_BUCKET_MAX} AS BIGINT)) AS n_fit")
    return (per_doc.groupBy("bucket_size")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_fit").cast("long").alias("n_tokens"),
                 F.sum(F.col("bucket_size") - F.col("n_fit"))
                 .cast("long").alias("n_padding"))
            .select("bucket_size", "n_docs", "n_tokens", "n_padding",
                    F.expr("n_padding * 10000 DIV (n_docs * bucket_size)")
                    .cast("long").alias("waste_bp"))
            .orderBy("bucket_size"))


SMP_LEN_BUCKETS_SQL = f"""
WITH per_doc AS (
  SELECT least(1::BIGINT << greatest({LEN_BUCKET_MIN_BITS},
                                     length(bin(greatest(n, 1) - 1))),
               {LEN_BUCKET_MAX}) AS bucket_size,
         least(greatest(n, 1), {LEN_BUCKET_MAX}) AS n_fit
  FROM (
    SELECT len(list_filter(string_split_regex(
                 trim(lower(coalesce(text, ''))), '[ \\t\\n\\x0b\\f\\r]+'),
               x -> x != '')) AS n
    FROM documents WHERE doc_id IS NOT NULL)
)
SELECT CAST(bucket_size AS BIGINT) AS bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_fit) AS BIGINT) AS n_tokens,
       CAST(SUM(bucket_size - n_fit) AS BIGINT) AS n_padding,
       CAST(SUM(bucket_size - n_fit) * 10000
            // (COUNT(*) * bucket_size) AS BIGINT) AS waste_bp
FROM per_doc GROUP BY bucket_size ORDER BY bucket_size
"""


# ---------------------------------------------------------------------------
# Token-distribution entropy (compression-ratio proxy quality signal)
# ---------------------------------------------------------------------------

# run-length fold over a SORTED token array that accumulates the exact
# integer-bits entropy numerator  Σ_types count · floor(log2(n / count)).
# floor(log2(n/c)) == length(bin(n DIV c)) - 1 for 1 ≤ c ≤ n (floor can
# only cross a power of two when the quotient itself does), so the whole
# statistic is integer arithmetic — portable to the last bit, no
# transcendental in the oracle pair. The zero accumulator carries n
# (evaluated once per row); the lambda touches ONLY (a, x) per the
# _run_fold discipline.
_ENT_ZERO = ("named_struct('prev', CAST(NULL AS STRING), "
             f"'run', {BIGINT_ZERO}, "
             "'n', CAST(size(t) AS BIGINT), 'acc', " + BIGINT_ZERO + ")")
_ENT_FLUSH = ("a.acc + IF(a.run > {one}, "
              "a.run * CAST(length(bin(a.n DIV a.run)) - 1 AS BIGINT), "
              "{zero})").format(one=BIGINT_ZERO, zero=BIGINT_ZERO)
_ENT_STEP = (f"(a, x) -> IF(x <=> a.prev, "
             f"named_struct('prev', x, 'run', a.run + {BIGINT_ONE}, "
             f"'n', a.n, 'acc', a.acc), "
             f"named_struct('prev', x, 'run', {BIGINT_ONE}, "
             f"'n', a.n, 'acc', {_ENT_FLUSH}))")


def txt_entropy(spark, sf_dir):
    """Per-doc token-distribution entropy in exact integer bits — the
    compression-ratio proxy quality gate (low entropy = repetitive /
    machine-generated junk; the signal Gopher's repetition rules
    approximate). ent_bits = Σ count·floor(log2(n/count)) over token
    types; bits-per-token reported as basis points via integer division.
    Zero transcendentals: floor-log2 via length(bin(n DIV c)) - 1, exact
    on both engines (the log()-ulp lesson).

    Scale shape: map-only — one sort-run fold per doc inside a single
    projection (the with_repetition_signals pattern); the corpus never
    shuffles. The DuckDB oracle recomputes the same integers via the
    keyed explode + GROUP BY form, so the compare is differential across
    two algorithms."""
    fold = (f"aggregate(array_sort(t), {_ENT_ZERO}, {_ENT_STEP}, "
            f"a -> {_ENT_FLUSH})")
    return (_docs(spark, sf_dir)
            .selectExpr("doc_id",
                        f"filter({TOKENS_EXPR}, x -> x <> '') AS t")
            .where("size(t) >= 1")
            .selectExpr("doc_id", "CAST(size(t) AS BIGINT) AS n_tokens",
                        f"{fold} AS ent_bits")
            .selectExpr("*",
                        "CAST((ent_bits * 10000) DIV n_tokens AS BIGINT)"
                        " AS bpt_bp")
            .orderBy("doc_id"))


TXT_ENTROPY_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
counts AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(t) AS g FROM tok WHERE len(t) >= 1)
  GROUP BY doc_id, g
),
totals AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY doc_id
),
ent AS (
  SELECT c.doc_id,
         CAST(SUM(c.c * (length(bin(t.n // c.c)) - 1)) AS BIGINT) AS ent_bits
  FROM counts c JOIN totals t USING (doc_id)
  GROUP BY c.doc_id
)
SELECT t.doc_id, t.n AS n_tokens, e.ent_bits,
       CAST((e.ent_bits * 10000) // t.n AS BIGINT) AS bpt_bp
FROM totals t JOIN ent e USING (doc_id)
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Word co-occurrence lift over the top vocabulary (association mining)
# ---------------------------------------------------------------------------

COOC_TOP_V = 30     # vocabulary cut: pairs only among the top-V df words
COOC_MIN_PAIR = 2   # emit pairs co-occurring in >= this many docs


def txt_cooc_pmi(spark, sf_dir):
    """Word co-occurrence lift (the integer-exact PMI core) among the
    top-COOC_TOP_V document-frequency words — the association-mining
    read a corpus team uses to spot boilerplate phrases and topic
    clumps. lift = P(a,b)/(P(a)P(b)) emitted as floor basis points of
    the all-integer ratio df_ab·N·10⁴ / (df_a·df_b) (PMI = log2 of the
    same ratio; keeping the ratio integer sidesteps the log-ulp class).

    Scale shape: per-doc DISTINCT tokens → one keyed df aggregation; the
    top-V cut is a distributed TakeOrdered on the vocab frame (total
    order (df DESC, w) — unique, so the cut is deterministic); the tiny
    winner set broadcasts back, and pair generation is a keyed self-join
    on doc_id over ≤ V rows per doc (≤ C(V,2) = 435 pairs/doc) — the
    corpus token stream itself never self-joins. int64 headroom:
    df_ab·N·10⁴ ≤ N²·10⁴ needs N ≤ 3·10⁷ docs per partition-universe;
    beyond that the same op runs per source shard (documented bound)."""
    base = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"explode(array_distinct(filter({TOKENS_EXPR}, x -> x <> ''))) AS w")
    dfreq = base.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    topv = dfreq.orderBy(F.desc("df"), F.asc("w")).limit(COOC_TOP_V)
    n_docs = _docs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_docs"))
    presence = base.join(broadcast(topv), "w")
    a = presence.select("doc_id", F.col("w").alias("w1"),
                        F.col("df").alias("df1"))
    b = presence.select("doc_id", F.col("w").alias("w2"),
                        F.col("df").alias("df2"))
    return (a.join(b, "doc_id")
            .where(F.col("w1") < F.col("w2"))
            .groupBy("w1", "w2", "df1", "df2")
            .agg(F.count("*").cast("long").alias("df_ab"))
            .where(F.col("df_ab") >= COOC_MIN_PAIR)
            .crossJoin(broadcast(n_docs))
            .selectExpr("w1", "w2", "df_ab",
                        "CAST((df_ab * n_docs * 10000)"
                        " DIV (df1 * df2) AS BIGINT) AS lift_bp")
            .orderBy("w1", "w2"))


TXT_COOC_SQL = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, g AS w
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                      '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS g
        FROM documents WHERE doc_id IS NOT NULL)
),
dfreq AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM pres GROUP BY w
),
topv AS (
  SELECT w, df FROM dfreq ORDER BY df DESC, w LIMIT {COOC_TOP_V}
),
n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id IS NOT NULL
),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, a.df AS df1, b.df AS df2,
         CAST(COUNT(*) AS BIGINT) AS df_ab
  FROM (SELECT p.doc_id, p.w, t.df FROM pres p JOIN topv t USING (w)) a
  JOIN (SELECT p.doc_id, p.w, t.df FROM pres p JOIN topv t USING (w)) b
    ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w, a.df, b.df
)
SELECT w1, w2, df_ab,
       CAST((df_ab * n_docs * 10000) // (df1 * df2) AS BIGINT) AS lift_bp
FROM pairs, n
WHERE df_ab >= {COOC_MIN_PAIR}
ORDER BY w1, w2
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (tokenizer-sizing evidence)
# ---------------------------------------------------------------------------

COV_THRESHOLDS = [100, 1000, 10000]


def txt_vocab_coverage(spark, sf_dir):
    """Cumulative token-coverage of the top-N vocabulary — the curve a
    team reads before sizing a tokenizer vocab or a stopword list: what
    share of all token INSTANCES do the top 100 / 1k / 10k types cover.

    Scale shape: one keyed token-count aggregation (map-side combine),
    then a distributed TakeOrdered cut to the top max(threshold) rows —
    the only global window (the rank cumsum) runs over that BOUNDED
    frame (≤ 10k rows by construction), never the full vocab. Totals are
    one map-side-combinable agg. All integer: coverage_bp = floor via
    BIGINT division."""
    counts = (_docs(spark, sf_dir).selectExpr(
                  "explode(filter(" + TOKENS_EXPR + ", x -> x <> '')) AS w")
              .groupBy("w").agg(F.count("*").cast("long").alias("c")))
    total = counts.agg(F.sum("c").cast("long").alias("s"))
    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(max(COV_THRESHOLDS))
    ranked = top.withColumn(
        "rank", F.row_number().over(
            Window.orderBy(F.desc("c"), F.asc("w"))))
    thr = F.explode(F.array(*[F.lit(t) for t in COV_THRESHOLDS])).alias(
        "threshold")
    return (ranked.select("rank", "c", thr)
            .where(F.col("rank") <= F.col("threshold"))
            .groupBy("threshold")
            .agg(F.count("*").cast("long").alias("n_types"),
                 F.sum("c").cast("long").alias("covered_tokens"))
            .crossJoin(broadcast(total))
            .selectExpr("threshold", "n_types", "covered_tokens",
                        "CAST((covered_tokens * 10000) DIV s AS BIGINT)"
                        " AS coverage_bp")
            .orderBy("threshold"))


TXT_VOCAB_COV_SQL = f"""
WITH counts AS (
  SELECT g AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
               '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS g
        FROM documents WHERE doc_id IS NOT NULL)
  GROUP BY g
),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS s FROM counts),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
  FROM (SELECT w, c FROM counts ORDER BY c DESC, w
        LIMIT {max(COV_THRESHOLDS)})
)
SELECT t.threshold,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(r.c) AS BIGINT) AS covered_tokens,
       CAST((CAST(SUM(r.c) AS BIGINT) * 10000) // (SELECT s FROM total)
            AS BIGINT) AS coverage_bp
FROM ranked r,
     (SELECT UNNEST([{", ".join(str(t) for t in COV_THRESHOLDS)}])
         AS threshold) t
WHERE r.rank <= t.threshold
GROUP BY t.threshold
ORDER BY t.threshold
"""


# ---------------------------------------------------------------------------
# Dup-rate × quality-gate interaction
# ---------------------------------------------------------------------------


def dd_dup_rate_by_gate(spark, sf_dir):
    """Exact-duplicate rate split by the doc-local quality-gate verdict —
    the interaction read behind curation-stage ORDERING: if duplicates
    concentrate in gate-failing docs, quality-first saves the dedup
    shuffle most of its input (and vice versa). Gate = the curation
    funnel's doc-local rules (token floor + Gopher repetition caps, the
    map-only sort-run fold); dup = corpus-wide content-hash multiplicity
    ≥ 2 (the dd_exact_dup md5 fold).

    Scale shape: gate signals are map-only; the only corpus shuffle is
    the keyed hash count + same-key join back (the exact-dedup shape);
    the final rollup is two rows. The DuckDB oracle recomputes the gate
    via the keyed explode+GROUP BY form — differential across the two
    signal algorithms, like txt_repetition."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "text", f"{TOKENS_EXPR} AS t")
    sig = with_repetition_signals(docs)
    # persist: the dup-count aggregation and the join-back both read the
    # heavy sort-run-fold projection (the dd_exact_dup two-branch
    # precedent); content_md5 = THE shared exact-dedup key
    gated = sig.select(
        "doc_id",
        content_md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"),
        (~gopher_fail()).alias("gate_pass")).persist()
    dup_counts = gated.groupBy("h").agg(F.count("*").alias("n_h"))
    return (gated.join(dup_counts, "h")
            .groupBy("gate_pass")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum((F.col("n_h") >= 2).cast("long")).cast("long")
                 .alias("n_dup_docs"))
            .selectExpr("gate_pass", "n_docs", "n_dup_docs",
                        "CAST((n_dup_docs * 10000) DIV n_docs AS BIGINT)"
                        " AS dup_bp")
            .orderBy("gate_pass"))


DD_DUP_BY_GATE_SQL = f"""
WITH tok AS (
  SELECT doc_id, text,
         string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
uni AS (
  SELECT doc_id, MAX(c) AS max_tok, CAST(SUM(c) AS BIGINT) AS n_tok FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(t) AS g FROM tok) GROUP BY 1, 2)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS dup_bg,
         CAST(SUM(c) AS BIGINT) AS n_bg
  FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1])) AS g
          FROM tok) GROUP BY 1, 2)
  GROUP BY doc_id
),
gated AS (
  SELECT k.doc_id,
         md5(regexp_replace(lower(coalesce(k.text, '')),
             '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS h,
         COALESCE(u.n_tok >= {MIN_TOKENS}
                  AND FLOOR(CAST(u.max_tok AS DOUBLE) / u.n_tok * 10000)
                      <= {MAX_TOP_TOKEN_BP}
                  AND FLOOR(CAST(b.dup_bg AS DOUBLE) / b.n_bg * 10000)
                      <= {MAX_DUP_BIGRAM_BP}, FALSE) AS gate_pass
  FROM tok k
  LEFT JOIN uni u USING (doc_id)
  LEFT JOIN bg b USING (doc_id)
),
dupc AS (SELECT h, COUNT(*) AS n_h FROM gated GROUP BY h)
SELECT g.gate_pass,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.n_h >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       CAST((CAST(SUM(CASE WHEN d.n_h >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            * 10000) // COUNT(*) AS BIGINT) AS dup_bp
FROM gated g JOIN dupc d USING (h)
GROUP BY g.gate_pass
ORDER BY g.gate_pass
"""


# ---------------------------------------------------------------------------
# Mix reconciliation report (achieved vs configured source shares)
# ---------------------------------------------------------------------------

# MIX_WEIGHTS ×10 as exact integers so the whole report is integer
# arithmetic (the quantize-before-cross-group-sums lesson)
_MIX_W10 = {s: int(w * 10) for s, w in MIX_WEIGHTS.items()}
_MIX_DEFAULT_W10 = 10


def smp_mix_report(spark, sf_dir):
    """Mix reconciliation: per source, the achieved token share against
    the configured MIX_WEIGHTS target — the monitoring read that tells a
    data team which sources are over/under-represented and by how much
    BEFORE re-running the mixing pass (smp_source_mix is the actuator;
    this is the gauge). All integer: weights ride as exact ×10 integers,
    target_bp = (w·10⁴) DIV Σw, achieved_bp = (tok_s·10⁴) DIV total,
    deficit_bp = target − achieved, and the corrective resample factor
    in ppm = (w·total·10⁶) DIV (Σw·tok_s) — floor division on
    non-negative operands, identical on both engines.

    Scale shape: one map-only token-count projection + one tiny
    groupBy(source) + a single-row total cross-joined back — the corpus
    never shuffles beyond the keyed source agg. int64 headroom:
    w·total·10⁶ needs total ≤ 2·10¹¹ tokens per report universe; at
    100 TB run the report per shard or quantize tokens to thousands
    (documented bound)."""
    docs = _docs(spark, sf_dir)
    w = F.lit(_MIX_DEFAULT_W10)
    for s, wt in _MIX_W10.items():
        w = F.when(F.col("source") == s, F.lit(wt)).otherwise(w)
    stats = (docs.selectExpr(
                 "source",
                 "CAST(size(split(lower(coalesce(text, '')),"
                 " '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')) AS BIGINT)"
                 " AS n_tokens_b")
             .groupBy("source")
             .agg(F.sum("n_tokens_b").cast("long").alias("tok_total"))
             .withColumn("w10", w.cast("long")))
    tot = stats.agg(F.sum("tok_total").cast("long").alias("total_tokens"),
                    F.sum("w10").cast("long").alias("total_w10"))
    return (stats.crossJoin(broadcast(tot))
            .selectExpr(
                "source", "tok_total",
                "CAST((tok_total * 10000) DIV total_tokens AS BIGINT)"
                " AS achieved_bp",
                "CAST((w10 * 10000) DIV total_w10 AS BIGINT) AS target_bp",
                "CAST((w10 * 10000) DIV total_w10"
                " - (tok_total * 10000) DIV total_tokens AS BIGINT)"
                " AS deficit_bp",
                "CAST((w10 * total_tokens * 1000000)"
                " DIV (total_w10 * tok_total) AS BIGINT) AS resample_ppm")
            .orderBy("source"))


_MIX_W10_CASES = "\n".join(
    f"       WHEN source = '{s}' THEN {w}" for s, w in _MIX_W10.items())

SMP_MIX_REPORT_SQL = f"""
WITH stats AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(lower(coalesce(text, '')),
              '[ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT) AS tok_total,
         CAST(CASE
{_MIX_W10_CASES}
         ELSE {_MIX_DEFAULT_W10} END AS BIGINT) AS w10
  FROM documents WHERE doc_id IS NOT NULL
  GROUP BY source
),
tot AS (
  SELECT CAST(SUM(tok_total) AS BIGINT) AS total_tokens,
         CAST(SUM(w10) AS BIGINT) AS total_w10
  FROM stats
)
SELECT source, tok_total,
       CAST((tok_total * 10000) // total_tokens AS BIGINT) AS achieved_bp,
       CAST((w10 * 10000) // total_w10 AS BIGINT) AS target_bp,
       CAST((w10 * 10000) // total_w10
            - (tok_total * 10000) // total_tokens AS BIGINT) AS deficit_bp,
       CAST((w10 * total_tokens * 1000000)
            // (total_w10 * tok_total) AS BIGINT) AS resample_ppm
FROM stats, tot
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Length-matched eval holdout
# ---------------------------------------------------------------------------

EVAL_HOLDOUT_BP = 500   # target eval share per stratum (5%)


def smp_eval_holdout(spark, sf_dir):
    """Length-matched eval holdout: carve a deterministic eval split
    whose LENGTH DISTRIBUTION matches train by sampling the same
    fraction inside every floor-log2 length bucket — the split a team
    ships so eval loss is comparable to train loss (a naive global 5%
    skews toward whatever lengths dominate; per-stratum admission can't).
    Admission = the md5 bridge per doc (same doc, same side, any
    partitioning/cluster/engine): doc goes to eval iff
    pmod(md5_long(doc_id || ':eval'), 10000) < EVAL_HOLDOUT_BP.
    Report per bucket: totals, eval count, achieved eval share — the
    reconciliation that shows the match held.

    Scale shape: map-only bucket+hash projection, one keyed
    (bucket) aggregation. The split itself is a WHERE clause any
    downstream reader reapplies — no materialization needed for the
    decision to be stable."""
    docs = _docs(spark, sf_dir)
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":eval")))
    # strata = THE shared len_bucket definition (functions/frames) over
    # the non-empty token count, so the holdout's length match can never
    # drift from the drift-baseline buckets (txt_drift_tvd, corpus-stats)
    n_tok = F.expr(f"CAST(size(filter({TOKENS_EXPR}, x -> x <> '')) AS BIGINT)")
    binned = (docs.withColumn("__h", h)
              .select(len_bucket(n_tok).alias("bucket"),
                      F.expr(f"pmod(__h, 10000) < {EVAL_HOLDOUT_BP}")
                      .alias("is_eval")))
    return (binned.groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_total"),
                 F.sum(F.col("is_eval").cast("long")).cast("long")
                 .alias("n_eval"))
            .selectExpr("bucket", "n_total", "n_eval",
                        "CAST((n_eval * 10000) DIV n_total AS BIGINT)"
                        " AS eval_bp")
            .orderBy("bucket"))


SMP_EVAL_HOLDOUT_SQL = f"""
WITH binned AS (
  SELECT CAST(CASE WHEN len(list_filter(string_split_regex(lower(text),
                   '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) > 0
              THEN length(bin(CAST(len(list_filter(string_split_regex(
                   lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
                   AS BIGINT)))
              ELSE 0 END AS INTEGER) AS bucket,
         ((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
              || ':eval'), 1, 16))::UBIGINT AS HUGEINT)
              - 9223372036854775808 AS BIGINT) % 10000) + 10000) % 10000
             < {EVAL_HOLDOUT_BP} AS is_eval
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       CAST((CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT)
            * 10000) // COUNT(*) AS BIGINT) AS eval_bp
FROM binned
GROUP BY bucket
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Hapax rate per source (vocabulary-health read)
# ---------------------------------------------------------------------------


def txt_hapax_by_source(spark, sf_dir):
    """Hapax-legomena rate per source: the share of each source's
    vocabulary that appears exactly once — the linguistic-health gauge
    that separates organic text (hapax-rich, Zipf tail intact) from
    template/machine output (tiny closed vocabulary, hapax-poor) at the
    SOURCE grain, where the acquisition decision is made.

    Scale shape: one keyed (source, token) count with map-side combine,
    then a tiny per-source rollup. All integer."""
    toks = _docs(spark, sf_dir).selectExpr(
        "source",
        f"explode(filter({TOKENS_EXPR}, x -> x <> '')) AS w")
    vocab = (toks.groupBy("source", "w")
             .agg(F.count("*").cast("long").alias("c")))
    return (vocab.groupBy("source")
            .agg(F.count("*").cast("long").alias("vocab_size"),
                 F.sum((F.col("c") == 1).cast("long")).cast("long")
                 .alias("n_hapax"),
                 F.sum("c").cast("long").alias("n_tokens"))
            .selectExpr("source", "vocab_size", "n_hapax", "n_tokens",
                        "CAST((n_hapax * 10000) DIV vocab_size AS BIGINT)"
                        " AS hapax_bp")
            .orderBy("source"))


TXT_HAPAX_SQL = """
WITH vocab AS (
  SELECT source, g AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(list_filter(string_split_regex(lower(text),
                      '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS g
        FROM documents WHERE doc_id IS NOT NULL)
  GROUP BY source, g
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST((CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
            * 10000) // COUNT(*) AS BIGINT) AS hapax_bp
FROM vocab
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Zipf-slope corpus health check
# ---------------------------------------------------------------------------

ZIPF_TOP_RANKS = 1024  # regression over the top-N token ranks


def txt_zipf_slope(spark, sf_dir):
    """Least-squares slope of floor-log2(count) against floor-log2(rank)
    over the top-ZIPF_TOP_RANKS token ranks — the corpus-health read
    (natural language sits near slope −1; template/machine corpora bend
    the curve). EVERY term is integer: x = length(bin(rank))−1,
    y = length(bin(count))−1, slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    with the ×10⁴ floor taken via the explicit pmod floor-division
    identity (slope is negative; bare integer division truncates toward
    zero on BOTH engines and would round the wrong way — the `//` lesson).

    Scale shape: one keyed token-count aggregation, a distributed
    TakeOrdered cut to ZIPF_TOP_RANKS rows, and the rank window + sums
    over that BOUNDED frame only. int64 headroom: n ≤ 1024, x,y ≤ 63 →
    10⁴·n·Σxy ≤ 4·10¹³."""
    counts = (_docs(spark, sf_dir).selectExpr(
                  "explode(filter(" + TOKENS_EXPR + ", x -> x <> '')) AS w")
              .groupBy("w").agg(F.count("*").cast("long").alias("c")))
    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(ZIPF_TOP_RANKS)
    pts = (top.withColumn(
               "rank", F.row_number().over(
                   Window.orderBy(F.desc("c"), F.asc("w"))))
           .selectExpr("CAST(length(bin(rank)) - 1 AS BIGINT) AS x",
                       "CAST(length(bin(c)) - 1 AS BIGINT) AS y"))
    return (pts.agg(F.count("*").cast("long").alias("n"),
                    F.sum("x").cast("long").alias("sx"),
                    F.sum("y").cast("long").alias("sy"),
                    F.sum(F.expr("x * y")).cast("long").alias("sxy"),
                    F.sum(F.expr("x * x")).cast("long").alias("sxx"))
            .selectExpr("n AS n_points",
                        "10000 * (n * sxy - sx * sy) AS num",
                        "n * sxx - sx * sx AS den")
            .where("den <> 0")
            .selectExpr("n_points",
                        "CAST((num - ((num % den) + den) % den) DIV den"
                        " AS BIGINT) AS slope_bp"))


TXT_ZIPF_SQL = f"""
WITH counts AS (
  SELECT g AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
               '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS g
        FROM documents WHERE doc_id IS NOT NULL)
  GROUP BY g
),
pts AS (
  SELECT CAST(length(bin(ROW_NUMBER() OVER (ORDER BY c DESC, w))) - 1
              AS BIGINT) AS x,
         CAST(length(bin(c)) - 1 AS BIGINT) AS y
  FROM (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT {ZIPF_TOP_RANKS})
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n AS n_points,
       CAST((num - ((num % den) + den) % den) // den AS BIGINT) AS slope_bp
FROM (SELECT n, 10000 * (n * sxy - sx * sy) AS num,
             n * sxx - sx * sx AS den
      FROM sums)
WHERE den <> 0
"""


QUERIES = {
    "txt_repetition": (txt_repetition, TXT_REPETITION_SQL),
    "txt_entropy": (txt_entropy, TXT_ENTROPY_SQL),
    "txt_cooc_pmi": (txt_cooc_pmi, TXT_COOC_SQL),
    "txt_vocab_coverage": (txt_vocab_coverage, TXT_VOCAB_COV_SQL),
    "txt_zipf_slope": (txt_zipf_slope, TXT_ZIPF_SQL),
    "smp_mix_report": (smp_mix_report, SMP_MIX_REPORT_SQL),
    "dd_dup_rate_by_gate": (dd_dup_rate_by_gate, DD_DUP_BY_GATE_SQL),
    "smp_eval_holdout": (smp_eval_holdout, SMP_EVAL_HOLDOUT_SQL),
    "txt_hapax_by_source": (txt_hapax_by_source, TXT_HAPAX_SQL),
    "txt_drift_tvd": (txt_drift_tvd, TXT_DRIFT_SQL),
    "smp_length_buckets": (smp_length_buckets, SMP_LEN_BUCKETS_SQL),
    "txt_gate_agreement": (txt_gate_agreement,
                           _txt_gate_agreement_sql()),
    "txt_url_density": (txt_url_density, TXT_URL_DENSITY_SQL),
    "txt_pii_scrub": (txt_pii_scrub, TXT_PII_SQL),
    "txt_contamination": (txt_contamination, TXT_CONTAM_SQL),
    "smp_stratified": (smp_stratified, SMP_STRAT_SQL),
    "smp_token_budget": (smp_token_budget, SMP_BUDGET_SQL),
    "smp_pack_sequences": (smp_pack_sequences, SMP_PACK_SQL),
    "smp_pack_assembly": (smp_pack_assembly, SMP_PACK_ASSEMBLY_SQL),
    "smp_chat_pack": (smp_chat_pack, _smp_chat_pack_sql()),
    "smp_chat_pack_seqs": (smp_chat_pack_seqs, _smp_chat_pack_seqs_sql()),
    "dd_chunk_dup": (dd_chunk_dup, DD_CHUNK_SQL),
    "dd_substring_dup": (dd_substring_dup, DD_SUBSTR_SQL),
    "smp_source_mix": (smp_source_mix, SMP_MIX_SQL),
    "txt_quality_hist": (txt_quality_hist, TXT_QUALITY_HIST_SQL),
    "txt_lm_unigram_score": (txt_lm_unigram_score, TXT_LM_SCORE_SQL),
    "txt_lm_bigram_score": (txt_lm_bigram_score, TXT_LM_BIGRAM_SQL),
    "txt_ttr": (txt_ttr, TXT_TTR_SQL),
    "txt_code_detect": (txt_code_detect, TXT_CODE_DETECT_SQL),
    "txt_char_class_mix": (txt_char_class_mix, TXT_CHAR_CLASS_SQL),
    "txt_sentence_stats": (txt_sentence_stats, TXT_SENTENCE_SQL),
    "smp_temperature_mix": (smp_temperature_mix, SMP_TEMP_MIX_SQL),
    "smp_shard_assign": (smp_shard_assign, SMP_SHARD_SQL),
    "txt_gopher_gate": (txt_gopher_gate, TXT_GOPHER_SQL),
    "smp_epoch_mix": (smp_epoch_mix, SMP_EPOCH_SQL),
    "txt_chunk_windows": (txt_chunk_windows, TXT_CHUNK_SQL),
    "smp_quality_weighted": (smp_quality_weighted, SMP_QW_SQL),
    "dd_chunk_dedup_strip": (dd_chunk_dedup_strip, DD_CHUNK_STRIP_SQL),
    "txt_blocklist_filter": (txt_blocklist_filter, TXT_BLOCKLIST_SQL),
    "smp_domain_cap": (smp_domain_cap, SMP_DOMAIN_CAP_SQL),
    "txt_len_quantiles": (txt_len_quantiles, TXT_LEN_QUANT_SQL),
    "dd_boilerplate_topk": (dd_boilerplate_topk, DD_BOILERPLATE_SQL),
}
