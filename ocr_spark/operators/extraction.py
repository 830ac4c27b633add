"""Extraction queries for the driver contract (rows-only checks).

The extraction engine itself is not SQL-expressible (DOM parsing, regex
cascades, PHP-semantics rounding), so these queries get rows-only checks.
Inputs are synthesized deterministically from sf_dir's documents table so
the whole query is a pure function of the testdata — no external data.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.frames import len_bucket
from ..functions.hashing import content_md5, md5_long
from ..functions.minhash import (MINHASH_CTES, lsh_candidate_pairs,
                                 minhash_bands, minhash_sig_stage)
from ..functions.quality import (DEGEN_DUP_BP, DEGEN_MIN_TOKENS,
                                 with_repetition_signals)
from ..functions.text import (REFUSAL_MARKS, TOKENS_EXPR, lang_argmax_column,
                              lang_hit_columns)
from ..sources.synthetic import (BASE_EPOCH, agent_transcripts,
                                 agent_transcripts_sql)


def _doc_turns(docs, payload, role: str, tool: str, turn_idx=None):
    """One transcript turn per document carrying `payload`: conversation
    doc_id % 50, turn doc_id % 1000 unless given, ts BASE_EPOCH + doc_id
    seconds."""
    if turn_idx is None:
        turn_idx = F.col("doc_id") % 1000
    return docs.select(
        F.format_string("conv-%06d", F.col("doc_id") % 50).alias("conv_id"),
        turn_idx.cast("int").alias("turn_idx"),
        F.lit(role).alias("role"),
        payload.alias("text"),
        F.lit(tool).alias("tool"),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("doc_id")).alias("ts"),
    )


def _transcripts_from_documents(spark, sf_dir):
    """Wrap each document's text into a transcript turn whose payload is a
    deterministic markdown invoice containing the doc text as a remark —
    exercises detection + markdown table extraction end-to-end over real
    testdata text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.concat(
        F.lit("## Supplier "), F.col("source"), F.lit(" Ltd\n"),
        F.lit("invoice no: INV-"), F.col("doc_id").cast("string"), F.lit("\n"),
        F.lit("date: 2025-03-"), F.format_string("%02d", (F.col("doc_id") % 28) + 1), F.lit("\n\n"),
        F.lit("| code | name | qty | unit price | total |\n"),
        F.lit("|---|---|---|---|---|\n"),
        F.lit("| D-1 | Document bundle | "),
        ((F.col("doc_id") % 5) + 1).cast("string"),
        F.lit(" | 10.00 | "),
        F.format_string("%d.00", ((F.col("doc_id") % 5) + 1) * 10),
        F.lit(" |\n\n合计："),
        F.format_string("%d.00", ((F.col("doc_id") % 5) + 1) * 10),
        F.lit("\nremark: "), F.substring(F.col("text"), 1, 120), F.lit("\n"),
    )
    return _doc_turns(docs, payload, "tool", "markdown")


def extract_documents(spark, sf_dir):
    """Flagship: full extraction pipeline over payloads synthesized from the
    documents table. One output row per turn with the detected kind and the
    extracted record summary."""
    from ..pipeline.extract import extract_turns
    t = _transcripts_from_documents(spark, sf_dir)
    e = extract_turns(t, salt_partitions=None)
    return (
        e.select(
            "conv_id", "turn_idx", "source_kind",
            F.round("confidence", 3).alias("confidence"),
            "n_items",
            F.round("calc_total", 2).alias("calc_total"),
            F.element_at(F.col("records"), 1).getField("invoice_number").alias("invoice_number"),
            F.element_at(F.col("records"), 1).getField("invoice_date").alias("invoice_date"),
            F.element_at(F.col("records"), 1).getField("supplier_name").alias("supplier_name"),
        )
        .orderBy("conv_id", "turn_idx")
    )


def extract_synthetic(spark, sf_dir):
    """Extraction over the native synthetic transcripts generator (all four
    payload shapes + chatter + hot-conv skew), summarized per parser kind.
    Deterministic: pure function of the seed."""
    from ..pipeline.extract import extract_turns
    from ..sources.synthetic import synthesize_transcripts
    t = synthesize_transcripts(spark, n_convs=100, turns_per_conv=6)
    e = extract_turns(t, salt_partitions=None)
    return (
        e.groupBy("source_kind")
        .agg(F.count("*").alias("n_turns"),
             F.sum("n_items").alias("total_items"),
             F.round(F.sum("calc_total"), 2).alias("sum_calc_total"))
        .orderBy(F.col("source_kind").asc_nulls_first())
    )


def extract_ordered_spans(spark, sf_dir):
    """The north_rule equality surface: per-turn extracted clean text +
    char spans under STABLE TURN ORDERING (window over conv_id ordered by
    turn_idx, ts → turn_seq). One row per (turn, span)."""
    from ..pipeline.extract import extract_turns, stable_order
    t = _transcripts_from_documents(spark, sf_dir)
    e = stable_order(extract_turns(t, salt_partitions=None))
    return (
        e.select("conv_id", "turn_seq", "turn_idx",
                 F.substring("clean_text", 1, 40).alias("clean_prefix"),
                 F.posexplode_outer("spans").alias("span_idx", "span"))
        .select("conv_id", "turn_seq", "turn_idx", "clean_prefix",
                "span_idx",
                F.col("span.field").alias("field"),
                F.col("span.start").alias("span_start"),
                F.col("span.end").alias("span_end"))
        .orderBy("conv_id", "turn_seq", "span_idx")
    )


def import_star_schema(spark, sf_dir):
    """End-to-end: extraction → set-oriented star-schema import
    (pipeline/importer.py; PurchaseImporter semantics). Returns the
    purchases fact joined to the supplier dim, proving referential
    integrity through deterministic surrogate keys."""
    from ..pipeline.extract import extract_turns
    from ..pipeline.importer import plan_import
    t = _transcripts_from_documents(spark, sf_dir)
    # persist: purchases AND suppliers branch from the same extracted
    # frame — without it the Arrow extraction stage runs once per branch
    tables = plan_import(extract_turns(t, salt_partitions=None).persist())
    return (
        tables["purchases"]
        .join(tables["suppliers"],
              tables["purchases"].supplier_id == tables["suppliers"].supplier_id)
        .select("reference_no", "name", "item",
                F.round("total_qty", 2).alias("total_qty"),
                F.round("grand_total", 2).alias("grand_total"), "date")
        .orderBy("reference_no")
    )


def _sale_transcripts_from_documents(spark, sf_dir):
    """Sale-draft variant of _transcripts_from_documents: same markdown
    invoice payload plus a 'customer:' header line
    (TextBlockParsing.php:72-78 customer patterns), so the sale import
    path has a real counterparty to build its customers dim from."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.concat(
        F.lit("## Supplier "), F.col("source"), F.lit(" Ltd\n"),
        F.lit("invoice no: INV-"), F.col("doc_id").cast("string"), F.lit("\n"),
        F.lit("date: 2025-03-"), F.format_string("%02d", (F.col("doc_id") % 28) + 1), F.lit("\n"),
        F.lit("customer: Customer "), (F.col("doc_id") % 7).cast("string"),
        F.lit(" Trading Co\n\n"),
        F.lit("| code | name | qty | unit price | total |\n"),
        F.lit("|---|---|---|---|---|\n"),
        F.lit("| D-1 | Document bundle | "),
        ((F.col("doc_id") % 5) + 1).cast("string"),
        F.lit(" | 10.00 | "),
        F.format_string("%d.00", ((F.col("doc_id") % 5) + 1) * 10),
        F.lit(" |\n\n合计："),
        F.format_string("%d.00", ((F.col("doc_id") % 5) + 1) * 10),
        F.lit("\n"),
    )
    # turn_idx = doc_id // 50 with conv = doc_id % 50: (conv, turn) is
    # UNIQUE for every doc_id. The doc_id % 1000 scheme the other payload
    # generators use collides at >= 7001 docs, and import_sales GROUPS BY
    # (conv, turn, ...) — a collision would merge two invoices into one
    # sales row while the oracle emits two (latent sf-scaling divergence;
    # the per-row extraction queries don't group, so they keep % 1000).
    return _doc_turns(docs, payload, "tool", "markdown",
                      turn_idx=F.col("doc_id") / 50)


def import_sales(spark, sf_dir):
    """End-to-end sale path: extraction → plan_sale_import
    (SaleImporter.php semantics) → sales fact joined to the customers
    dim. Oracle-paired: the synthesized payload is a pure function of
    documents, so DuckDB can derive every sale row — reference_no
    content hash included — straight from the table."""
    from ..pipeline.extract import extract_turns
    from ..pipeline.importer import plan_sale_import
    t = _sale_transcripts_from_documents(spark, sf_dir)
    # persist: sales AND customers branch from the same extracted frame
    tables = plan_sale_import(extract_turns(t, salt_partitions=None).persist())
    sales, customers = tables["sales"], tables["customers"]
    return (
        sales.join(customers, "customer_id")
        .select("reference_no", "name", "item",
                F.round("total_qty", 2).alias("total_qty"),
                F.round("grand_total", 2).alias("grand_total"),
                F.round("paid_amount", 2).alias("paid_amount"),
                "date")
        .orderBy("reference_no", "date")
    )


IMPORT_SALES_SQL = """
WITH d AS (
  SELECT printf('conv-%06d', doc_id % 50) AS conv_id,
         CAST(doc_id // 50 AS INTEGER) AS turn_idx,
         '2025-03-' || printf('%02d', (doc_id % 28) + 1) AS invoice_date,
         'Customer ' || CAST(doc_id % 7 AS VARCHAR) || ' Trading Co' AS name,
         CAST((doc_id % 5) + 1 AS DOUBLE) AS qty
  FROM documents
)
SELECT 'sr-' || replace(invoice_date, '-', '') || '-' ||
         substring(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR) || '|0|'
                       || conv_id || '_' || CAST(turn_idx AS VARCHAR) || '.md'),
                   1, 6) AS reference_no,
       name,
       CAST(1 AS BIGINT) AS item,
       ROUND(qty, 2) AS total_qty,
       ROUND(qty * 10.0, 2) AS grand_total,
       ROUND(qty * 10.0, 2) AS paid_amount,
       invoice_date AS date
FROM d
ORDER BY reference_no, date
"""


# the boilerplate chrome as module constants: the payload builder and the
# extract_yield oracle's raw-length arithmetic derive from the SAME strings
# (a transcription drift would silently skew the yield denominator)
_HTML_CHROME = (
    '<html><body>\n'
    '<nav class="nav"><a href="/">Home</a> <a href="/a">About</a> '
    '<a href="/c">Contact</a></nav>\n'
    '<div class="sidebar"><ul><li><a href="/r1">Related article one'
    '</a></li><li><a href="/r2">Related article two</a></li></ul>'
    '</div>\n<div class="content">\n<h1>Document ',
    "</h1>\n<p>",
    "</p>\n<p>Document ",
    " from source ",
    " has ",
    " characters of content, restated here, with commas, for "
    "density.</p>\n</div>\n"
    '<footer class="footer">Copyright 2026 Example Corp. '
    "All rights reserved.</footer>\n</body></html>",
)
_HTML_CHROME_LEN = sum(len(c) for c in _HTML_CHROME)

# same contract for the PDF payload builder (used by extract_yield's
# pdf_layout raw-length arithmetic)
_PDF_CHROME = (
    "%PDF-1.4\n1 0 obj << /Type /Page >> endobj\n"
    "4 0 obj << /Length 0 >> stream\n"
    "BT /F1 16 Tf 72 720 Td (Document ",
    " report) Tj ET\nBT /F1 12 Tf 72 690 Td (",
    ") Tj 0 -14 TD (",
    ") Tj ET\nendstream endobj\n%%EOF",
)
_PDF_CHROME_LEN = sum(len(c) for c in _PDF_CHROME)


def _html_transcripts_from_documents(spark, sf_dir):
    """Generic-web-page payloads (north_star): each document's text becomes
    the article body of a boilerplate-wrapped HTML page — nav, sidebar,
    footer chrome around a content div. The readability kernel must
    recover exactly the article."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.concat(
        F.lit(_HTML_CHROME[0]),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_CHROME[1]),
        F.substring(F.col("text"), 1, 200),
        F.lit(_HTML_CHROME[2]),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_CHROME[3]),
        F.col("source"),
        F.lit(_HTML_CHROME[4]),
        F.col("n_chars").cast("string"),
        F.lit(_HTML_CHROME[5]),
    )
    return _doc_turns(docs, payload, "assistant", "html")


def extract_html_readability(spark, sf_dir):
    """North-star boilerplate strip, end-to-end and oracle-paired: HTML
    pages synthesized from documents run through the full extraction
    pipeline; the emitted clean_text must be EXACTLY the article content
    (title + both paragraphs, whitespace-collapsed) with nav/sidebar/
    footer chrome stripped — which DuckDB can re-derive from the
    documents table as a pure string expression. n_spans counts the
    content text runs (title + 2 paragraphs)."""
    from ..pipeline.extract import extract_turns
    t = _html_transcripts_from_documents(spark, sf_dir)
    e = extract_turns(t, salt_partitions=None)
    return (
        e.select("conv_id", "turn_idx", "source_kind",
                 F.col("clean_text"),
                 F.size("spans").alias("n_spans"))
        .orderBy("conv_id", "turn_idx", "clean_text")
    )


EXTRACT_HTML_SQL = """
SELECT printf('conv-%06d', doc_id % 50) AS conv_id,
       CAST(doc_id % 1000 AS INTEGER) AS turn_idx,
       'readability_html' AS source_kind,
       'Document ' || CAST(doc_id AS VARCHAR) || ' ' ||
         trim(regexp_replace(substring(text, 1, 200), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) ||
         ' Document ' || CAST(doc_id AS VARCHAR) || ' from source ' || source ||
         ' has ' || CAST(n_chars AS VARCHAR) ||
         ' characters of content, restated here, with commas, for density.'
         AS clean_text,
       3 AS n_spans
FROM documents
ORDER BY conv_id, turn_idx, clean_text
"""


def extract_yield(spark, sf_dir):
    """Extraction-yield accounting — the boilerplate-strip effectiveness
    read a 100 TB extraction job publishes per partition: raw payload
    characters in, clean article characters out, spans recovered, and
    the yield share per conversation. A kind whose yield collapses (or
    explodes past 10000 bp) is a parser regression caught by accounting,
    before any text diff.

    Shape note: raw length is aggregated from the payload frame and
    re-attached to the extracted aggregate by a conversations-sized
    join, because EXTRACT_SCHEMA is frozen this round; a production
    deployment folds raw_len into the Arrow stage output (one column)
    and this becomes a single pass. Both passes here are map-only into
    keyed aggregations; nothing corpus-sized joins. The oracle derives
    raw length arithmetically from the SAME chrome constants the payload
    builder uses, and the clean side from the pinned readability mirror
    — so the yield is a differential check on the kernel's output
    length, not a replay of Spark's answer."""
    from ..pipeline.extract import extract_turns
    th = _html_transcripts_from_documents(spark, sf_dir)
    tp = _pdf_transcripts_from_documents(spark, sf_dir)
    clean = (extract_turns(th.unionByName(tp), salt_partitions=None)
             .groupBy("source_kind", "conv_id")
             .agg(F.count("*").cast("long").alias("n_turns"),
                  F.sum(F.length("clean_text")).cast("long")
                  .alias("clean_chars"),
                  F.sum(F.size("spans")).cast("long").alias("spans_total")))
    raw = (th.select(F.lit("readability_html").alias("source_kind"),
                     "conv_id", F.length("text").alias("n"))
           .unionByName(tp.select(
               F.lit("pdf_layout").alias("source_kind"),
               "conv_id", F.length("text").alias("n")))
           .groupBy("source_kind", "conv_id")
           .agg(F.sum("n").cast("long").alias("raw_chars")))
    return (clean.join(raw, ["source_kind", "conv_id"])
            .select("source_kind", "conv_id", "n_turns", "raw_chars",
                    "clean_chars", "spans_total",
                    F.expr("clean_chars * 10000 DIV raw_chars").cast("long")
                    .alias("yield_bp"))
            .orderBy("source_kind", "conv_id"))


EXTRACT_YIELD_SQL = f"""
WITH per AS (
  SELECT 'readability_html' AS source_kind,
         printf('conv-%06d', doc_id % 50) AS conv_id,
         {_HTML_CHROME_LEN}
           + 2 * length(CAST(doc_id AS VARCHAR))
           + length(substring(text, 1, 200))
           + length(source)
           + length(CAST(n_chars AS VARCHAR)) AS raw_chars,
         length('Document ' || CAST(doc_id AS VARCHAR) || ' ' ||
           trim(regexp_replace(substring(text, 1, 200), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) ||
           ' Document ' || CAST(doc_id AS VARCHAR) || ' from source '
           || source || ' has ' || CAST(n_chars AS VARCHAR) ||
           ' characters of content, restated here, with commas, for density.')
           AS clean_chars,
         3 AS n_spans
  FROM documents
  UNION ALL
  SELECT 'pdf_layout' AS source_kind,
         printf('conv-%06d', doc_id % 50) AS conv_id,
         {_PDF_CHROME_LEN}
           + length(CAST(doc_id AS VARCHAR))
           + length(trim(substring(text, 1, 60)))
           + length(trim(substring(text, 61, 60))) AS raw_chars,
         length('Document ' || CAST(doc_id AS VARCHAR) || ' report' ||
           chr(10) || chr(10) || trim(substring(text, 1, 60)) ||
           CASE WHEN trim(substring(text, 61, 60)) = '' THEN ''
                ELSE chr(10) || trim(substring(text, 61, 60)) END)
           AS clean_chars,
         CASE WHEN trim(substring(text, 61, 60)) = '' THEN 2 ELSE 3 END
           AS n_spans
  FROM documents
)
SELECT source_kind, conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(raw_chars) AS BIGINT) AS raw_chars,
       CAST(SUM(clean_chars) AS BIGINT) AS clean_chars,
       CAST(SUM(n_spans) AS BIGINT) AS spans_total,
       CAST(SUM(clean_chars) * 10000 // SUM(raw_chars) AS BIGINT)
         AS yield_bp
FROM per GROUP BY 1, 2 ORDER BY source_kind, conv_id
"""


def _pdf_transcripts_from_documents(spark, sf_dir):
    """Minimal uncompressed PDF payloads (north_star PDF byte-stream
    path): a 16pt title line and a two-line 12pt body paragraph carrying
    the document's text, laid out with Td/TD moves so the kernel's
    block/line reconstruction has real geometry to recover."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p1 = F.trim(F.substring(F.col("text"), 1, 60))
    p2 = F.trim(F.substring(F.col("text"), 61, 60))
    payload = F.concat(
        F.lit(_PDF_CHROME[0]),
        F.col("doc_id").cast("string"),
        F.lit(_PDF_CHROME[1]),
        p1,
        F.lit(_PDF_CHROME[2]),
        p2,
        F.lit(_PDF_CHROME[3]),
    )
    return _doc_turns(docs, payload, "tool", "pdf")


def extract_pdf_layout_q(spark, sf_dir):
    """North-star PDF path, end-to-end and oracle-paired: synthesized PDF
    byte streams through the full extraction pipeline; clean_text must be
    exactly title-block + body-block (blocks split on the Y gap, lines
    stacked by leading), which DuckDB re-derives as a string expression.
    n_spans = the three shown strings, offset into the raw payload."""
    from ..pipeline.extract import extract_turns
    t = _pdf_transcripts_from_documents(spark, sf_dir)
    e = extract_turns(t, salt_partitions=None)
    return (
        e.select("conv_id", "turn_idx", "source_kind", "clean_text",
                 F.size("spans").alias("n_spans"))
        .orderBy("conv_id", "turn_idx", "clean_text")
    )


EXTRACT_PDF_SQL = """
-- a document shorter than 61 chars yields an empty second line, which
-- the kernel drops entirely (empty show strings emit no span): the
-- body block then has one line and one fewer span
SELECT printf('conv-%06d', doc_id % 50) AS conv_id,
       CAST(doc_id % 1000 AS INTEGER) AS turn_idx,
       'pdf_layout' AS source_kind,
       'Document ' || CAST(doc_id AS VARCHAR) || ' report' ||
         chr(10) || chr(10) || trim(substring(text, 1, 60)) ||
         CASE WHEN trim(substring(text, 61, 60)) = '' THEN ''
              ELSE chr(10) || trim(substring(text, 61, 60)) END
         AS clean_text,
       CASE WHEN trim(substring(text, 61, 60)) = '' THEN 2 ELSE 3 END
         AS n_spans
FROM documents
ORDER BY conv_id, turn_idx, clean_text
"""


def extract_quality_gate(spark, sf_dir):
    """The composed training-data flow, oracle-paired end to end:
    extraction (boilerplate-stripped HTML article text) → per-turn
    quality metrics on the CLEAN text (token count, stopword ratio,
    avg token length — the txt_quality expressions applied post-
    extraction) → gate → per-conversation keep/drop counts. This is the
    shape a 100 TB corpus job runs: extract once, score the extracted
    text, filter before anything expensive."""
    from ..pipeline.extract import extract_turns
    t = _html_transcripts_from_documents(spark, sf_dir)
    e = extract_turns(t, salt_partitions=None)
    tokens = F.split(F.col("clean_text"), " ")
    n_tokens = F.size(tokens)
    n_stop = F.size(F.filter(
        tokens, lambda tok: F.lower(tok).isin("the", "a", "of", "and", "to",
                                              "in", "is", "it", "for", "on")))
    avg_len = F.length("clean_text") / n_tokens
    passed = ((n_tokens >= 15) & (avg_len <= 12.0)
              & (n_stop / n_tokens <= 0.5)).cast("long")
    return (
        e.withColumn("passed", passed)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum("passed").alias("n_kept"),
             (F.count("*") - F.sum("passed")).alias("n_dropped"))
        .orderBy("conv_id")
    )


EXTRACT_QUALITY_SQL = """
WITH cleaned AS (
  SELECT printf('conv-%06d', doc_id % 50) AS conv_id,
         'Document ' || CAST(doc_id AS VARCHAR) || ' ' ||
           trim(regexp_replace(substring(text, 1, 200), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) ||
           ' Document ' || CAST(doc_id AS VARCHAR) || ' from source ' ||
           source || ' has ' || CAST(n_chars AS VARCHAR) ||
           ' characters of content, restated here, with commas, for density.'
           AS clean_text
  FROM documents
),
scored AS (
  SELECT conv_id,
         len(string_split(clean_text, ' ')) AS n_tokens,
         len(list_filter(string_split(clean_text, ' '),
             t -> lower(t) IN ('the','a','of','and','to','in','is','it',
                               'for','on'))) AS n_stop,
         CAST(length(clean_text) AS DOUBLE)
           / len(string_split(clean_text, ' ')) AS avg_len
  FROM cleaned
)
SELECT conv_id,
       COUNT(*) AS n_turns,
       CAST(SUM(CASE WHEN n_tokens >= 15 AND avg_len <= 12.0
                      AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) - CAST(SUM(CASE WHEN n_tokens >= 15 AND avg_len <= 12.0
                      AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM scored GROUP BY conv_id ORDER BY conv_id
"""


def conv_assemble(spark, sf_dir):
    """Conversation assembly under stable turn ordering (W1/north_rule):
    per conv_id, concatenate turn texts ordered by (turn_idx, ts) into
    one document. sort_array over structs pins the order inside the
    aggregation itself — no reliance on input row order, so the result
    is identical at any parallelism. Oracle: DuckDB string_agg with
    ORDER BY."""
    t = _transcripts_from_documents(spark, sf_dir)
    # tiebreak on text (not ts): at sf >= 0.1 turn_idx collides within a
    # conv (doc_id % 1000 wraps) and both engines must break ties the
    # same way
    assembled = (
        t.groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
             .alias("turns"))
        .select(
            "conv_id",
            F.size("turns").alias("n_turns"),
            F.md5(F.concat_ws(
                "\n", F.transform(F.col("turns"), lambda s: s["text"])))
            .alias("doc_md5"))
        .orderBy("conv_id")
    )
    return assembled


# the oracle re-synthesizes the same payloads the Spark side builds in
# _transcripts_from_documents; shared by every oracle that starts from the
# synthesized transcripts table
_TRANSCRIPTS_CTE = """
  SELECT printf('conv-%06d', doc_id % 50) AS conv_id,
         CAST(doc_id % 1000 AS INTEGER) AS turn_idx,
         '## Supplier ' || source || ' Ltd' || chr(10) ||
         'invoice no: INV-' || CAST(doc_id AS VARCHAR) || chr(10) ||
         'date: 2025-03-' || printf('%02d', (doc_id % 28) + 1) || chr(10) || chr(10) ||
         '| code | name | qty | unit price | total |' || chr(10) ||
         '|---|---|---|---|---|' || chr(10) ||
         '| D-1 | Document bundle | ' || CAST((doc_id % 5) + 1 AS VARCHAR) ||
         ' | 10.00 | ' || printf('%d.00', ((doc_id % 5) + 1) * 10) ||
         ' |' || chr(10) || chr(10) ||
         '合计：' || printf('%d.00', ((doc_id % 5) + 1) * 10) || chr(10) ||
         'remark: ' || substring(text, 1, 120) || chr(10) AS text
  FROM documents
"""

CONV_ASSEMBLE_SQL = f"""
WITH t AS ({_TRANSCRIPTS_CTE})
SELECT conv_id, COUNT(*) AS n_turns,
       md5(string_agg(text, chr(10) ORDER BY turn_idx, text)) AS doc_md5
FROM t GROUP BY conv_id ORDER BY conv_id
"""


def dd_conv_neardup(spark, sf_dir):
    """Conversation-grain near-dup — what a transcript pipeline actually
    dedups: assemble each conversation's turns under stable ordering into
    one document, then MinHash-LSH over the assembled text (the corpus
    layer's signature stage + banding + bounded bucket pairs, reused
    verbatim). Surrogate doc ids are md5-derived longs (engine-agnostic,
    so the DuckDB oracle replays the identical pipeline end to end); the
    candidate pairs join back to conv ids on both sides (keyed joins on
    the surrogate — no broadcast assumption, works at any conv count).
    Planted-duplicate recovery additionally pinned in pytest."""
    t = _transcripts_from_documents(spark, sf_dir)
    assembled = (
        t.groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
             .alias("turns"))
        .select("conv_id",
                F.concat_ws("\n", F.transform(
                    F.col("turns"), lambda s: s["text"])).alias("text"))
    )
    docs = assembled.select(md5_long(F.col("conv_id")).alias("doc_id"),
                            "text", "conv_id")
    ids = docs.select("doc_id", "conv_id")
    sigs = docs.select("doc_id", "text").mapInPandas(
        minhash_sig_stage(), "doc_id long, sig array<long>").cache()
    pairs = lsh_candidate_pairs(minhash_bands(sigs))
    return (
        pairs
        .join(ids.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("conv_id", "conv_a"), "doc_a")
        .join(ids.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("conv_id", "conv_b"), "doc_b")
        .select(F.least("conv_a", "conv_b").alias("conv_a"),
                F.greatest("conv_a", "conv_b").alias("conv_b"),
                "n_band_collisions")
        .orderBy("conv_a", "conv_b")
    )


def _dd_conv_neardup_sql() -> str:
    """Oracle for dd_conv_neardup: the conv_assemble transcripts CTE →
    stable-order assembly → md5-long surrogate ids → the shared MinHash
    CTE chain (functions.minhash.MINHASH_CTES) → pairs mapped back to conv ids."""
    return f"""
WITH t AS ({_TRANSCRIPTS_CTE}),
assembled AS (
  SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx, text) AS text
  FROM t GROUP BY conv_id
),
ids AS (
  SELECT conv_id, text,
         CAST(('0x' || substr(md5(conv_id), 1, 16))::UBIGINT::HUGEINT
              - 9223372036854775808 AS BIGINT) AS doc_id
  FROM assembled
),
{MINHASH_CTES.format(src="ids")}
SELECT least(ia.conv_id, ib.conv_id) AS conv_a,
       greatest(ia.conv_id, ib.conv_id) AS conv_b,
       COUNT(*) AS n_band_collisions
FROM cand_pairs p
JOIN ids ia ON ia.doc_id = p.doc_a
JOIN ids ib ON ib.doc_id = p.doc_b
GROUP BY 1, 2 ORDER BY conv_a, conv_b
"""


DD_CONV_NEARDUP_SQL = _dd_conv_neardup_sql()


def extract_conversations_q(spark, sf_dir):
    """Conversation-level grouped extraction (pipeline/conversations.py):
    turns assembled per conv under stable ordering, extracted as one
    merged markdown document — the T23 merged-split path at the
    conversation grain. Rows-only check."""
    from ..pipeline.conversations import extract_conversations
    t = _transcripts_from_documents(spark, sf_dir)
    return (
        extract_conversations(t)
        .select("conv_id", "n_turns", "n_payload_turns", "n_records",
                F.round("calc_total", 2).alias("calc_total"),
                F.size("suppliers").alias("n_suppliers"))
        .orderBy("conv_id")
    )


def conv_stats(spark, sf_dir):
    """Per-conversation transcript statistics — the screening pass a
    transcript pipeline runs before extraction/dedup: role balance, tool
    usage, turn lengths, wall-clock span. ONE keyed aggregation with
    map-side combine (conditional sums, not per-role scans), every
    output an exact integer so the oracle is exact. Span arithmetic is
    timestampdiff on whole-second timestamps (the w3 lesson: no
    unix_timestamp truncation class)."""
    t = agent_transcripts(spark, sf_dir)

    def n_role(r):
        return F.sum((F.col("role") == r).cast("bigint"))

    return (
        t.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             n_role("user").alias("n_user"),
             n_role("assistant").alias("n_assistant"),
             n_role("tool").alias("n_tool_turns"),
             F.count_distinct("tool").alias("n_distinct_tools"),
             F.sum(F.length("text").cast("bigint")).alias("total_chars"),
             F.max(F.length("text").cast("bigint")).alias("max_turn_chars"),
             F.expr("CAST(timestampdiff(SECOND, min(ts), max(ts)) AS BIGINT)")
             .alias("span_seconds"))
        .orderBy("conv_id")
    )


def conv_dialogue_balance(spark, sf_dir):
    """Per-conversation dialogue-shape signals for chat-training-data
    curation: role alternation rate (monologue dumps score low), the
    assistant share of the user+assistant character volume (lopsided
    conversations are poor SFT data), and the starts-with-user /
    ends-with-assistant flags a chat formatter requires.

    One window (lag of role over turn order — the same shuffle the
    downstream assembly pays anyway, so at pipeline level this is free)
    plus one keyed aggregation. All ratios are integer-division basis
    points — exact on both engines. Tie determinism: the synthesized
    transcripts can repeat a turn_idx within a conversation, but any two
    rows sharing (conv_id, turn_idx) carry the SAME role by
    construction, so the role sequence — and hence the alternation
    count, min_by/max_by role — is invariant under tie order."""
    t = agent_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = t.select(
        "conv_id", "turn_idx", "role",
        F.length("text").cast("long").alias("n_chars"),
        F.lag("role").over(w).alias("prev_role"))
    g = (flagged.groupBy("conv_id")
         .agg(F.count("*").cast("long").alias("n_turns"),
              F.sum((F.col("prev_role").isNotNull()
                     & (F.col("prev_role") != F.col("role")))
                    .cast("long")).alias("n_alternations"),
              F.sum(F.when(F.col("role") == "user", F.col("n_chars"))
                    .otherwise(F.lit(0))).cast("long").alias("user_chars"),
              F.sum(F.when(F.col("role") == "assistant", F.col("n_chars"))
                    .otherwise(F.lit(0))).cast("long").alias("asst_chars"),
              F.expr("min_by(role, turn_idx)").alias("first_role"),
              F.expr("max_by(role, turn_idx)").alias("last_role")))
    return (g.select(
        "conv_id", "n_turns", "n_alternations",
        F.when(F.col("n_turns") >= 2,
               F.expr("n_alternations * 10000 DIV (n_turns - 1)"))
        .otherwise(F.lit(-1)).cast("long").alias("alt_bp"),
        F.when(F.col("user_chars") + F.col("asst_chars") > 0,
               F.expr("asst_chars * 10000 DIV (user_chars + asst_chars)"))
        .otherwise(F.lit(-1)).cast("long").alias("asst_share_bp"),
        (F.col("first_role") == "user").cast("int").alias("starts_user"),
        (F.col("last_role") == "assistant").cast("int")
        .alias("ends_assistant"))
        .orderBy("conv_id"))


CONV_STATS_SQL = f"""
WITH t AS ({agent_transcripts_sql()})
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_user,
       CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_assistant,
       CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_turns,
       CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       CAST(MAX(len(text)) AS BIGINT) AS max_turn_chars,
       CAST(datediff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_seconds
FROM t GROUP BY conv_id ORDER BY conv_id
"""


CONV_BALANCE_SQL = f"""
WITH t AS ({agent_transcripts_sql()}),
flagged AS (
  SELECT conv_id, turn_idx, role,
         CAST(len(text) AS BIGINT) AS n_chars,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM t
), g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(SUM(CASE WHEN prev_role IS NOT NULL AND prev_role <> role
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_alternations,
         CAST(SUM(CASE WHEN role = 'user' THEN n_chars ELSE 0 END)
              AS BIGINT) AS user_chars,
         CAST(SUM(CASE WHEN role = 'assistant' THEN n_chars ELSE 0 END)
              AS BIGINT) AS asst_chars,
         arg_min(role, turn_idx) AS first_role,
         arg_max(role, turn_idx) AS last_role
  FROM flagged GROUP BY conv_id
)
SELECT conv_id, n_turns, n_alternations,
       CAST(CASE WHEN n_turns >= 2
            THEN n_alternations * 10000 // (n_turns - 1)
            ELSE -1 END AS BIGINT) AS alt_bp,
       CAST(CASE WHEN user_chars + asst_chars > 0
            THEN asst_chars * 10000 // (user_chars + asst_chars)
            ELSE -1 END AS BIGINT) AS asst_share_bp,
       CAST(CASE WHEN first_role = 'user' THEN 1 ELSE 0 END AS INTEGER)
         AS starts_user,
       CAST(CASE WHEN last_role = 'assistant' THEN 1 ELSE 0 END AS INTEGER)
         AS ends_assistant
FROM g ORDER BY conv_id
"""


def conv_tool_chains(spark, sf_dir):
    """Per-conversation tool-call episode analytics over agent
    transcripts: how many maximal runs of consecutive tool turns a
    conversation has, the longest such chain, and the dominant tool —
    the screening read an agent-data pipeline uses to find tool-loop
    pathologies (a 40-turn retry chain) and tool diversity before
    sampling conversations for training.

    Tie discipline: the synthesized transcripts can repeat a turn_idx
    within a conversation, so runs are computed on the DISTINCT
    (conv_id, turn_idx) grain (role is constant within a tie group by
    construction; the dedup agg makes the window ordering total and the
    result tie-order-invariant). The dominant tool is a row-grain count
    (tool names CAN differ within a tie group) with ties broken by tool
    name. Scale shape: the runs branch pays ONE exchange — everything
    hangs off the same hash(conv_id) partitioning: the tie dedup is a
    lag-based first-row filter inside the conv_id window (not a
    groupBy(conv_id, turn_idx), which would hash on both columns and
    add a second exchange), the run flags reuse the window's sort, and
    the run-length/per-conv aggregations cluster on conv_id subsets so
    Spark reuses the partitioning (pinned in test_plans.py)."""
    t = agent_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # tie dedup: rows sharing (conv_id, turn_idx) carry the same role by
    # construction — keep the first row of each tie group via lag, which
    # rides the SAME exchange+sort every later window step needs
    turns = (t.select("conv_id", "turn_idx", "role",
                      F.lag("turn_idx").over(w).alias("prev_ti"))
             .where(F.col("prev_ti").isNull()
                    | (F.col("prev_ti") != F.col("turn_idx")))
             .select("conv_id", "turn_idx", "role"))
    flagged = turns.select(
        "conv_id", "turn_idx", "role",
        (F.col("role") == "tool").cast("int").alias("is_tool"),
        F.lag("role").over(w).alias("prev_role"))
    runs = flagged.withColumn(
        "run_start",
        ((F.col("is_tool") == 1)
         & (F.col("prev_role").isNull()
            | (F.col("prev_role") != "tool"))).cast("long"))
    run_id = F.sum("run_start").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # segment aggregation over ALL turns (not just tool rows): segment k
    # holds tool run k plus the non-tool rows up to the next start, so
    # sum(is_tool) per segment = run k's length, max(run_id) per conv =
    # the run count, and segment 0 keeps zero-tool conversations in the
    # output without a separate base-scan branch
    segs = (runs.withColumn("run_id", run_id)
            .groupBy("conv_id", "run_id")
            .agg(F.sum("is_tool").cast("long").alias("run_len")))
    run_stats = (segs.groupBy("conv_id")
                 .agg(F.max("run_id").cast("long").alias("n_tool_runs"),
                      F.max("run_len").alias("max_tool_run"),
                      F.sum("run_len").alias("n_tool_turns")))
    tool_counts = (t.where(F.col("tool").isNotNull())
                   .groupBy("conv_id", "tool")
                   .agg(F.count("*").cast("long").alias("n_calls")))
    wt = Window.partitionBy("conv_id").orderBy(
        F.col("n_calls").desc(), F.col("tool"))
    top_tool = (tool_counts
                .withColumn("rn", F.row_number().over(wt))
                .where(F.col("rn") == 1)
                .select("conv_id", F.col("tool").alias("top_tool"),
                        F.col("n_calls").alias("top_tool_calls")))
    return (run_stats.join(top_tool, "conv_id", "left")
            .select(
                "conv_id",
                F.col("n_tool_turns").cast("long").alias("n_tool_turns"),
                "n_tool_runs",
                F.col("max_tool_run").cast("long").alias("max_tool_run"),
                "top_tool",
                F.coalesce("top_tool_calls", F.lit(0)).cast("long")
                .alias("top_tool_calls"))
            .orderBy("conv_id"))


CONV_TOOL_CHAINS_SQL = f"""
WITH t AS ({agent_transcripts_sql()}),
turns AS (
  SELECT conv_id, turn_idx, MIN(role) AS role
  FROM t GROUP BY conv_id, turn_idx
),
flagged AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN role = 'tool' THEN 1 ELSE 0 END AS is_tool,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM turns
),
runs AS (
  SELECT conv_id, turn_idx, is_tool,
         CAST(CASE WHEN is_tool = 1
                    AND (prev_role IS NULL OR prev_role <> 'tool')
              THEN 1 ELSE 0 END AS BIGINT) AS run_start
  FROM flagged
),
rid AS (
  SELECT conv_id, is_tool,
         SUM(run_start) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_id
  FROM runs
),
run_lens AS (
  SELECT conv_id, run_id, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM rid WHERE is_tool = 1 GROUP BY conv_id, run_id
),
run_stats AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_tool_runs,
         MAX(run_len) AS max_tool_run, SUM(run_len) AS n_tool_turns
  FROM run_lens GROUP BY conv_id
),
tool_counts AS (
  SELECT conv_id, tool, CAST(COUNT(*) AS BIGINT) AS n_calls
  FROM t WHERE tool IS NOT NULL GROUP BY conv_id, tool
),
top_tool AS (
  SELECT conv_id, tool AS top_tool, n_calls AS top_tool_calls
  FROM (SELECT conv_id, tool, n_calls,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY n_calls DESC, tool) AS rn
        FROM tool_counts)
  WHERE rn = 1
),
base AS (SELECT DISTINCT conv_id FROM turns)
SELECT b.conv_id,
       CAST(COALESCE(r.n_tool_turns, 0) AS BIGINT) AS n_tool_turns,
       CAST(COALESCE(r.n_tool_runs, 0) AS BIGINT) AS n_tool_runs,
       CAST(COALESCE(r.max_tool_run, 0) AS BIGINT) AS max_tool_run,
       tt.top_tool,
       CAST(COALESCE(tt.top_tool_calls, 0) AS BIGINT) AS top_tool_calls
FROM base b
LEFT JOIN run_stats r USING (conv_id)
LEFT JOIN top_tool tt USING (conv_id)
ORDER BY conv_id
"""


def conv_reply_latency(spark, sf_dir):
    """Assistant reply-latency screening per conversation: for every
    user turn, the wall-clock gap to the NEXT assistant turn in turn
    order — the responsiveness read an agent-eval pipeline runs over
    transcripts (and a data-quality gate: scraped conversations with
    absurd gaps are usually stitched from unrelated sessions). The
    synthesized timestamps are a hash of doc_id, not monotone in
    turn_idx, so latencies can be negative here; the op reports them
    as-is (integer seconds, exact on both engines).

    Tie discipline: rows sharing (conv_id, turn_idx) are collapsed to
    (min(role) — tie-constant by construction — min(ts)) so the
    forward-looking window is total-order deterministic. Plan: the
    explicit repartition(conv_id) lets the (conv_id, turn_idx)
    aggregation, the window, and the final conv aggregation all reuse
    ONE exchange (hash(conv_id) clusters every later key).

    Uses conv_mod=25 (coprime to the role modulus — see
    agent_transcripts): the default 50 shares a factor 2 with the role
    assignment, which puts users and assistants in DISJOINT
    conversations and would make every latency NULL."""
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    turns = (t.repartition("conv_id")
             .groupBy("conv_id", "turn_idx")
             .agg(F.min("role").alias("role"), F.min("ts").alias("ts")))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = F.first(F.when(F.col("role") == "assistant", F.col("ts")),
                  ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing))
    lat = (turns.withColumn("next_asst_ts", nxt)
           .where(F.col("role") == "user")
           .select("conv_id",
                   F.expr("CAST(timestampdiff(SECOND, ts, next_asst_ts)"
                          " AS BIGINT)").alias("latency_s")))
    return (lat.groupBy("conv_id")
            .agg(F.count("*").cast("long").alias("n_user"),
                 F.count("latency_s").cast("long").alias("n_answered"),
                 F.coalesce(F.sum("latency_s"), F.lit(0)).cast("long")
                 .alias("sum_latency_s"),
                 F.coalesce(F.max("latency_s"), F.lit(-1)).cast("long")
                 .alias("max_latency_s"))
            .withColumn(
                # latencies can be negative here, and Spark's DIV
                # truncates toward zero while DuckDB's // floors — both
                # engines flooring the SAME correctly-rounded double is
                # the sign-safe bridge (the repo's floor-basis pattern)
                "mean_latency_s",
                F.when(F.col("n_answered") > 0,
                       F.floor(F.col("sum_latency_s").cast("double")
                               / F.col("n_answered").cast("double")))
                .otherwise(F.lit(-1)).cast("long"))
            .orderBy("conv_id"))


CONV_REPLY_LATENCY_SQL = f"""
WITH t AS ({agent_transcripts_sql(25)}),
turns AS (
  SELECT conv_id, turn_idx, MIN(role) AS role, MIN(ts) AS ts
  FROM t GROUP BY conv_id, turn_idx
),
flagged AS (
  SELECT conv_id, turn_idx, role, ts,
         first_value(CASE WHEN role = 'assistant' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_asst_ts
  FROM turns
),
lat AS (
  SELECT conv_id,
         CAST(datediff('second', ts, next_asst_ts) AS BIGINT) AS latency_s
  FROM flagged WHERE role = 'user'
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_user,
       CAST(COUNT(latency_s) AS BIGINT) AS n_answered,
       CAST(COALESCE(SUM(latency_s), 0) AS BIGINT) AS sum_latency_s,
       CAST(COALESCE(MAX(latency_s), -1) AS BIGINT) AS max_latency_s,
       CAST(CASE WHEN COUNT(latency_s) > 0
            THEN floor(CAST(SUM(latency_s) AS DOUBLE)
                       / CAST(COUNT(latency_s) AS DOUBLE))
            ELSE -1 END AS BIGINT) AS mean_latency_s
FROM lat GROUP BY conv_id ORDER BY conv_id
"""


def conv_role_transitions(spark, sf_dir):
    """Corpus-level dialogue grammar: the role-transition matrix
    (prev_role → role counts plus each transition's share of all
    transitions) an SFT pipeline reads to spot malformed transcript
    exports — assistant→assistant runs from merged messages, tool turns
    with no assistant call before them, system turns mid-conversation.

    Tie discipline: rows sharing (conv_id, turn_idx) carry the SAME
    role by construction (turn_idx ≡ doc_id mod 1000 determines role ≡
    doc_id mod 4), so the per-conversation role SEQUENCE — and hence
    the multiset of adjacent pairs — is invariant under tie order on
    both engines. Uses conv_mod=25 (see agent_transcripts): the
    default 50 confines each conversation to two roles and the matrix
    would miss user→assistant entirely.

    Scale shape: one window shuffle on conv_id (the same exchange the
    downstream assembly pays) into a ≤16-row aggregate with map-side
    combine; the share window runs on those ≤16 rows. Integer-division
    basis points — exact on both engines."""
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = (t.select("conv_id", "turn_idx", "role",
                      F.lag("role").over(w).alias("prev_role"))
             .where(F.col("prev_role").isNotNull()))
    g = (pairs.groupBy("prev_role", "role")
         .agg(F.count("*").cast("long").alias("n"))
         .withColumn("tot", F.sum("n").over(Window.partitionBy())))
    return (g.select(
        "prev_role", "role", "n",
        F.expr("n * 10000 DIV tot").cast("long").alias("share_bp"))
        .orderBy("prev_role", "role"))


CONV_ROLE_TRANS_SQL = f"""
WITH t AS ({agent_transcripts_sql(25)}),
p AS (
  SELECT prev_role, role FROM (
    SELECT role,
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_role
    FROM t)
  WHERE prev_role IS NOT NULL
),
g AS (SELECT prev_role, role, COUNT(*) AS n FROM p GROUP BY 1, 2)
SELECT prev_role, role, CAST(n AS BIGINT) AS n,
       CAST(n * 10000 // SUM(n) OVER () AS BIGINT) AS share_bp
FROM g ORDER BY prev_role, role
"""


CTX_BUDGET_CHARS = 8192  # context-window budget the growth op flags against


def conv_context_growth(spark, sf_dir):
    """Context-window budgeting over transcripts: for every turn, the
    character volume of all EARLIER turns in its conversation — the
    context an assemble-full-history formatter would prepend — plus a
    fits-in-budget flag. An SFT pipeline reads this to decide where to
    truncate or split long conversations before packing.

    Tie discipline: the cumulative sum uses a RANGE frame ending 1
    BEFORE the current turn_idx, so rows sharing a turn_idx (peers)
    exclude each other symmetrically — the output is tie-order-
    invariant on both engines without a dedup pass. One window keyed
    on conv_id; nothing else touches the corpus."""
    t = agent_transcripts(spark, sf_dir)
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rangeBetween(Window.unboundedPreceding, -1))
    g = t.select(
        "conv_id", "turn_idx", "role",
        F.length("text").cast("long").alias("n_chars"),
        F.coalesce(F.sum(F.length("text").cast("long")).over(w),
                   F.lit(0)).alias("ctx_chars"))
    return (g.select(
        "conv_id", "turn_idx", "role", "n_chars", "ctx_chars",
        ((F.col("ctx_chars") + F.col("n_chars")) <= CTX_BUDGET_CHARS)
        .cast("int").alias("fits_budget"))
        .orderBy("conv_id", "turn_idx", "n_chars"))


CONV_CTX_GROWTH_SQL = f"""
WITH t AS ({agent_transcripts_sql()}),
g AS (
  SELECT conv_id, turn_idx, role,
         CAST(len(text) AS BIGINT) AS n_chars,
         CAST(COALESCE(SUM(len(text)) OVER (
                PARTITION BY conv_id ORDER BY turn_idx
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS ctx_chars
  FROM t
)
SELECT conv_id, turn_idx, role, n_chars, ctx_chars,
       CAST(CASE WHEN ctx_chars + n_chars <= {CTX_BUDGET_CHARS}
            THEN 1 ELSE 0 END AS INTEGER) AS fits_budget
FROM g ORDER BY conv_id, turn_idx, n_chars
"""


def conv_turn_dedup(spark, sf_dir):
    """Cross-conversation assistant-turn dedup — the transcript-native
    analog of exact text dedup: synthetic/agent corpora are full of
    template assistant replies repeated verbatim across conversations,
    and SFT pipelines drop or downweight them. Key = md5 of the
    whitespace-normalized lowercased turn text; first-wins canonical =
    the lexicographic min of a fixed-width '(conv_id)#(turn_idx 0-pad)'
    locator (string min is engine-exact; a struct-min is not portable
    to the oracle). Emits only groups seen ≥2 times.

    The synthesized transcripts never repeat text verbatim, so template
    replies are INJECTED deterministically on both engines (the
    txt_pii_scrub pattern): assistant turns whose text length ≡ 0
    (mod 5) are replaced by one of three canned replies chosen by
    length mod 3 — the dup groups the op exists to find are reachable
    and the oracle hash is non-vacuous.

    Scale shape: one map-only projection (normalize + md5) and one
    groupBy(text_hash) with map-side combinable aggregates — nothing
    else touches the corpus; same plan family as dd_exact_dup
    (corpus.py:66) at turn grain."""
    t = agent_transcripts(spark, sf_dir)
    ln = F.length("text")
    turn_text = F.when(
        ln % 5 == 0,
        F.concat(F.lit("Sorry, I can't help with that. (template "),
                 (ln % 3).cast("string"), F.lit(")"))
    ).otherwise(F.col("text"))
    asst = t.where(F.col("role") == "assistant").select(
        content_md5(turn_text).alias("text_hash"),
        "conv_id",
        F.format_string("%s#%010d", F.col("conv_id"), F.col("turn_idx"))
        .alias("loc"))
    return (asst.groupBy("text_hash")
            .agg(F.count("*").cast("long").alias("n_copies"),
                 F.count_distinct("conv_id").cast("long").alias("n_convs"),
                 F.min("loc").alias("first_loc"))
            .where(F.col("n_copies") >= 2)
            .orderBy("text_hash"))


CONV_TURN_DEDUP_SQL = f"""
WITH t AS ({agent_transcripts_sql()}),
templ AS (
  SELECT conv_id, turn_idx,
         CASE WHEN len(text) % 5 = 0
              THEN 'Sorry, I can''t help with that. (template '
                   || CAST(len(text) % 3 AS VARCHAR) || ')'
              ELSE text END AS turn_text
  FROM t WHERE role = 'assistant'
),
asst AS (
  SELECT md5(regexp_replace(lower(turn_text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
           AS text_hash,
         conv_id,
         printf('%s#%010d', conv_id, turn_idx) AS loc
  FROM templ
)
SELECT text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       MIN(loc) AS first_loc
FROM asst
GROUP BY text_hash
HAVING COUNT(*) >= 2
ORDER BY text_hash
"""


def conv_refusal_scan(spark, sf_dir):
    """Per-conversation refusal screening — SFT curation drops or
    downweights conversations dominated by canned assistant refusals
    (they teach the model to refuse, not to help). Counts assistant
    turns whose lowercased text contains any refusal mark, and emits
    the share in basis points plus a has-refusal flag. Reuses
    conv_turn_dedup's deterministic template injection (assistant
    turns with len(text) ≡ 0 mod 5 become the canned apology) so the
    refusal class is reachable in the synthesized corpus and the
    oracle hash is non-vacuous.

    Scale shape: one map-only projection (injection + contains chain,
    all codegen'd) into one groupBy(conv_id) with map-side combine —
    the dd_exact_dup plan family at conversation grain. Only
    conversations with ≥1 assistant turn appear (the others have no
    refusal denominator)."""
    t = agent_transcripts(spark, sf_dir)
    ln = F.length("text")
    turn_text = F.when(
        ln % 5 == 0,
        F.concat(F.lit("Sorry, I can't help with that. (template "),
                 (ln % 3).cast("string"), F.lit(")"))
    ).otherwise(F.col("text"))
    # NULL-text assistant turns: contains() on NULL yields NULL, and a
    # conversation whose assistant turns are ALL NULL would report NULL
    # counts while the oracle's CASE reports 0 — coalesce to '' so both
    # surfaces agree.
    low = F.lower(F.coalesce(turn_text, F.lit("")))
    is_refusal = F.lit(False)
    for m in REFUSAL_MARKS:
        is_refusal = is_refusal | low.contains(m)
    asst = t.where(F.col("role") == "assistant").select(
        "conv_id", is_refusal.cast("long").alias("r"))
    return (asst.groupBy("conv_id")
            .agg(F.count("*").cast("long").alias("n_assistant"),
                 F.sum("r").cast("long").alias("n_refusals"))
            .select("conv_id", "n_assistant", "n_refusals",
                    F.expr("n_refusals * 10000 DIV greatest(n_assistant, 1)")
                    .cast("long").alias("refusal_bp"),
                    (F.col("n_refusals") > 0).cast("int")
                    .alias("has_refusal"))
            .orderBy("conv_id"))


_REFUSAL_PRED_SQL = " OR ".join(
    "contains(lower(turn_text), '%s')" % m.replace("'", "''")
    for m in REFUSAL_MARKS)

CONV_REFUSAL_SQL = f"""
WITH t AS ({agent_transcripts_sql()}),
templ AS (
  SELECT conv_id,
         CASE WHEN len(text) % 5 = 0
              THEN 'Sorry, I can''t help with that. (template '
                   || CAST(len(text) % 3 AS VARCHAR) || ')'
              ELSE text END AS turn_text
  FROM t WHERE role = 'assistant'
),
flagged AS (
  SELECT conv_id,
         CASE WHEN {_REFUSAL_PRED_SQL} THEN 1 ELSE 0 END AS r
  FROM templ
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_assistant,
       CAST(SUM(r) AS BIGINT) AS n_refusals,
       CAST(SUM(r) * 10000 // greatest(COUNT(*), 1) AS BIGINT)
         AS refusal_bp,
       CAST(CASE WHEN SUM(r) > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS has_refusal
FROM flagged GROUP BY conv_id ORDER BY conv_id
"""


def conv_tool_latency(spark, sf_dir):
    """Per-tool response latency — the agent-transcript twin of
    conv_reply_latency at the TOOL grain: for every tool turn, the
    wall-clock gap to the next assistant turn in the same conversation,
    rolled up per tool name. An agent-eval pipeline reads this to spot
    tools whose results the assistant systematically takes long to (or
    never does) consume — stitched or truncated transcripts show up as
    unanswered tool calls. Synthesized timestamps are a doc_id hash,
    not monotone, so negative gaps are reported as-is (exact integer
    seconds on both engines).

    Tie discipline: rows tied on (conv_id, turn_idx) share the role by
    construction but NOT the tool name (tool ≡ doc_id mod 3 and tied
    docs differ by multiples of 1000 ≡ 1 mod 3), so the collapse takes
    MIN(tool) alongside MIN(role)/MIN(ts) — total-order deterministic.
    Uses conv_mod=25 (coprime to the role modulus) like every op that
    needs cross-role adjacency. Plan: one repartition(conv_id) feeds
    the tie collapse, the forward-looking window, and nothing else; the
    final rollup is a ≤3-row aggregate with map-side combine."""
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    turns = (t.repartition("conv_id")
             .groupBy("conv_id", "turn_idx")
             .agg(F.min("role").alias("role"),
                  F.min("tool").alias("tool"),
                  F.min("ts").alias("ts")))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = F.first(F.when(F.col("role") == "assistant", F.col("ts")),
                  ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing))
    lat = (turns.withColumn("next_asst_ts", nxt)
           .where(F.col("role") == "tool")
           .select("tool",
                   F.expr("CAST(timestampdiff(SECOND, ts, next_asst_ts)"
                          " AS BIGINT)").alias("latency_s")))
    return (lat.groupBy("tool")
            .agg(F.count("*").cast("long").alias("n_calls"),
                 F.count("latency_s").cast("long").alias("n_answered"),
                 F.coalesce(F.sum("latency_s"), F.lit(0)).cast("long")
                 .alias("sum_latency_s"),
                 F.coalesce(F.max("latency_s"), F.lit(-1)).cast("long")
                 .alias("max_latency_s"))
            .withColumn(
                "mean_latency_s",
                F.when(F.col("n_answered") > 0,
                       F.floor(F.col("sum_latency_s").cast("double")
                               / F.col("n_answered").cast("double")))
                .otherwise(F.lit(-1)).cast("long"))
            .orderBy("tool"))


CONV_TOOL_LATENCY_SQL = f"""
WITH t AS ({agent_transcripts_sql(25)}),
turns AS (
  SELECT conv_id, turn_idx, MIN(role) AS role, MIN(tool) AS tool,
         MIN(ts) AS ts
  FROM t GROUP BY conv_id, turn_idx
),
flagged AS (
  SELECT conv_id, tool, role, ts,
         first_value(CASE WHEN role = 'assistant' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_asst_ts
  FROM turns
),
lat AS (
  SELECT tool,
         CAST(datediff('second', ts, next_asst_ts) AS BIGINT) AS latency_s
  FROM flagged WHERE role = 'tool'
)
SELECT tool,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(COUNT(latency_s) AS BIGINT) AS n_answered,
       CAST(COALESCE(SUM(latency_s), 0) AS BIGINT) AS sum_latency_s,
       CAST(COALESCE(MAX(latency_s), -1) AS BIGINT) AS max_latency_s,
       CAST(CASE WHEN COUNT(latency_s) > 0
            THEN floor(CAST(SUM(latency_s) AS DOUBLE)
                       / CAST(COUNT(latency_s) AS DOUBLE))
            ELSE -1 END AS BIGINT) AS mean_latency_s
FROM lat GROUP BY tool ORDER BY tool
"""


VERBOSITY_BUCKET = 100  # turn_idx depth bucket width


def conv_verbosity_drift(spark, sf_dir):
    """Assistant verbosity by dialogue depth — does the assistant get
    terser (or ramble more) deep into long conversations? SFT curation
    reads this corpus-level curve before deciding whether to truncate
    long tails or re-weight late turns: a collapsing mean at depth is
    the signature of context-window squeeze in the teacher.

    One map-only projection (role filter + integer depth bucket) into a
    tiny groupBy(bucket) with map-side combine; mean chars is exact
    integer division, so the oracle is exact at any scale."""
    t = agent_transcripts(spark, sf_dir)
    asst = t.where(F.col("role") == "assistant").select(
        F.expr(f"CAST(turn_idx AS BIGINT) DIV {VERBOSITY_BUCKET}")
        .alias("depth_bucket"),
        F.length("text").cast("long").alias("chars"))
    return (asst.groupBy("depth_bucket")
            .agg(F.count("*").cast("long").alias("n_turns"),
                 F.sum("chars").cast("long").alias("sum_chars"),
                 F.max("chars").cast("long").alias("max_chars"))
            .withColumn("mean_chars",
                        F.expr("sum_chars DIV n_turns").cast("long"))
            .select("depth_bucket", "n_turns", "sum_chars", "mean_chars",
                    "max_chars")
            .orderBy("depth_bucket"))


CONV_VERBOSITY_SQL = f"""
WITH t AS ({agent_transcripts_sql()})
SELECT CAST(turn_idx // {VERBOSITY_BUCKET} AS BIGINT) AS depth_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(len(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(len(text)) // COUNT(*) AS BIGINT) AS mean_chars,
       CAST(MAX(len(text)) AS BIGINT) AS max_chars
FROM t WHERE role = 'assistant'
GROUP BY 1 ORDER BY depth_bucket
"""


def conv_lang_mix(spark, sf_dir):
    """Per-conversation language consistency — the multilingual-screening
    read a transcript pipeline takes before routing conversations to
    language-specific curation: each turn gets the repo's langid
    heuristic (marker-stopword argmax, deterministic tie order), then per
    conversation the distinct identified languages, the dominant
    prediction, and its share of turns. Code-switched or mislabeled
    conversations surface as n_langs > 1 / low dominant share.

    Scale shape: the langid scoring is a map-only projection (the same
    expressions as txt_langid); per-conversation counts are one keyed
    aggregation with map-side combine, and the dominant-language pick is
    a window over the per-(conv, lang) count frame — rows bounded by
    conversations × 5 labels, not by turns. Dominant share is integer
    basis points (exact on both engines)."""
    t = agent_transcripts(spark, sf_dir)
    pred = (t.select("conv_id", *lang_hit_columns(F.col("text")))
            .withColumn("pred_lang", lang_argmax_column())
            .select("conv_id", "pred_lang"))
    # counts is read twice (dominant pick + per-conv totals); persisting
    # the ≤ convs×5-label frame keeps the langid HOF scan of the corpus
    # to ONE pass (the harness owns cache hygiene, per CLAUDE.md)
    counts = (pred.groupBy("conv_id", "pred_lang")
              .agg(F.count("*").cast("long").alias("n"))
              .persist())
    w = Window.partitionBy("conv_id").orderBy(
        F.col("n").desc(), F.col("pred_lang").asc())
    dom = (counts.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1)
           .select("conv_id", F.col("pred_lang").alias("dom_lang"),
                   F.col("n").alias("dom_n")))
    agg = (counts.groupBy("conv_id")
           .agg(F.sum("n").cast("long").alias("n_turns"),
                F.count_distinct(
                    F.when(F.col("pred_lang") != "unk",
                           F.col("pred_lang"))).cast("long")
                .alias("n_langs")))
    return (agg.join(dom, "conv_id")
            .select("conv_id", "n_turns", "n_langs", "dom_lang",
                    F.expr("dom_n * 10000 DIV n_turns").cast("long")
                    .alias("dom_share_bp"))
            .orderBy("conv_id"))


# SQL blocks generated from the same LANG_MARKERS dict as the Spark
# scoring — a third hand-maintained copy of the marker lists would drift
# (corpus.py imports no sibling operator module, so this is cycle-free)
from .corpus import LANG_HITS_SQL, LANG_PRED_SQL  # noqa: E402

CONV_LANG_MIX_SQL = f"""
WITH t AS ({agent_transcripts_sql()}),
scored AS (
  SELECT conv_id,
{LANG_HITS_SQL}
  FROM t
),
pred AS (SELECT conv_id, {LANG_PRED_SQL} FROM scored),
counts AS (
  SELECT conv_id, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
dom AS (
  SELECT conv_id, pred_lang AS dom_lang, n AS dom_n,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY n DESC, pred_lang ASC) AS rn
  FROM counts
),
agg AS (
  SELECT conv_id, CAST(SUM(n) AS BIGINT) AS n_turns,
         CAST(COUNT(DISTINCT CASE WHEN pred_lang <> 'unk'
                                  THEN pred_lang END) AS BIGINT) AS n_langs
  FROM counts GROUP BY 1
)
SELECT a.conv_id, a.n_turns, a.n_langs, d.dom_lang,
       CAST(d.dom_n * 10000 // a.n_turns AS BIGINT) AS dom_share_bp
FROM agg a JOIN dom d ON d.conv_id = a.conv_id AND d.rn = 1
ORDER BY a.conv_id
"""


def conv_degenerate_scan(spark, sf_dir):
    """Degenerate-decoding scan over assistant turns — the screen a
    transcript-curation pipeline runs for looping generations (an
    assistant stuck repeating a phrase poisons SFT data): per assistant
    turn of ≥ DEGEN_MIN_TOKENS tokens, the share of bigram instances
    whose bigram repeats within the turn (the Gopher dup-bigram signal,
    computed turn-locally), then per conversation the count of flagged
    turns and the worst share.

    Scale shape: the per-turn signal is the map-only sort-run fold of
    with_repetition_signals — turn-local, zero corpus shuffle;
    only (conv_id, dup_bp) rows reach the one keyed aggregation. The
    DuckDB oracle recomputes the same numbers via the keyed
    explode + GROUP BY form (differential across two algorithms, like
    txt_repetition). Share is integer basis points — exact."""
    t = agent_transcripts(spark, sf_dir)
    asst = (t.where(F.col("role") == "assistant")
            .selectExpr("conv_id", f"{TOKENS_EXPR} AS t")
            .where(f"size(t) >= {DEGEN_MIN_TOKENS}"))
    per_turn = (with_repetition_signals(asst)
                .select("conv_id",
                        F.expr("dup_bg * 10000 DIV n_bg").cast("long")
                        .alias("dup_bp")))
    return (per_turn.groupBy("conv_id")
            .agg(F.count("*").cast("long").alias("n_checked"),
                 F.sum((F.col("dup_bp") >= DEGEN_DUP_BP).cast("long"))
                 .cast("long").alias("n_degenerate"),
                 F.max("dup_bp").cast("long").alias("max_dup_bp"))
            .orderBy("conv_id"))


# the oracle keys per-turn stats by doc_id (unique per synthesized turn);
# the Spark side never needs it — the fold is row-local. The chain is a
# shared constant (dg_-prefixed names so it embeds in other WITH chains,
# e.g. the conversation curation funnel's) — two transcriptions of the
# keyed bigram fold would drift.
DEGEN_TURNS_CTES = f"""dg_t AS (
  SELECT doc_id AS turn_uid,
         printf('conv-%06d', ((doc_id % 50) + 50) % 50) AS conv_id,
         ['user', 'assistant', 'tool', 'system']
           [CAST(((doc_id % 4) + 4) % 4 AS INT) + 1] AS role,
         text
  FROM documents
),
dg_tok AS (
  SELECT turn_uid, conv_id, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM dg_t WHERE role = 'assistant'
    AND len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) >= {DEGEN_MIN_TOKENS}
),
dg_bg AS (
  SELECT turn_uid, conv_id,
         CAST(SUM(c) AS BIGINT) AS n_bg,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bg
  FROM (
    SELECT turn_uid, conv_id, g, COUNT(*) AS c
    FROM (SELECT turn_uid, conv_id,
                 unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1])) AS g
          FROM dg_tok) GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
dg_scored AS (SELECT conv_id, dup_bg * 10000 // n_bg AS dup_bp FROM dg_bg)"""


def degen_turns_ctes(conv_mod: int = 50) -> str:
    """DEGEN_TURNS_CTES at an alternate conv modulus (conv_mod=25 mixes
    all four roles per conversation — see agent_transcripts' parity
    note)."""
    return DEGEN_TURNS_CTES.replace(
        "% 50) + 50) % 50", f"% {conv_mod}) + {conv_mod}) % {conv_mod}")


CONV_DEGEN_SQL = f"""
WITH {DEGEN_TURNS_CTES},
scored AS (SELECT conv_id, dup_bp FROM dg_scored)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN dup_bp >= {DEGEN_DUP_BP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_degenerate,
       CAST(MAX(dup_bp) AS BIGINT) AS max_dup_bp
FROM scored GROUP BY conv_id ORDER BY conv_id
"""


def conv_chat_render(spark, sf_dir):
    """Deterministic chat-template rendering — the step between curation
    and tokenization in an SFT pipeline: per conversation, wrap every
    turn in role-delimited special tokens
    (``<|role|>\\n text \\n<|end|>\\n``) in stable turn order and account
    for the rendered size at the template grain (rendered chars and
    whitespace tokens INCLUDE the chrome the trainer pays for, which the
    raw-text accounting misses). One keyed aggregation; ordering is
    pinned inside the aggregation by sort_array over
    (turn_idx, text, role) structs — identical at any parallelism
    (W1/north_rule, same contract as conv_assemble) — and the transform
    lambda touches only its own variable (the HOF-recompute trap never
    fires). conv_mod=25 mixes all four roles per conversation (see
    agent_transcripts' parity note), so templates interleave
    realistically. Rendered text stays inside the plan; only its md5 and
    integer sizes come out."""
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    ws = "[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+"
    return (
        t.groupBy("conv_id")
        .agg(F.sort_array(
                F.collect_list(F.struct("turn_idx", "text", "role")))
             .alias("turns"))
        .select(
            "conv_id",
            F.size("turns").cast("long").alias("n_turns"),
            F.concat_ws("", F.transform(
                F.col("turns"),
                lambda s: F.concat(F.lit("<|"), s["role"], F.lit("|>\n"),
                                   s["text"], F.lit("\n<|end|>\n"))))
            .alias("rendered"))
        .selectExpr(
            "conv_id", "n_turns",
            "md5(rendered) AS render_md5",
            "CAST(length(rendered) AS BIGINT) AS n_render_chars",
            f"CAST(size(split(rendered, '{ws}')) AS BIGINT)"
            " AS n_render_tokens")
        .orderBy("conv_id"))


CONV_CHAT_RENDER_SQL = f"""
WITH t AS ({agent_transcripts_sql(25)}),
r AS (
  -- COALESCE to '': on a conversation whose EVERY turn has NULL text
  -- string_agg returns NULL while Spark's concat_ws skips the NULL
  -- elements and returns '' (per-turn NULLs already agree: both
  -- engines drop the whole turn, chrome included)
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         COALESCE(string_agg('<|' || role || '|>' || chr(10) || text ||
                             chr(10) || '<|end|>' || chr(10), ''
                             ORDER BY turn_idx, text, role), '')
           AS rendered
  FROM t GROUP BY conv_id
)
SELECT conv_id, n_turns, md5(rendered) AS render_md5,
       CAST(len(rendered) AS BIGINT) AS n_render_chars,
       CAST(len(string_split_regex(rendered, '[ \\t\\n\\x0b\\f\\r]+'))
            AS BIGINT) AS n_render_tokens
FROM r ORDER BY conv_id
"""


def conv_loss_mass(spark, sf_dir):
    """Trainable-token accounting per conversation — the loss-mass read
    an SFT team takes before training: how many of a conversation's
    tokens actually train (assistant spans, the chat-pack loss-mask
    rule) versus ride as masked context. A corpus whose trainable share
    is tiny wastes sequence budget; this is the gauge that catches it
    at the conversation grain before packing.

    One map-only token-count projection + one keyed conv aggregation;
    integer basis points. Token rule = the chat-pack tokenizer
    (whitespace split with the explicit Java-\\s class, ≥1 token per
    turn via coalesce ''), so this report and smp_chat_pack's masks
    count the same units. Uses conv_mod=25 (coprime to the role
    modulus — the default 50 would put assistants in disjoint
    conversations)."""
    # the SAME tokenizer expression chat_pack_placement counts with —
    # imported, not re-spelled, so the two surfaces cannot drift
    # (in-function import: quality.py lazily imports extraction)
    from .quality import _TURN_TOKENS
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    tok = t.selectExpr(
        "conv_id", "role",
        f"CAST(size({_TURN_TOKENS}) AS BIGINT) AS n_tok")
    return (tok.groupBy("conv_id")
            .agg(F.count("*").cast("long").alias("n_turns"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("role") == "assistant", F.col("n_tok"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("asst_tokens"))
            .selectExpr("conv_id", "n_turns", "n_tokens", "asst_tokens",
                        "CAST((asst_tokens * 10000) DIV n_tokens AS BIGINT)"
                        " AS trainable_bp")
            .orderBy("conv_id"))


CONV_LOSS_MASS_SQL = f"""
WITH t AS ({{cte}}),
tok AS (
  SELECT conv_id, role,
         CAST(len(string_split_regex(lower(coalesce(text, '')),
              '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tok
  FROM t
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END)
            AS BIGINT) AS asst_tokens,
       CAST((CAST(SUM(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END)
            AS BIGINT) * 10000) // CAST(SUM(n_tok) AS BIGINT) AS BIGINT)
           AS trainable_bp
FROM tok
GROUP BY conv_id
ORDER BY conv_id
"""


SYS_TEMPLATE_TOPK = 10


def conv_system_templates(spark, sf_dir):
    """System-prompt template mining — the SFT-corpus read that exposes
    how templated the instruction scaffolding is: group conversations by
    the content hash of their concatenated system turns, report the top
    templates by conversation count with their coverage share. A corpus
    where one system template covers most conversations trains a model
    that collapses without it; this is the gauge.

    Per-conv system text = the turn_idx-ordered concatenation of system
    turns (sort_array over (turn_idx, text) structs INSIDE the
    aggregation — the conv_chat_render ordering discipline, so the hash
    is partition-order invariant); hash = the shared content_md5 key.
    Ranking is a TakeOrdered cut (count DESC, hash ASC — unique, so
    deterministic); coverage is integer basis points of ALL
    conversations (including system-less ones, which group under the
    empty-concat hash like any other template). Uses conv_mod=25 (the
    role-mixing surface)."""
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    # persist: the counts branch AND the n_convs total both read the
    # transcript-assembly aggregation (the two-branch persist convention)
    per_conv = (t.groupBy("conv_id")
                .agg(F.array_sort(F.collect_list(F.when(
                        F.col("role") == "system",
                        F.struct("turn_idx", "text")))).alias("sys_turns"))
                .select("conv_id", content_md5(F.concat_ws(
                    "\n", F.expr("transform(sys_turns, s -> s.text)")))
                    .alias("template_hash"))
                .persist())
    n_convs = per_conv.agg(F.count("*").cast("long").alias("n_convs"))
    counts = (per_conv.groupBy("template_hash")
              .agg(F.count("*").cast("long").alias("n_conv_uses"),
                   F.min("conv_id").alias("example_conv")))
    top = counts.orderBy(F.desc("n_conv_uses"),
                         F.asc("template_hash")).limit(SYS_TEMPLATE_TOPK)
    return (top.crossJoin(F.broadcast(n_convs))
            .selectExpr("template_hash", "n_conv_uses", "example_conv",
                        "CAST((n_conv_uses * 10000) DIV n_convs AS BIGINT)"
                        " AS coverage_bp")
            .orderBy(F.desc("n_conv_uses"), F.asc("template_hash")))


CONV_SYS_TEMPLATES_SQL = """
WITH t AS ({cte}),
per_conv AS (
  SELECT conv_id,
         md5(regexp_replace(lower(coalesce(string_agg(
             CASE WHEN role = 'system' THEN text END, chr(10)
             ORDER BY turn_idx, text), '')),
             '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS template_hash
  FROM t
  GROUP BY conv_id
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_convs FROM per_conv),
counts AS (
  SELECT template_hash,
         CAST(COUNT(*) AS BIGINT) AS n_conv_uses,
         MIN(conv_id) AS example_conv
  FROM per_conv GROUP BY template_hash
)
SELECT template_hash, n_conv_uses, example_conv,
       CAST((n_conv_uses * 10000) // n_convs AS BIGINT) AS coverage_bp
FROM (SELECT * FROM counts
      ORDER BY n_conv_uses DESC, template_hash LIMIT {topk}), n
ORDER BY n_conv_uses DESC, template_hash
"""


def conv_turn_profile(spark, sf_dir):
    """Per-role floor-log2 turn-length profile — the conversation-grain
    drift baseline (the corpus-stats artifact's bucket definition at the
    role grain): how long are user prompts vs assistant replies vs tool
    outputs, as a bucketed histogram with integer shares. Uses the
    SHARED len_bucket definition (functions/frames.len_bucket — a
    snapshot built yesterday must bucket exactly like a profile computed
    today) over character lengths, and conv_mod=25 so every role
    appears.

    Scale shape: one keyed (role, bucket) count with map-side combine +
    a tiny per-role total joined back (broadcast — roles are four)."""
    t = agent_transcripts(spark, sf_dir, conv_mod=25)
    binned = t.select(
        "role",
        len_bucket(F.length(F.coalesce(F.col("text"), F.lit(""))))
        .alias("bucket"))
    counts = (binned.groupBy("role", "bucket")
              .agg(F.count("*").cast("long").alias("n_turns")))
    totals = counts.groupBy("role").agg(
        F.sum("n_turns").cast("long").alias("role_total"))
    return (counts.join(F.broadcast(totals), "role")
            .selectExpr("role", "bucket", "n_turns",
                        "CAST((n_turns * 10000) DIV role_total AS BIGINT)"
                        " AS share_bp")
            .orderBy("role", "bucket"))


CONV_TURN_PROFILE_SQL = """
WITH t AS ({cte}),
binned AS (
  SELECT role,
         CAST(CASE WHEN length(coalesce(text, '')) > 0
              THEN length(bin(CAST(length(coalesce(text, '')) AS BIGINT)))
              ELSE 0 END AS INTEGER) AS bucket
  FROM t
),
counts AS (
  SELECT role, bucket, CAST(COUNT(*) AS BIGINT) AS n_turns
  FROM binned GROUP BY role, bucket
),
totals AS (
  SELECT role, CAST(SUM(n_turns) AS BIGINT) AS role_total
  FROM counts GROUP BY role
)
SELECT c.role, c.bucket, c.n_turns,
       CAST((c.n_turns * 10000) // t.role_total AS BIGINT) AS share_bp
FROM counts c JOIN totals t USING (role)
ORDER BY c.role, c.bucket
"""


QUERIES = {
    "conv_assemble": (conv_assemble, CONV_ASSEMBLE_SQL),
    "conv_turn_profile": (
        conv_turn_profile,
        CONV_TURN_PROFILE_SQL.format(cte=agent_transcripts_sql(25))),
    "conv_system_templates": (
        conv_system_templates,
        CONV_SYS_TEMPLATES_SQL.format(cte=agent_transcripts_sql(25),
                                      topk=SYS_TEMPLATE_TOPK)),
    "conv_loss_mass": (conv_loss_mass,
                       CONV_LOSS_MASS_SQL.format(
                           cte=agent_transcripts_sql(25))),
    "conv_chat_render": (conv_chat_render, CONV_CHAT_RENDER_SQL),
    "conv_stats": (conv_stats, CONV_STATS_SQL),
    "conv_dialogue_balance": (conv_dialogue_balance, CONV_BALANCE_SQL),
    "conv_tool_chains": (conv_tool_chains, CONV_TOOL_CHAINS_SQL),
    "conv_turn_dedup": (conv_turn_dedup, CONV_TURN_DEDUP_SQL),
    "conv_context_growth": (conv_context_growth, CONV_CTX_GROWTH_SQL),
    "conv_reply_latency": (conv_reply_latency, CONV_REPLY_LATENCY_SQL),
    "conv_role_transitions": (conv_role_transitions, CONV_ROLE_TRANS_SQL),
    "conv_refusal_scan": (conv_refusal_scan, CONV_REFUSAL_SQL),
    "conv_verbosity_drift": (conv_verbosity_drift, CONV_VERBOSITY_SQL),
    "conv_tool_latency": (conv_tool_latency, CONV_TOOL_LATENCY_SQL),
    "conv_lang_mix": (conv_lang_mix, CONV_LANG_MIX_SQL),
    "conv_degenerate_scan": (conv_degenerate_scan, CONV_DEGEN_SQL),
    "import_sales": (import_sales, IMPORT_SALES_SQL),
    "extract_html_readability": (extract_html_readability, EXTRACT_HTML_SQL),
    "extract_yield": (extract_yield, EXTRACT_YIELD_SQL),
    "extract_pdf_layout": (extract_pdf_layout_q, EXTRACT_PDF_SQL),
    "extract_quality_gate": (extract_quality_gate, EXTRACT_QUALITY_SQL),
    "extract_conversations": (extract_conversations_q, None),
    "dd_conv_neardup": (dd_conv_neardup, DD_CONV_NEARDUP_SQL),
    "extract_documents": (extract_documents, None),
    "extract_synthetic": (extract_synthetic, None),
    "extract_ordered_spans": (extract_ordered_spans, None),
    "import_star_schema": (import_star_schema, None),
}
