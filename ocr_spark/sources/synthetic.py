"""Deterministic synthesis of the transcripts input table.

Schema per BASELINE.json input_hint / FIXTURES.md §1:
    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Every value is a pure function of (seed, conv_id, turn_idx) — no RNG state,
no Date.now — so the same table materializes identically at any parallelism,
which is what the N-vs-4N scaling comparison and the DuckDB oracle need.

Payload mix (hash-routed, FIXTURES.md §2):
  0: PaddleOCR doc_parser JSON (plain, wrapped-root, EN-header, colspan,
     summary-row variants)
  1: markdown with embedded HTML table
  2: markdown with pipe table
  3: plain text (multiplication/list formats)
  plus plain chatter turns (no document) between payload turns.

Skew: 1% of convs are "hot" with HOT_FACTOR× the turns — exercises the
salting/repartition path of the extraction job.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType, TimestampType)

BASE_EPOCH = 1735689600  # 2025-01-01T00:00:00Z
DEFAULT_TURNS_PER_CONV = 8
HOT_FACTOR = 100
HOT_PCT = 100  # 1 in HOT_PCT convs is hot

# the one definition of the transcripts table: readers, the stream source
# and every synthesizer here produce exactly these columns
TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def _h(*parts) -> int:
    """Deterministic 64-bit hash of the key parts."""
    raw = ":".join(str(p) for p in parts).encode("utf-8")
    return int.from_bytes(hashlib.md5(raw).digest()[:8], "big")


# ---------------------------------------------------------------------------
# payload builders (pure functions of the hash)
# ---------------------------------------------------------------------------

_CJK_ITEMS = [
    ("os838", "头层牛皮女包", "黑色", "个"),
    ("os52779", "头层牛皮女包", "蓝色", "个"),
    ("qb102", "牛皮钱包", "棕色", "件"),
    ("bd77", "真皮背包", "红色", "个"),
    ("sl9", "丝巾", "花色", "条"),
]
_EN_ITEMS = [
    ("PONT22450832", 259), ("LUEUKA360923", 149), ("BON21188", 399),
    ("KRIFW2437822", 259), ("INA104137", 319), ("VMVFSH-4673D", 579),
]


def _doc_parser_json(h: int) -> str:
    n_items = 1 + (h >> 8) % 4
    en = (h >> 3) % 3 == 0
    rows = []
    total = 0
    if en:
        header = "<tr><td>Code No.</td><td>Description</td><td>Quantity</td><td>Unit Price</td><td>Amount</td></tr>"
        for i in range(n_items):
            name, price = _EN_ITEMS[(h + i) % len(_EN_ITEMS)]
            qty = 1 + (h >> (4 + i)) % 3
            amt = qty * price
            total += amt
            rows.append(f"<tr><td></td><td>{name}</td><td>{qty}</td><td>${price}</td><td>${amt}</td></tr>")
        table = f"<table>{header}{''.join(rows)}</table>"
        blocks = [
            {"block_label": "paragraph_title", "block_content": "## Supplier Invoice",
             "block_bbox": [60, 60, 500, 100], "block_id": 0, "block_order": 1, "group_id": 0},
            {"block_label": "text", "block_content": f"Flat {h % 90}A, Allied Plaza, Nathan Road",
             "block_bbox": [60, 120, 420, 150], "block_id": 1, "block_order": 2, "group_id": 1},
            {"block_label": "table", "block_content": table,
             "block_bbox": [60, 260, 840, 600], "block_id": 2, "block_order": 3, "group_id": 2},
            {"block_label": "text", "block_content": f"Grand Total: ${total}",
             "block_bbox": [60, 620, 400, 650], "block_id": 3, "block_order": 4, "group_id": 3},
        ]
    else:
        colspan = (h >> 5) % 4 == 0
        header = ("<tr><td>序号</td><td>款号</td><td>名称</td><td>颜色</td><td>尺码</td>"
                  "<td>数量</td><td>单价</td><td>金额</td><td>备注</td></tr>")
        for i in range(n_items):
            code, name, color, size = _CJK_ITEMS[(h + i) % len(_CJK_ITEMS)]
            qty = 1 + (h >> (4 + i)) % 6
            price = 45 + (h >> (6 + i)) % 300
            amt = qty * price
            total += amt
            rows.append(f"<tr><td>{i + 1}</td><td>{code}</td><td>{name}</td><td>{color}</td>"
                        f"<td>{size}</td><td>{qty}</td><td>{price}</td><td>{amt}</td><td></td></tr>")
        if colspan:
            rows.append(f'<tr><td colspan="5">合计</td><td>{n_items}</td><td></td><td>{total}</td><td></td></tr>')
        else:
            rows.append(f"<tr><td>合计</td><td></td><td></td><td></td><td></td><td>{n_items}</td>"
                        f"<td></td><td>{total}</td><td></td></tr>")
        table = f"<table>{header}{''.join(rows)}</table>"
        blocks = [
            {"block_label": "paragraph_title", "block_content": "## 广州欧诗贝尔皮具销售单",
             "block_bbox": [60, 60, 500, 100], "block_id": 0, "block_order": 1, "group_id": 0},
            {"block_label": "text", "block_content": f"批次：{45000 + h % 999}",
             "block_bbox": [60, 120, 300, 150], "block_id": 1, "block_order": 2, "group_id": 1},
            {"block_label": "text", "block_content": f"客户：香港客户{h % 97}",
             "block_bbox": [60, 160, 300, 190], "block_id": 2, "block_order": 3, "group_id": 2},
            {"block_label": "text",
             "block_content": "日期：2025-%02d-%02d" % (1 + (h >> 9) % 12, 1 + (h >> 13) % 28),
             "block_bbox": [60, 200, 300, 230], "block_id": 3, "block_order": 4, "group_id": 3},
            {"block_label": "table", "block_content": table,
             "block_bbox": [60, 260, 840, 600], "block_id": 4, "block_order": 5, "group_id": 4},
            {"block_label": "text", "block_content": f"本单额：{total}元 现金：{total}元",
             "block_bbox": [60, 620, 400, 650], "block_id": 5, "block_order": 6, "group_id": 5},
        ]
    doc = {
        "input_path": f"scan_{h % 10000}.jpg", "page_index": None, "page_count": None,
        "width": 900, "height": 1600,
        "model_settings": {"use_layout_detection": True},
        "parsing_res_list": blocks,
        "layout_det_res": {"input_path": None, "page_index": None, "boxes": []},
    }
    wrap = (h >> 11) % 5
    if wrap == 0:
        doc = {"result": doc}
    elif wrap == 1:
        doc = {"data": doc}
    return json.dumps(doc, ensure_ascii=False)


def _markdown_html_table(h: int) -> str:
    n_items = 1 + (h >> 8) % 3
    rows, total = [], 0
    for i in range(n_items):
        name, price = _EN_ITEMS[(h + i) % len(_EN_ITEMS)]
        qty = 1 + (h >> (4 + i)) % 3
        amt = qty * price
        total += amt
        rows.append(f"<tr><td>{name}</td><td>{qty}</td><td>{price}.00</td><td>{amt}.00</td></tr>")
    return (
        f"## Supplier Invoice {h % 1000}\n\n"
        f"Date 2025-%02d-%02d\n" % (1 + (h >> 9) % 12, 1 + (h >> 13) % 28)
        + f"Nº {100000 + h % 899999}\n\n"
        f'<table border="1"><tr><td>Description</td><td>Qty</td><td>Unit Price</td><td>Amount</td></tr>'
        + "".join(rows) + "</table>\n\n"
        f"Total: {total}.00\n"
    )


def _markdown_pipe_table(h: int) -> str:
    n_items = 1 + (h >> 8) % 3
    rows, total = [], 0
    for i in range(n_items):
        name, price = _EN_ITEMS[(h + i) % len(_EN_ITEMS)]
        qty = 1 + (h >> (4 + i)) % 3
        amt = qty * price
        total += amt
        rows.append(f"| A-{i + 1} | {name} | {qty} | {price}.00 | {amt}.00 |")
    return (
        f"## ACME Trading Co. Ltd\n"
        f"供應商：ACME Trading Co. Ltd\n"
        f"日期：2025-%02d-%02d\n" % (1 + (h >> 9) % 12, 1 + (h >> 13) % 28)
        + f"發票號：INV-{1000 + h % 9000}\n\n"
        "| code | name | qty | unit price | total |\n"
        "|---|---|---|---|---|\n"
        + "\n".join(rows) + "\n\n"
        f"合计：{total}.00\n"
    )


def _plain_text(h: int) -> str:
    qty1 = 1 + (h >> 4) % 5
    price1 = 10 + (h >> 6) % 90
    qty2 = 1 + (h >> 8) % 4
    price2 = 5 + (h >> 10) % 45
    fee = 10 + (h >> 12) % 40
    total = qty1 * price1 + qty2 * price2 + fee
    return (
        f"City Hardware Company Ltd\n"
        f"customer: Client {h % 997} Ltd\n"
        f"date: 2025-%02d-%02d\n" % (1 + (h >> 9) % 12, 1 + (h >> 13) % 28)
        + f"invoice no: {7000 + h % 3000}\n"
        f"Paint x{qty1} @{price1}\n"
        f"Brush x{qty2} @{price2}\n"
        f"- Delivery fee - ${fee}\n"
        f"unit price list available on request\n"
        f"total: {total}\n"
    )


_CHATTER = [
    "ok let me check that for you",
    "sounds good, proceeding with the upload",
    "the scan finished, sending results",
    "could you re-run the parser on the last file?",
    "done. anything else?",
]


def _pdf_page(h: int) -> str:
    """Minimal uncompressed PDF byte stream (north-star payload kind):
    a title line and a two-line body with real Td/TD geometry."""
    w1, _ = _EN_ITEMS[h % len(_EN_ITEMS)]
    w2, _ = _EN_ITEMS[(h >> 5) % len(_EN_ITEMS)]
    return (
        "%PDF-1.4\n1 0 obj << /Type /Page >> endobj\n"
        "4 0 obj << /Length 0 >> stream\n"
        f"BT /F1 16 Tf 72 720 Td (Shipment note {h % 9973}) Tj ET\n"
        f"BT /F1 12 Tf 72 690 Td (The {w1} cartons were received and "
        "logged at the dock.) Tj\n"
        f"0 -14 TD (Storage row {h % 40} now holds the {w2} overflow.) "
        "Tj ET\nendstream endobj\n%%EOF"
    )


def _html_page(h: int) -> str:
    """Generic boilerplate-wrapped web page (north-star payload kind):
    nav/sidebar/footer chrome around an article div. Deterministic in h."""
    w1, _ = _EN_ITEMS[h % len(_EN_ITEMS)]
    w2, _ = _EN_ITEMS[(h >> 3) % len(_EN_ITEMS)]
    return (
        '<html><body>\n'
        '<nav class="nav"><a href="/">Home</a> <a href="/d">Docs</a> '
        '<a href="/c">Contact</a></nav>\n'
        '<div class="sidebar"><ul><li><a href="/p1">Previous page link</a>'
        '</li><li><a href="/p2">Next page link</a></li></ul></div>\n'
        '<div class="content">\n'
        f'<h1>Field report {h % 9973}</h1>\n'
        f'<p>The {w1} shipment arrived on schedule, was counted, checked, '
        f'and moved to the floor without incident this week.</p>\n'
        f'<p>Meanwhile the {w2} line ran at {50 + h % 50} percent capacity, '
        f'which, given the season, the team considered acceptable.</p>\n'
        '</div>\n'
        '<footer class="footer">Copyright 2026 Example Corp. All rights '
        'reserved.</footer>\n</body></html>'
    )


def payload_for(conv_id: str, turn_idx: int, seed: int = 42) -> tuple[str, str, str]:
    """(role, text, tool) for one turn — pure function of the key."""
    h = _h(seed, conv_id, turn_idx)
    role = ("user", "assistant", "tool")[turn_idx % 3]
    # every other turn is a document payload; rest are chatter, except a
    # deterministic slice that carries a generic web page (the north-star
    # readability payload kind — no invoice inside, chrome to strip)
    if turn_idx % 2 == 1:
        shape = h % 4
        if shape == 0:
            return role, _doc_parser_json(h), "doc_parser"
        if shape == 1:
            return role, _markdown_html_table(h), "markdown"
        if shape == 2:
            return role, _markdown_pipe_table(h), "markdown"
        return role, _plain_text(h), ""
    if h % 5 == 0:
        return role, _html_page(h), "html"
    if h % 5 == 1:
        return role, _pdf_page(h), "pdf"
    return role, _CHATTER[h % len(_CHATTER)], ""


def n_turns_for(conv_idx: int, turns_per_conv: int = DEFAULT_TURNS_PER_CONV) -> int:
    return turns_per_conv * (HOT_FACTOR if conv_idx % HOT_PCT == 0 else 1)


def synthesize_transcripts(spark: SparkSession, n_convs: int,
                           turns_per_conv: int = DEFAULT_TURNS_PER_CONV,
                           seed: int = 42,
                           partitions: int | None = None) -> DataFrame:
    """Distributed deterministic synthesis.

    The (conv, turn) skeleton is built with native expressions (sequence +
    explode — no Python), then payload text is filled by an Arrow-batched
    mapInPandas stage. Hot convs get HOT_FACTOR× turns.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2

    skel = (
        spark.range(0, n_convs, 1, partitions)
        .withColumn("conv_id", F.format_string("conv-%06d", F.col("id")))
        .withColumn(
            "n_turns",
            F.when(F.col("id") % HOT_PCT == 0,
                   F.lit(turns_per_conv * HOT_FACTOR))
            .otherwise(F.lit(turns_per_conv)))
        .select("conv_id",
                F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1))
                .alias("turn_idx"))
        # hot convs explode into long rows-runs; rebalance before the
        # payload-fill stage so synthesis itself is not skewed
        .repartition(partitions, F.col("conv_id"), F.col("turn_idx"))
    )

    out_schema = StructType(TRANSCRIPT_SCHEMA.fields[:-1]
                            + [StructField("ts_epoch", LongType())])

    def _fill(batches):
        import pandas as pd
        for pdf in batches:
            roles, texts, tools, epochs = [], [], [], []
            for conv_id, turn_idx in zip(pdf["conv_id"], pdf["turn_idx"]):
                role, text, tool = payload_for(conv_id, int(turn_idx), seed)
                roles.append(role)
                texts.append(text)
                tools.append(tool)
                epochs.append(BASE_EPOCH + int(turn_idx))
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"].astype("int32"),
                "role": roles, "text": texts, "tool": tools,
                "ts_epoch": epochs,
            })

    return (
        skel.mapInPandas(_fill, schema=out_schema)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_epoch")))
        .drop("ts_epoch")
        .select(*TRANSCRIPT_SCHEMA.fieldNames())
    )


# ---------------------------------------------------------------------------
# agent transcripts over the documents table (the query layer's input)
# ---------------------------------------------------------------------------

_AGENT_ROLES = ("user", "assistant", "tool", "system")
_AGENT_TOOLS = ("search", "code", "browser")


def agent_transcripts(spark, sf_dir, conv_mod=50):
    """Transcripts in the exact input_hint shape (conv_id, turn_idx, role,
    text, tool, ts), synthesized deterministically from documents with a
    realistic role mix and tool names on tool turns — the input for the
    transcript-native analytics queries (conv_stats).

    conv_mod parity trap: with the default 50, conv ≡ doc_id (mod 50)
    and role ≡ doc_id (mod 4) share the factor 2 — even conversations
    get ONLY user/tool turns and odd ones ONLY assistant/system, so any
    op that needs a user turn FOLLOWED by an assistant turn in the same
    conversation sees zero instances. Such ops pass conv_mod=25
    (coprime to 4: every conversation mixes all four roles). Tie-role
    constancy survives any conv_mod dividing 1000: rows tied on
    (conv_id, turn_idx) agree mod 1000 and hence mod 4.

    All doc_id arithmetic uses pmod, not %: Spark's % keeps the
    dividend's sign, so a NEGATIVE doc_id (production ids are md5-longs,
    uniform over signed int64) would make element_at(roles, 0) throw and
    doc_id * 7 overflow int64 in timestamp_seconds. pmod keeps every
    index in range and the ts seed is bounded to 2^31 seconds-from-epoch
    before the *7; the oracle CTE mirrors with ((x % n) + n) % n —
    identical to % on the dense positive testdata ids, so the oracle
    hash is unchanged."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    role = F.element_at(F.array(*[F.lit(r) for r in _AGENT_ROLES]),
                        (F.pmod(did, F.lit(4)) + 1).cast("int"))
    tool = F.when(F.pmod(did, F.lit(4)) == 2,
                  F.element_at(F.array(*[F.lit(t) for t in _AGENT_TOOLS]),
                               (F.pmod(did, F.lit(3)) + 1).cast("int")))
    return docs.select(
        F.format_string("conv-%06d",
                        F.pmod(did, F.lit(conv_mod))).alias("conv_id"),
        F.pmod(did, F.lit(1000)).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        tool.alias("tool"),
        F.timestamp_seconds(
            F.lit(BASE_EPOCH)
            + F.pmod(did, F.lit(2147483648)) * 7).alias("ts"),
    )


def agent_transcripts_sql(conv_mod=50):
    """DuckDB twin of agent_transcripts: a CTE body over `documents`;
    ((x % n) + n) % n mirrors Spark's pmod."""
    return f"""
  SELECT printf('conv-%06d', ((doc_id % {conv_mod}) + {conv_mod}) % {conv_mod}) AS conv_id,
         CAST(((doc_id % 1000) + 1000) % 1000 AS INTEGER) AS turn_idx,
         ['user', 'assistant', 'tool', 'system']
           [CAST(((doc_id % 4) + 4) % 4 AS INT) + 1] AS role,
         text,
         CASE WHEN ((doc_id % 4) + 4) % 4 = 2
              THEN ['search', 'code', 'browser']
                     [CAST(((doc_id % 3) + 3) % 3 AS INT) + 1]
         END AS tool,
         to_timestamp({BASE_EPOCH}
           + (((doc_id % 2147483648) + 2147483648) % 2147483648) * 7) AS ts
  FROM documents
"""
