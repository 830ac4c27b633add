"""Per-payload parsers + registry detection + invoice normalization.

Replicates the reference parser classes, re-shaped for per-turn payloads
(the reference operates on uploaded files; our unit of work is one
transcript turn whose ``text`` is one document payload):

- DocParserJsonParser   (/root/reference/src/Parsers/DocParserJsonParser.php)
- GenericMarkdownParser (/root/reference/src/Parsers/GenericMarkdownParser.php)
- TextBlockParser       (/root/reference/src/Parsers/TextBlockParser.php)
- ParserRegistry::detectParser argmax ≥ 0.3, registration-order tie-break
  (/root/reference/src/ParserRegistry.php:115-148; LLM parser is
  unconfigured by default → always 0.0, ParserRegistry.php:122-129)
- AbstractParser::normalizeInvoice/normalizeItem
  (/root/reference/src/Parsers/AbstractParser.php:89-133)

A "payload" is (ext, text): ext in {'json','md','txt'} — json when the turn's
``tool`` column says doc_parser and the text parses as JSON, md for markdown
renditions, txt otherwise (FIXTURES.md §1).
"""

from __future__ import annotations

import re
from typing import Any

from . import items as K_items
from . import tables as K_tables
from . import textitems as K_text
from .dates import normalize_date
from .php import (clean_string, collapse_ws, compile_php, json_decode,
                  php_floatval, php_round, php_str, php_strip_tags, php_trim)

MIN_CONFIDENCE = 0.3  # ParserRegistry.php:18

_TEXTISH_LABELS = ("text", "paragraph", "title")
_TEXTBLOCK_LABELS = ("text", "paragraph", "title", "list", "")


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def decode_json(text: str) -> Any | None:
    """json_decode(assoc) → dict/list or None (Util.php:21-27 tolerance:
    the engine counts nulls instead of throwing)."""
    v = json_decode(text)
    return v if isinstance(v, (dict, list)) else None


def normalize_root(doc: Any) -> Any:
    """DocParserJsonParser::normalizeRoot — unwrap result/data (:161-169)."""
    if isinstance(doc, dict):
        r = doc.get("result")
        if isinstance(r, (dict, list)):
            return r
        d = doc.get("data")
        if isinstance(d, (dict, list)):
            return d
    return doc


def _blocks_of(root: Any) -> list:
    if isinstance(root, dict):
        b = root.get("parsing_res_list")
        if isinstance(b, list):
            return b
    return []


def normalize_item(item: dict) -> dict:
    """AbstractParser::normalizeItem (:108-133). Numeric fields go
    through the total (float) cast (a payload item with qty '2 pcs'
    degrades instead of raising) and text fields through the (string)
    cast (0 → '0', false → '' — Python truthiness would flatten '0')."""
    qty0 = item.get("qty")
    qty = php_floatval(qty0 if qty0 is not None else 1)
    if qty <= 0:
        qty = 1.0
    unit_price = php_floatval(item.get("unit_price") or 0)
    total = php_floatval(item.get("total") or 0)
    if total <= 0 and qty > 0 and unit_price > 0:
        total = qty * unit_price
    if unit_price <= 0 and qty > 0 and total > 0:
        unit_price = total / qty
    return {
        "code": clean_string(php_str(item.get("code"))),
        "name": clean_string(php_str(item.get("name"))),
        "description": clean_string(php_str(item.get("description"))),
        "qty": php_round(qty, 4),
        "unit": clean_string(php_str(item.get("unit"))),
        "unit_price": php_round(unit_price, 4),
        "total": php_round(total, 2),
        "metadata": item.get("metadata") or {},
    }


def normalize_amount(amount) -> float | None:
    """AbstractParser::normalizeAmount (:182-196)."""
    from .php import php_float, php_is_numeric
    if amount is None or amount == "":
        return None
    if php_is_numeric(amount):
        return php_round(float(amount) if not isinstance(amount, str) else php_float(amount), 2)
    s = re.sub(r"[^0-9.\-]", "", str(amount))
    return php_round(php_float(s), 2) if php_is_numeric(s) else None


def normalize_invoice(data: dict, parser_id: str) -> dict:
    """AbstractParser::normalizeInvoice (:89-103). calc_total is computed
    from the *pre-normalization* item totals, exactly as the reference does."""
    items = data.get("items") or []
    if isinstance(items, dict):
        items = list(items.values())  # JSON object ≙ PHP assoc array
    return {
        "source_file": data.get("source_file", "unknown"),
        "format_detected": parser_id,
        "supplier_name": clean_string(php_str(data.get("supplier_name"))),
        "customer_name": clean_string(php_str(data.get("customer_name"))),
        "invoice_date": normalize_date(data.get("invoice_date")),
        "invoice_number": data.get("invoice_number"),
        "declared_total": normalize_amount(data.get("declared_total")),
        "calc_total": php_round(php_floatval(data.get("calc_total") or 0), 2),
        "currency": data.get("currency"),
        "items": [normalize_item(i) for i in items if isinstance(i, dict)],
        "metadata": data.get("metadata") or {},
    }


# ---------------------------------------------------------------------------
# DocParserJsonParser
# ---------------------------------------------------------------------------

def doc_can_parse(ext: str, text: str) -> float:
    """DocParserJsonParser::canParse, single-file variant (:31-76)."""
    if ext != "json":
        return 0.0
    doc = decode_json(text)
    if doc is None:
        return 0.0
    score = 0.0
    root = normalize_root(doc)
    if isinstance(root, dict) and isinstance(root.get("parsing_res_list"), list):
        score += 0.5
        blocks = root["parsing_res_list"]
        if blocks:
            first = blocks[0]
            if isinstance(first, dict):
                if "block_label" in first and "block_content" in first:
                    score += 0.3
                if "block_bbox" in first:
                    score += 0.2
    if isinstance(root, dict):
        if "layout_det_res" in root:
            score += 0.1
        if "model_settings" in root:
            score += 0.1
    return min(1.0, score)


def _doc_collect_tables(blocks: list) -> list[dict]:
    """DocParserJsonParser::collectTables (:174-190) — uses the *first-table,
    no-span* HTML parse variant."""
    tables = []
    for block in blocks:
        if not isinstance(block, dict):
            continue
        label = str(block.get("block_label") or "").lower()
        if "table" not in label:
            continue
        html = str(block.get("block_content") or "")
        t = K_tables.parse_html_table_first(html)
        if t and t["rows"]:
            tables.append(t)
    return tables


def doc_collect_text_blocks(blocks: list) -> list[str]:
    """DocParserJsonParser::collectTextBlocks (:233-250)."""
    texts = []
    for block in blocks:
        if not isinstance(block, dict):
            continue
        label = str(block.get("block_label") or "").lower()
        if "table" in label:
            continue
        content = block.get("block_content", "")
        text = php_strip_tags(content) if isinstance(content, str) else ""
        text = php_trim(collapse_ws(text, unicode=False))
        if text:
            texts.append(text)
    return texts


_DOC_SUPPLIER_PATTERNS = [  # DocParserJsonParser.php:257-261
    compile_php(r"供[应應]商[：:]\s*([^\n]+)", "u"),
    compile_php(r"from[:\s]+([^\n]+)", "i"),
    compile_php(r"vendor[:\s]+([^\n]+)", "i"),
]
_DOC_CUSTOMER_PATTERNS = [  # DocParserJsonParser.php:292-296
    compile_php(r"客[户戶][：:]\s*([^\n]+)", "u"),
    compile_php(r"to[:\s]+([^\n]+)", "i"),
    compile_php(r"bill\s*to[:\s]+([^\n]+)", "i"),
]
_DOC_DATE_PATTERNS = [  # DocParserJsonParser.php:311-316
    (compile_php(r"日期[：:]\s*(\d{4}[-\/]\d{1,2}[-\/]\d{1,2})", "u"), "norm"),
    (compile_php(r"date[:\s]+(\d{4}[-\/]\d{1,2}[-\/]\d{1,2})", "i"), "norm"),
    (compile_php(r"(\d{4})年(\d{1,2})月(\d{1,2})日", "u"), "cjk"),
    (compile_php(r"(\d{4}[-\/]\d{1,2}[-\/]\d{1,2})", ""), "norm"),
]
_DOC_NUMBER_PATTERNS = [  # DocParserJsonParser.php:335-340
    compile_php(r"發票[号號][：:]\s*([A-Za-z0-9\-]+)", "u"),
    compile_php(r"invoice\s*#?\s*[:\s]*([A-Za-z0-9\-]+)", "i"),
    compile_php(r"批次[：:]\s*(\d+)", "u"),
    compile_php(r"order\s*#?\s*[:\s]*([A-Za-z0-9\-]+)", "i"),
]
_DOC_TOTAL_PATTERNS = [  # DocParserJsonParser.php:357-362
    compile_php(r"本單額[：:]\s*([\d,]+\.?\d*)", "u"),
    compile_php(r"grand\s*total[:\s]*[\$¥￥]?\s*([\d,]+\.?\d*)", "i"),
    compile_php(r"total[:\s]*[\$¥￥]?\s*([\d,]+\.?\d*)", "i"),
    compile_php(r"合[计計][：:]\s*[\$¥￥]?\s*([\d,]+\.?\d*)", "u"),
]


def _doc_extract_supplier(text_blocks: list[str], all_text: str,
                          spans: list | None = None) -> str:
    """DocParserJsonParser::extractSupplierName (:255-286)."""
    for pat in _DOC_SUPPLIER_PATTERNS:
        m = pat.search(all_text)
        if m:
            if spans is not None:
                spans.append(("supplier_name", m.start(1), m.end(1)))
            return php_trim(m.group(1))
    for text in text_blocks:
        if re.match(r"^\d{4}[-\/]", text, re.ASCII):
            continue
        if compile_php(r"(有限公司|co\.?\s*ltd|trading|enterprise)", "iu").search(text):
            return php_trim(text)
        if 3 < len(text) < 100 and not re.match(r"^\d", text, re.ASCII):
            return php_trim(text)
    return ""


def _doc_extract_customer(all_text: str, spans: list | None = None) -> str:
    """DocParserJsonParser::extractCustomerName (:291-305)."""
    for pat in _DOC_CUSTOMER_PATTERNS:
        m = pat.search(all_text)
        if m:
            if spans is not None:
                spans.append(("customer_name", m.start(1), m.end(1)))
            return php_trim(m.group(1))
    return ""


def _doc_extract_date(all_text: str, spans: list | None = None) -> str | None:
    """DocParserJsonParser::extractDate (:310-329)."""
    for pat, kind in _DOC_DATE_PATTERNS:
        m = pat.search(all_text)
        if m:
            if spans is not None:
                spans.append(("invoice_date", m.start(0), m.end(0)))
            if kind == "cjk":
                return "%04d-%02d-%02d" % (int(m.group(1)), int(m.group(2)), int(m.group(3)))
            return normalize_date(m.group(1))
    return None


def _doc_extract_number(all_text: str, spans: list | None = None) -> str | None:
    """DocParserJsonParser::extractInvoiceNumber (:334-349)."""
    for pat in _DOC_NUMBER_PATTERNS:
        m = pat.search(all_text)
        if m:
            if spans is not None:
                spans.append(("invoice_number", m.start(1), m.end(1)))
            return php_trim(m.group(1))
    return None


def _doc_extract_total(text_blocks: list[str], spans: list | None = None) -> float | None:
    """DocParserJsonParser::extractTotal — last-offset-wins (:354-385)."""
    all_text = "\n".join(text_blocks)
    return K_text._last_offset_wins(all_text, _DOC_TOTAL_PATTERNS, spans,
                                    "declared_total")


def doc_parse_payload(source_name: str, text: str,
                      spans: list | None = None) -> dict | None:
    """DocParserJsonParser::parseJsonFile, single-payload (:113-156).
    Returns the *pre-normalization* invoice dict, or None."""
    doc = decode_json(text)
    if doc is None:
        return None
    root = normalize_root(doc)
    blocks = _blocks_of(root)
    if not blocks:
        return None

    tables = _doc_collect_tables(blocks)
    text_blocks = doc_collect_text_blocks(blocks)
    all_text = "\n".join(text_blocks)

    inv_items: list[dict] = []
    if tables:
        best = K_items.pick_best_table(tables)
        if best:
            inv_items = K_items.extract_items_from_table_data(best)

    calc_total = sum(i["total"] for i in inv_items)
    return {
        "source_file": source_name,
        "supplier_name": _doc_extract_supplier(text_blocks, all_text, spans),
        "customer_name": _doc_extract_customer(all_text, spans),
        "invoice_date": _doc_extract_date(all_text, spans),
        "invoice_number": _doc_extract_number(all_text, spans),
        "declared_total": _doc_extract_total(text_blocks, spans),
        "calc_total": php_round(calc_total, 2),
        "items": inv_items,
    }


# ---------------------------------------------------------------------------
# GenericMarkdownParser
# ---------------------------------------------------------------------------

_GM_HIGH_KW = ["total", "amount", "qty", "quantity", "price",
               "金额", "數量", "单价", "合计"]
_GM_MEDIUM_KW = ["invoice", "發票", "销售单", "收據", "item", "product"]
_HTML_TABLE_RE = compile_php(r"<table", "i")
_MD_TABLE_HINT_RE = compile_php(r"\|.+\|[\r\n]+\|[\-:]+\|", "")
_MERGED_NAME_RE = compile_php(r"merge|combined|all", "i")
_MERGED_HEADING_RE = compile_php(r"^#{1,3}\s+.*(invoice|發票|销售单|收據)", "imu")
_HEADING_SPLIT_RE = re.compile(r"(?=^#{1,3}[ \t\n\r\f\v]+)", re.MULTILINE | re.ASCII)
_TITLE_RE = compile_php(r"^#{1,2}\s+(.+)", "m")


def gm_can_parse(ext: str, text: str) -> float:
    """GenericMarkdownParser::canParse, single-file (:33-79)."""
    if ext not in ("md", "txt"):
        return 0.0
    if not text:
        return 0.0
    file_score = 0.0
    if _HTML_TABLE_RE.search(text):
        file_score += 0.4
    if _MD_TABLE_HINT_RE.search(text):
        file_score += 0.3
    lower = text.lower()
    for kw in _GM_HIGH_KW:
        if kw in lower:
            file_score += 0.08
    for kw in _GM_MEDIUM_KW:
        if kw in lower:
            file_score += 0.04
    return min(0.8, file_score)


def gm_is_merged(name: str, content: str) -> bool:
    """GenericMarkdownParser::isMergedFile (:116-125)."""
    if _MERGED_NAME_RE.search(name):
        return True
    return len(_MERGED_HEADING_RE.findall(content)) > 1


def gm_extract_title(content: str) -> str:
    """GenericMarkdownParser::extractTitle (:204-220)."""
    m = _TITLE_RE.search(content)
    if m:
        return php_trim(m.group(1))
    for line in content.split("\n"):
        line = php_trim(line)
        if line and not re.match(r"^[#\-\*\|]", line, re.ASCII):
            return line
    return ""


def gm_extract_from_markdown(content: str, source_name: str,
                             spans: list | None = None) -> dict:
    """GenericMarkdownParser::extractFromMarkdown (:153-199)."""
    header = K_text.extract_invoice_header(content, spans)

    inv_items: list[dict] = []
    html_tables = K_tables.extract_html_tables(content)
    if html_tables:
        best = K_items.select_best_invoice_table(html_tables)
        if best:
            inv_items = K_items.extract_items_from_table_data(best)
    if not inv_items:
        md_tables = K_tables.extract_markdown_tables(content)
        if md_tables:
            best = K_items.select_best_invoice_table(md_tables)
            if best:
                inv_items = K_items.extract_items_from_table_data(best)
    if not inv_items:
        inv_items = K_text.extract_items_from_text(content)

    calc_total = sum(i["total"] for i in inv_items)
    return {
        "source_file": source_name,
        "supplier_name": header["supplier_name"] or gm_extract_title(content),
        "customer_name": header["customer_name"],
        "invoice_date": header["invoice_date"],
        "invoice_number": header["invoice_number"],
        "declared_total": header["total"],
        "calc_total": php_round(calc_total, 2),
        "currency": header["currency"],
        "items": inv_items,
    }


def gm_parse_payload(source_name: str, text: str,
                     spans: list | None = None) -> list[dict]:
    """GenericMarkdownParser::parse, single payload → 0..n pre-normalization
    invoices (merged files split on headings, :84-148)."""
    if not text:
        return []
    out = []
    if gm_is_merged(source_name, text):
        idx = 0
        for part in _HEADING_SPLIT_RE.split(text):
            part = php_trim(part)
            if not part:
                continue
            inv = gm_extract_from_markdown(part, "%s#part%d" % (source_name, idx),
                                           spans if idx == 0 else None)
            if inv["items"]:
                out.append(inv)
                idx += 1
        return out
    inv = gm_extract_from_markdown(text, source_name, spans)
    return [inv] if inv["items"] else []


# ---------------------------------------------------------------------------
# TextBlockParser
# ---------------------------------------------------------------------------

def tb_can_parse(ext: str, text: str) -> float:
    """TextBlockParser::canParse, single-file (:41-105)."""
    if ext == "json":
        doc = decode_json(text)
        if doc is None:
            return 0.0
        root = normalize_root(doc)
        score = 0.0
        if isinstance(root, dict) and isinstance(root.get("parsing_res_list"), list):
            has_table = False
            has_text = False
            for block in root["parsing_res_list"]:
                if not isinstance(block, dict):
                    continue
                label = str(block.get("block_label") or "").lower()
                if "table" in label:
                    has_table = True
                if label in _TEXTISH_LABELS:
                    has_text = True
            if has_text and not has_table:
                score += 0.8
            elif has_text and has_table:
                score += 0.2
        return min(1.0, score)
    if ext in ("md", "txt"):
        if not text:
            return 0.0
        if _HTML_TABLE_RE.search(text) or _MD_TABLE_HINT_RE.search(text):
            return 0.0
        lower = text.lower()
        keywords = ["total", "amount", "qty", "price", "金额", "數量", "单价", "合计"]
        hits = sum(1 for kw in keywords if kw in lower)
        return 0.6 if hits >= 2 else 0.0
    return 0.0


def _tb_parse_group_as_item(group: list[str]) -> dict | None:
    """TextBlockParser::parseGroupAsItem (:268-320) — NOTE thresholds differ
    from parseLineFormat: strict '<' compare, ≤100 qty bound, no 10% sanity
    check (a deliberate reference divergence, SURVEY §7.3.6)."""
    text = " ".join(group)
    numbers = K_text._line_numbers(text)
    name = K_text._NUM_TOKEN_RE.sub("", text)
    name = K_text.clean_item_name(name)
    if len(name) < 2 or not numbers:
        return None
    qty, unit_price, total = 1.0, 0.0, 0.0
    if len(numbers) >= 3:
        qty, unit_price, total = numbers[0], numbers[1], numbers[2]
    elif len(numbers) == 2:
        if numbers[0] < numbers[1] and numbers[0] <= 100:
            qty, total = numbers[0], numbers[1]
            unit_price = total / qty
        else:
            unit_price, total = numbers[0], numbers[1]
    else:
        total = numbers[0]
    return {
        "code": "",
        "name": name,
        "qty": php_round(qty, 4),
        "unit_price": php_round(unit_price, 4),
        "total": php_round(total, 2),
        "metadata": {"parse_method": "block_group"},
    }


def tb_extract_items_from_blocks(blocks: list[dict]) -> list[dict]:
    """TextBlockParser::extractItemsFromBlocks — sort by bbox-Y, group by
    Y-gap < 50, parse each group (:219-263). PHP 8 usort is stable; so is
    Python sorted."""
    def _y(b):
        bbox = b.get("bbox")
        try:
            return bbox[1] if bbox else 0
        except (TypeError, IndexError):
            return 0

    blocks = sorted(blocks, key=_y)
    items = []
    current_group: list[str] = []
    prev_y = None
    threshold = 50
    for block in blocks:
        y = _y(block)
        content = block.get("content", "")
        if prev_y is not None and abs(y - prev_y) < threshold:
            current_group.append(content)
        else:
            if current_group:
                item = _tb_parse_group_as_item(current_group)
                if item is not None:
                    items.append(item)
            current_group = [content]
        prev_y = y
    if current_group:
        item = _tb_parse_group_as_item(current_group)
        if item is not None:
            items.append(item)
    return items


def tb_parse_json_payload(source_name: str, text: str,
                          spans: list | None = None) -> dict | None:
    """TextBlockParser::parseJsonFile (:133-188)."""
    doc = decode_json(text)
    if doc is None:
        return None
    root = normalize_root(doc)
    blocks = _blocks_of(root)
    if not blocks:
        return None

    all_text = ""
    text_blocks = []
    for block in blocks:
        if not isinstance(block, dict):
            continue
        label = str(block.get("block_label") or "").lower()
        content = str(block.get("block_content") or "")
        if "table" in label:
            continue
        if label in _TEXTBLOCK_LABELS:
            text_blocks.append({
                "label": label,
                "content": content,
                "bbox": block.get("block_bbox"),
            })
            all_text += content + "\n"

    if php_trim(all_text) == "":
        return None

    header = K_text.extract_invoice_header(all_text, spans)
    inv_items = K_text.extract_items_from_text(all_text)
    if not inv_items:
        inv_items = tb_extract_items_from_blocks(text_blocks)

    calc_total = sum(i["total"] for i in inv_items)
    return {
        "source_file": source_name,
        "supplier_name": header["supplier_name"],
        "customer_name": header["customer_name"],
        "invoice_date": header["invoice_date"],
        "invoice_number": header["invoice_number"],
        "declared_total": header["total"],
        "calc_total": php_round(calc_total, 2),
        "currency": header["currency"],
        "items": inv_items,
    }


def tb_parse_text_payload(source_name: str, text: str,
                          spans: list | None = None) -> dict | None:
    """TextBlockParser::parseTextFile (:193-213)."""
    if not text:
        return None
    header = K_text.extract_invoice_header(text, spans)
    inv_items = K_text.extract_items_from_text(text)
    calc_total = sum(i["total"] for i in inv_items)
    return {
        "source_file": source_name,
        "supplier_name": header["supplier_name"],
        "customer_name": header["customer_name"],
        "invoice_date": header["invoice_date"],
        "invoice_number": header["invoice_number"],
        "declared_total": header["total"],
        "calc_total": php_round(calc_total, 2),
        "currency": header["currency"],
        "items": inv_items,
    }


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

PARSER_IDS = ("doc_parser_json", "generic_markdown", "text_block",
              "readability_html", "pdf_layout")


def detect_parser(ext: str, text: str) -> tuple[str | None, float, dict[str, float]]:
    """ParserRegistry::detectParser — argmax with strict '>' so the earlier-
    registered parser wins ties; threshold MIN_CONFIDENCE
    (ParserRegistry.php:115-148). Returns (parser_id|None, confidence, scores)."""
    from .pdftext import pdf_can_parse
    from .readability import rb_can_parse
    scores = {
        "doc_parser_json": doc_can_parse(ext, text),
        "generic_markdown": gm_can_parse(ext, text),
        "text_block": tb_can_parse(ext, text),
        # north-star extensions: generic HTML pages and PDF byte streams
        # (no reference analog — the reference only ever sees invoice
        # payloads and OCR-service JSON)
        "readability_html": rb_can_parse(ext, text),
        "pdf_layout": pdf_can_parse(ext, text),
    }
    best_id, best = None, 0.0
    for pid in PARSER_IDS:
        if scores[pid] > best:
            best = scores[pid]
            best_id = pid
    return (best_id if best >= MIN_CONFIDENCE else None), best, scores


def parse_payload(parser_id: str, ext: str, source_name: str, text: str,
                  spans: list | None = None) -> list[dict]:
    """Run one parser over one payload → normalized invoice records.

    Mirrors each parser's parse() including its skip-empty-items rule
    (DocParserJsonParser.php:92, GenericMarkdownParser.php:96-106,
    TextBlockParser.php:122)."""
    if parser_id == "doc_parser_json":
        inv = doc_parse_payload(source_name, text, spans)
        if inv and inv["items"]:
            return [normalize_invoice(inv, parser_id)]
        return []
    if parser_id == "generic_markdown":
        return [normalize_invoice(inv, parser_id)
                for inv in gm_parse_payload(source_name, text, spans)]
    if parser_id == "text_block":
        if ext == "json":
            inv = tb_parse_json_payload(source_name, text, spans)
        else:
            inv = tb_parse_text_payload(source_name, text, spans)
        if inv and inv["items"]:
            return [normalize_invoice(inv, parser_id)]
        return []
    # readability_html emits no invoice records — its output surface is
    # clean_text + content spans, handled in extract_turn
    return []


def extract_turn(ext: str, source_name: str, text: str) -> dict:
    """Full per-turn extraction: detect → parse → normalize (+clean text and
    field spans). This is the unit the pandas-UDF stage maps over.

    clean_text: concatenated non-table block text for doc_parser JSON
    (DocParserJsonParser.php:233-250); tag-stripped whitespace-collapsed
    content otherwise (output contract FIXTURES.md §3)."""
    parser_id, confidence, scores = detect_parser(ext, text)
    spans: list = []
    invoices = parse_payload(parser_id, ext, source_name, text, spans) if parser_id else []

    if parser_id == "readability_html":
        # north-star surface: boilerplate-stripped main content + raw-
        # offset spans (kernels/readability.py Arc90-style scoring)
        from .readability import extract_main_content
        main = extract_main_content(text)
        clean_text = main["text"]
        spans.extend(main["spans"])
    elif parser_id == "pdf_layout":
        # north-star surface: layout-aware PDF extraction with block/
        # line/span reconstruction (kernels/pdftext.py)
        from .pdftext import extract_pdf_layout
        pdf = extract_pdf_layout(text)
        clean_text = pdf["text"]
        spans.extend(pdf["spans"])
    elif ext == "json":
        doc = decode_json(text)
        blocks = _blocks_of(normalize_root(doc)) if doc is not None else []
        clean_text = "\n".join(doc_collect_text_blocks(blocks))
    else:
        clean_text = php_trim(collapse_ws(php_strip_tags(text), unicode=False))

    return {
        "source_kind": parser_id,
        "confidence": confidence,
        "scores": scores,
        "clean_text": clean_text,
        "spans": spans,
        "invoices": invoices,
    }
