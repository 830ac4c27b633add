"""HTML / Markdown table parsing kernels.

Replicates (semantics, not code) of:
- DocParserJsonParser::parseHtmlTable — first <table> only, no span handling,
  cells cleaned with Unicode \\s collapse
  (/root/reference/src/Parsers/DocParserJsonParser.php:195-228)
- TableExtraction::extractHtmlTables/parseHtmlTableElement/processRowspans —
  all tables, colspan fill + rowspan copy-down, rows padded to maxCols
  (/root/reference/src/Parsers/Traits/TableExtraction.php:20-134)
- TableExtraction::extractMarkdownTables/parseMarkdownTable
  (/root/reference/src/Parsers/Traits/TableExtraction.php:142-206)
- TableExtraction::cleanCellText (…:211-222)

The HTML parser mirrors PHP DOMDocument behavior we rely on:
``getElementsByTagName('tr')`` (descendant trs), direct-child td/th per tr,
``textContent`` (all descendant text, entities decoded).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .php import collapse_ws, php_trim

_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}

# tags that auto-close an open <td>/<th> (HTML tree construction, as
# DOMDocument's libxml parser does for table markup)
_CELL_TAGS = {"td", "th"}

_SPAN_INT = re.compile(r"[+-]?\d+")
_CELL_NOISE = re.compile(r"^[\|\-\+]+$")


class _TableHTMLParser(HTMLParser):
    """Minimal DOM builder for table extraction.

    Produces a list of tables; each table is a list of rows; each row a list
    of cells ``(text, colspan, rowspan, is_th)`` for *direct* td/th children
    of each tr. Nested tables are treated as separate tables whose text also
    flows into the outer cell's textContent (DOMDocument semantics).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[tuple[str, int, int, bool]]]] = []
        self._table_stack: list[list] = []
        self._row_stack: list[list] = []
        self._cell_stack: list[dict] = []

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag in _VOID_TAGS:
            return
        if tag == "table":
            t: list = []
            self.tables.append(t)
            self._table_stack.append(t)
        elif tag == "tr":
            if self._row_stack and not self._cell_stack:
                # implicit close of previous row at same level
                self._row_stack.pop()
            row: list = []
            if self._table_stack:
                self._table_stack[-1].append(row)
            self._row_stack.append(row)
        elif tag in _CELL_TAGS:
            if self._cell_stack and self._cell_stack[-1]["open"]:
                # <td>a<td>b — implicit close
                self._close_cell()
            d = dict(attrs) if attrs else None

            def _span(key: str) -> int:
                if not d:
                    return 1
                raw = (d.get(key) or "").strip()
                m = _SPAN_INT.match(raw)
                v = int(m.group(0)) if m else 0
                return v if v else 1

            self._cell_stack.append({
                "text": [],
                "colspan": _span("colspan"),
                "rowspan": _span("rowspan"),
                "is_th": tag == "th",
                "open": True,
            })

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in _CELL_TAGS:
            if self._cell_stack:
                self._close_cell()
        elif tag == "tr":
            if self._cell_stack:
                self._close_cell()
            if self._row_stack:
                self._row_stack.pop()
        elif tag == "table":
            while self._cell_stack:
                self._close_cell()
            if self._row_stack:
                self._row_stack.pop()
            if self._table_stack:
                self._table_stack.pop()

    def handle_data(self, data):
        if self._cell_stack:
            self._cell_stack[-1]["text"].append(data)

    def _close_cell(self):
        c = self._cell_stack.pop()
        text = "".join(c["text"])
        if self._row_stack:
            self._row_stack[-1].append(
                (text, c["colspan"], c["rowspan"], c["is_th"])
            )
        # any text buffered in an outer cell keeps flowing (textContent of
        # nested elements): append nested text to the parent cell too
        if self._cell_stack:
            self._cell_stack[-1]["text"].append(text)

    def close(self):
        while self._cell_stack:
            self._close_cell()
        super().close()


# Fast tokenizer: html.parser's goahead/parse_starttag is ~40% of the
# whole extraction kernel (profiled). For markup with no entities,
# comments, PIs, or stray '<' we can tokenize with one compiled regex and
# drive the SAME _TableHTMLParser handlers — one state machine, two
# tokenizers, so semantics cannot diverge where the fast gate admits.
_FAST_UNSAFE = re.compile(r"&|<!|<\?|<\s|<script|<style", re.I)
_FAST_TAG = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*?)\s*(/?)>")
_FAST_ATTR = re.compile(
    r"([a-zA-Z][a-zA-Z0-9_:-]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+))?")


def _clean_attrs(attrs_s: str):
    """Tokenize a start tag's attribute string with _FAST_ATTR, or None
    when html.parser's tolerant grammar could read it DIFFERENTLY: any
    unconsumed junk between matches (e.g. the ','-carrying names
    attrfind_tolerant accepts but the narrow fast name class stops at —
    `<plain words here, padded>` was the fuzz-found counterexample), or
    an unquoted value opening with '=' (the parser's `=+` keeps
    consuming where the fast regex starts a value). None → the caller
    falls back to html.parser, so byte-parity is preserved by
    CONSTRUCTION instead of by replicating attrfind_tolerant's
    lookbehind grammar."""
    attrs = []
    pos = 0
    for am in _FAST_ATTR.finditer(attrs_s):
        if attrs_s[pos:am.start()].strip():
            return None
        k, v = am.group(1).lower(), am.group(2)
        if v:
            if v[0] in "\"'":
                v = v[1:-1]
            elif v[0] == "=":
                return None
        attrs.append((k, v))
        pos = am.end()
    if attrs_s[pos:].strip():
        return None
    return attrs


# a self-closing tag is one only when its attrs END in a bare name or a
# quoted value: html.parser glues the '/' into a trailing unquoted value
# or dangling '=' (`<td colspan=2/>` is a START tag with colspan='2/')
_SELFCLOSE_TAIL = re.compile(
    r"""(?:^|\s)[^\s"'=/>]+(?:\s*=\s*(?:"[^"]*"|'[^']*'))?$""")


def _tag_needs_slow_path(closing: str, attrs_s: str, selfclose: str) -> bool:
    """True when html.parser could tokenize a _FAST_TAG match differently
    from the fast path, so the whole document must take the slow path
    (both fast feeds — tables and readability — ask this one predicate):
    - an end tag with attrs: html.parser's tolerant end-tag branch cuts
      at the FIRST '>', even inside quotes (`</p a="x>y">` re-emits
      'y">' as data) where _FAST_TAG consumes the quoted '>' whole;
    - a self-closing tag whose attrs end in an unquoted value or a
      dangling '=' (the '/' becomes part of the value)."""
    if closing:
        return bool(attrs_s.strip())
    return bool(selfclose and attrs_s.strip()
                and not _SELFCLOSE_TAIL.search(attrs_s))


def _fast_feed(p: _TableHTMLParser, html: str) -> bool:
    """Tokenize with regex and replay through p's handlers. Returns False
    (caller falls back to html.parser) if any '<' is not a clean tag,
    any tag fails _tag_needs_slow_path, or any cell tag's attrs are not
    cleanly tokenizable (_clean_attrs)."""
    pos = 0
    matches = list(_FAST_TAG.finditer(html))
    # every match consumes exactly one leading '<' (interior '<' can only
    # sit inside quoted attrs, where it still counts), so count equality
    # ⟺ every '<' is a clean tag start — same predicate as comparing the
    # position lists, without the per-character Python scan
    if html.count("<") != len(matches):
        return False  # some '<' is data or malformed — slow path decides
    for m in matches:
        if m.start() > pos:
            p.handle_data(html[pos:m.start()])
        pos = m.end()
        closing, name, attrs_s, selfclose = m.groups()
        if attrs_s and _tag_needs_slow_path(closing, attrs_s, selfclose):
            return False
        name = name.lower()
        if closing:
            p.handle_endtag(name)
        else:
            attrs = []
            if attrs_s and name in _CELL_TAGS:
                attrs = _clean_attrs(attrs_s)
                if attrs is None:
                    # caller constructs a fresh parser for the fallback,
                    # so the partial replay is discarded
                    return False
            p.handle_starttag(name, attrs)
            if selfclose:
                p.handle_endtag(name)
    if pos < len(html):
        p.handle_data(html[pos:])
    return True


def _parse_html(html: str) -> list[list[list[tuple[str, int, int, bool]]]]:
    if not _FAST_UNSAFE.search(html):
        p = _TableHTMLParser()
        if _fast_feed(p, html):
            p.close()
            return p.tables
    p = _TableHTMLParser()
    p.feed(html)
    p.close()
    return p.tables


def clean_cell_text(text: str | None) -> str:
    """TableExtraction::cleanCellText (TableExtraction.php:211-222)."""
    if text is None:
        return ""
    text = php_trim(collapse_ws(text, unicode=False))
    text = _CELL_NOISE.sub("", text)
    return text


def parse_html_table_first(html: str) -> dict | None:
    """DocParserJsonParser::parseHtmlTable (DocParserJsonParser.php:195-228).

    First <table> only; no colspan/rowspan handling; each cell is
    trim(preg_replace('/\\s+/u', ' ', textContent)); rows are ragged (not
    padded to maxCols).
    """
    if php_trim(html) == "":
        return None
    if _HAS_TABLE_RE.search(html) is None:
        return None
    tables = _parse_html(html)
    if not tables:
        return None
    rows = []
    for raw_row in tables[0]:
        cells = [php_trim(collapse_ws(t, unicode=True)) for (t, _c, _r, _h) in raw_row]
        if cells:
            rows.append(cells)
    return {
        "rows": rows,
        "maxCols": max((len(r) for r in rows), default=0),
        "rowCount": len(rows),
    }


_HAS_TABLE_RE = re.compile(r"<table", re.I)


def extract_html_tables(html: str) -> list[dict]:
    """TableExtraction::extractHtmlTables (TableExtraction.php:20-42)."""
    if php_trim(html) == "":
        return []
    # no '<table' substring ⇒ the tokenizer cannot open a table (both
    # tokenizers require a literal tag start) — skip the full-text parse
    if _HAS_TABLE_RE.search(html) is None:
        return []
    out = []
    for idx, raw in enumerate(_parse_html(html)):
        t = _parse_html_table_element(raw)
        if t["rows"]:
            t["index"] = idx
            out.append(t)
    return out


def _parse_html_table_element(raw_rows) -> dict:
    """TableExtraction::parseHtmlTableElement + processRowspans
    (TableExtraction.php:47-134)."""
    rows: list[list[dict]] = []
    max_cols = 0
    for raw_row in raw_rows:
        cells: list[dict] = []
        for (text, colspan, rowspan, is_th) in raw_row:
            txt = clean_cell_text(text)
            for i in range(colspan):
                cells.append({
                    "text": txt if i == 0 else "",
                    "rowspan": rowspan,
                    "colspan": colspan,
                    "isHeader": is_th,
                })
        if cells:
            rows.append(cells)
            max_cols = max(max_cols, len(cells))

    # processRowspans: copy spanning cells down into following rows.
    # span_tracker preserves insertion order (like the PHP array), and the
    # splice-insert happens in that order — a deliberate parity quirk.
    span_tracker: dict[int, dict] = {}
    for row in rows:
        for col in list(span_tracker.keys()):
            span = span_tracker[col]
            if span["remaining"] > 0:
                insert_at = min(col, len(row))
                row.insert(insert_at, {
                    "text": span["text"], "rowspan": 1, "colspan": 1,
                    "isHeader": False,
                })
                span_tracker[col]["remaining"] -= 1
        for col_idx, cell in enumerate(row):
            if cell.get("rowspan", 1) > 1:
                span_tracker[col_idx] = {
                    "text": cell["text"],
                    "remaining": cell["rowspan"] - 1,
                }

    # simplify: pad/truncate to maxCols (computed before rowspan processing)
    simple_rows = []
    for row in rows:
        simple_rows.append([
            row[i]["text"] if i < len(row) else "" for i in range(max_cols)
        ])
    return {
        "rows": simple_rows,
        "maxCols": max_cols,
        "rowCount": len(simple_rows),
    }


_MD_TABLE_RE = re.compile(
    r"(\|[^\n]+\|[\r\n]+\|[\-:\|\s]+\|[\r\n]+(?:\|[^\n]+\|[\r\n]*)+)",
    re.DOTALL | re.ASCII,
)
_MD_SEP_RE = re.compile(r"^\|[\-:\|\s]+\|$", re.ASCII)


def extract_markdown_tables(markdown: str) -> list[dict]:
    """TableExtraction::extractMarkdownTables (TableExtraction.php:142-162)."""
    tables = []
    for idx, m in enumerate(_MD_TABLE_RE.findall(markdown)):
        t = parse_markdown_table(m)
        if t["rows"]:
            t["index"] = idx
            tables.append(t)
    return tables


def parse_markdown_table(table_text: str) -> dict:
    """TableExtraction::parseMarkdownTable (TableExtraction.php:167-206)."""
    rows = []
    for line in php_trim(table_text).split("\n"):
        line = php_trim(line)
        if line == "":
            continue
        if _MD_SEP_RE.match(line):
            continue
        cells: list[str] = []
        for part in line.split("|"):
            part = php_trim(part)
            if part != "" or len(cells) > 0:
                cells.append(clean_cell_text(part))
        if cells and cells[0] == "":
            cells.pop(0)
        if cells and cells[-1] == "":
            cells.pop()
        if cells:
            rows.append(cells)
    return {
        "rows": rows,
        "maxCols": max((len(r) for r in rows), default=0),
        "rowCount": len(rows),
    }
