"""Unit tests for the pure-Python extraction kernels (no Spark).

Covers PHP-primitive parity (rounding, casts, strip_tags), table parsing
(HTML colspan/rowspan, markdown), field mapping, and free-text extraction —
each against hand-computed expectations derived from the reference sources
(file:line citations in the kernel docstrings).
"""

import pytest

from ocr_spark.kernels import dates as D
from ocr_spark.kernels import fields as F
from ocr_spark.kernels import items as I
from ocr_spark.kernels import php as P
from ocr_spark.kernels import tables as T
from ocr_spark.kernels import textitems as X


class TestPhpPrimitives:
    def test_round_half_away_from_zero(self):
        assert P.php_round(2.5) == 3
        assert P.php_round(-2.5) == -3
        assert P.php_round(2.675, 2) == 2.68  # repr pre-rounding, not banker's
        assert P.php_round(1.005, 2) == 1.01
        assert P.php_round(0.125, 2) == 0.13
        assert P.php_round(1234.5678, 2) == 1234.57
        assert P.php_round(1.00005, 4) == 1.0001

    def test_round_fast_path_matches_decimal_semantics(self):
        """php_round's guarded binary fast path must be byte-identical to
        the Decimal(repr).quantize(HALF_UP) definition everywhere —
        including half-cent boundaries, the guard band, negative values,
        and magnitudes beyond the 1e12 fast-path cap."""
        import random
        from decimal import ROUND_HALF_UP, Decimal

        def slow(x, p):
            q = Decimal(1).scaleb(-p)
            return float(Decimal(repr(float(x))).quantize(
                q, rounding=ROUND_HALF_UP))

        rng = random.Random(7)
        for _ in range(20000):
            p = rng.randint(0, 6)
            kind = rng.random()
            if kind < 0.4:
                x = rng.randint(-10 ** 6, 10 ** 6) / 100 + rng.choice(
                    [0, 0.005, -0.005, 0.0049999, 0.0050001, 0.00499,
                     0.00501])
            elif kind < 0.7:
                x = round(rng.uniform(-1000, 1000), rng.randint(0, 8))
            elif kind < 0.9:
                x = rng.uniform(-1e9, 1e9)
            else:
                x = rng.uniform(-1e15, 1e15)  # beyond the fast-path cap
            assert P.php_round(x, p) == slow(x, p), (x, p)

    def test_float_cast_prefix(self):
        assert P.php_float("1.2.3") == 1.2
        assert P.php_float("12abc") == 12.0
        assert P.php_float(".") == 0.0
        assert P.php_float("") == 0.0
        assert P.php_float("-3.5x") == -3.5
        assert P.php_float("  7") == 7.0

    def test_is_numeric(self):
        assert P.php_is_numeric("12.5")
        assert P.php_is_numeric(" 12.5 ")
        assert P.php_is_numeric("1e3")
        assert not P.php_is_numeric("12abc")
        assert not P.php_is_numeric("")
        assert not P.php_is_numeric("1,000")

    def test_strip_tags(self):
        assert P.php_strip_tags("<b>a</b>b") == "ab"
        assert P.php_strip_tags("a<br>b") == "ab"  # no space inserted
        assert P.php_strip_tags("x<!-- c -->y") == "xy"
        assert P.php_strip_tags("keep <unclosed") == "keep "

    def test_clean_string(self):
        assert P.clean_string("  a \t\n b ") == "a b"
        assert P.clean_string(None) == ""

    def test_number_str(self):
        assert P.php_number_str(2.0) == "2"
        assert P.php_number_str(2.5) == "2.5"

    def test_strlen_bytes(self):
        assert P.php_strlen("abc") == 3
        assert P.php_strlen("中文") == 6


class TestDates:
    def test_normalize_date(self):
        assert D.normalize_date("2025-01-10") == "2025-01-10"
        assert D.normalize_date("2025/1/10") == "2025-01-10"
        assert D.normalize_date("10-01-2025") == "2025-01-10"  # d-m-Y first
        assert D.normalize_date("14 Jan 2025") == "2025-01-14"  # strtotime tail
        assert D.normalize_date("garbage") is None
        assert D.normalize_date(None) is None
        assert D.normalize_date("") is None
        assert D.normalize_date("0") is None  # PHP empty('0')

    def test_php_wrap(self):
        # createFromFormat wraps out-of-range like mktime
        assert D.normalize_date("2025/13/45") == "2026-02-14"

    def test_normalize_date_string_disambiguation(self):
        assert D.normalize_date_string("2025-01-10") == "2025-01-10"
        assert D.normalize_date_string("25/12/2025") == "2025-12-25"  # >12 ⇒ DD-MM
        assert D.normalize_date_string("01/02/2025") == "2025-01-02"  # ⇒ MM-DD (US)
        assert D.normalize_date_string("1-2") is None


class TestTables:
    HTML = ("<table><tr><td>序号</td><td>名称</td><td>数量</td><td>金额</td></tr>"
            "<tr><td>1</td><td>女包</td><td>4</td><td>580</td></tr>"
            "<tr><td>合计</td><td></td><td>4</td><td>580</td></tr></table>")

    def test_first_table_variant(self):
        t = T.parse_html_table_first(self.HTML + "<table><tr><td>x</td></tr></table>")
        assert t["rowCount"] == 3
        assert t["rows"][0] == ["序号", "名称", "数量", "金额"]
        assert t["rows"][1] == ["1", "女包", "4", "580"]

    def test_all_tables_variant(self):
        ts = T.extract_html_tables(self.HTML + "<table><tr><td>x</td></tr></table>")
        assert len(ts) == 2
        assert ts[0]["maxCols"] == 4

    def test_colspan_fill(self):
        html = ("<table><tr><td colspan=2>A</td><td>B</td></tr>"
                "<tr><td>1</td><td>2</td><td>3</td></tr></table>")
        t = T.extract_html_tables(html)[0]
        # first colspan cell gets the text, fillers empty
        assert t["rows"][0] == ["A", "", "B"]
        assert t["rows"][1] == ["1", "2", "3"]

    def test_rowspan_copy_down(self):
        html = ("<table><tr><td rowspan=2>A</td><td>B</td></tr>"
                "<tr><td>C</td></tr></table>")
        t = T.extract_html_tables(html)[0]
        assert t["rows"][0] == ["A", "B"]
        assert t["rows"][1] == ["A", "C"]

    def test_entity_decode_and_ws(self):
        html = "<table><tr><td> a &amp;  b </td></tr></table>"
        t = T.extract_html_tables(html)[0]
        assert t["rows"][0] == ["a & b"]

    def test_markdown_table(self):
        md = "| a | b |\n|---|---|\n| 1 | 2 |\n| 3 | 4 |\n"
        ts = T.extract_markdown_tables(md)
        assert len(ts) == 1
        assert ts[0]["rows"] == [["a", "b"], ["1", "2"], ["3", "4"]]

    def test_markdown_table_spaced_separator(self):
        md = "| a | b |\n| --- | --- |\n| 1 | 2 |\n"
        ts = T.extract_markdown_tables(md)
        assert ts and ts[0]["rows"][0] == ["a", "b"]

    def test_clean_cell_text_ocr_noise(self):
        assert T.clean_cell_text("---") == ""
        assert T.clean_cell_text("|+|") == ""
        assert T.clean_cell_text(" a  b ") == "a b"


class TestFieldMapping:
    def test_exact_patterns(self):
        assert F.smart_map_column("Qty") == "qty"
        assert F.smart_map_column("数量") == "qty"
        assert F.smart_map_column("單價") == "unit_price"
        assert F.smart_map_column("金額") == "total"
        assert F.smart_map_column("款号") == "code"
        assert F.smart_map_column("序号") == "seq"

    def test_amount_maps_to_qty_first(self):
        # 'amount' appears in the qty pattern list, which is iterated before
        # total — a load-bearing reference quirk (SmartFieldMapping.php:44)
        assert F.smart_map_column("Amount") == "qty"

    def test_fuzzy(self):
        # fuzzy iterates code→name→… but '商品代码xyz' hits name's '品' key
        # only ('编' absent, '码'/'代' unkeyed) — reference order preserved
        assert F.smart_map_column("商品代码xyz") == "name"
        assert F.smart_map_column("编号xyz") == "code"
        assert F.smart_map_column("Code No.") == "code"

    def test_header_row_en_invoice(self):
        # the 供應商發票1 golden header: Amount must fall to total positionally
        headers = ["Code No.", "Description", "Quantity", "Unit Price", "Amount"]
        m = F.map_header_row(headers)
        assert m["code"] == 0 and m["name"] == 1 and m["qty"] == 2
        assert m["unit_price"] == 3 and m["total"] == 4

    def test_header_row_cjk(self):
        headers = ["序号", "款号", "名称", "颜色", "尺码", "数量", "单价", "金额", "备注"]
        m = F.map_header_row(headers)
        assert m == {"seq": 0, "code": 1, "name": 2, "color": 3, "size": 4,
                     "qty": 5, "unit_price": 6, "total": 7, "remark": 8}

    def test_positional_fallback(self):
        m = F.map_header_row(["货品", "", "", ""])
        assert m["name"] == 0
        assert m["qty"] == 1 and m["unit_price"] == 2 and m["total"] == 3


class TestItems:
    def test_parse_number(self):
        assert I.parse_number("¥1,234.50") == 1234.5
        assert I.parse_number("$ 99") == 99.0
        assert I.parse_number("") == 0.0
        assert I.parse_number("HK$1,000") == 1000.0

    def test_skip_summary_row(self):
        cm = {"code": 0, "name": 1, "qty": 2, "total": 3}
        assert I.extract_item_from_row(["合计", "", "4", "580"], cm) is None
        assert I.extract_item_from_row(["", "Total", "4", "580"], cm) is None

    def test_imputation_qty_from_total(self):
        cm = {"name": 0, "unit_price": 1, "total": 2}
        item = I.extract_item_from_row(["thing", "145", "580"], cm)
        assert item["qty"] == 4  # 580/145 = 4.0 → rounded to int
        assert item["unit_price"] == 145

    def test_composite_name(self):
        cm = {"code": 0, "name": 1, "color": 2, "size": 3, "qty": 4,
              "unit_price": 5, "total": 6}
        item = I.extract_item_from_row(
            ["os838", "头层牛皮女包", "黑色", "个", "4", "145", "580"], cm)
        assert item["name"] == "头层牛皮女包 - 黑色 [个]"
        assert item["metadata"] == {"color": "黑色", "size": "个", "remark": ""}

    def test_scoring_threshold(self):
        good = {"rows": [["名称", "数量", "单价", "金额"], ["包", "4", "145", "580"]]}
        bad = {"rows": [["a", "b"], ["c", "d"]]}
        assert I.score_table_as_invoice_items(good) >= 0.3
        assert I.select_best_invoice_table([bad]) is None
        assert I.pick_best_table([bad]) is bad  # DocParser variant: no threshold


class TestTextItems:
    def test_multiplication(self):
        items = X.parse_multiplication_format("Paint x2 @45")
        assert items[0]["name"] == "Paint" and items[0]["total"] == 90.0

    def test_line_format_sanity_gate(self):
        # one-number lines never pass the 10% sanity check (qty*0 != total)
        assert X.parse_line_format("Delivery 25") == []
        items = X.parse_line_format("Widget 2 10.50 21.00")
        assert items and items[0]["qty"] == 2

    def test_list_format(self):
        items = X.parse_list_format("- Delivery fee - $25")
        assert items[0]["name"] == "Delivery fee" and items[0]["total"] == 25.0

    def test_dedup_first_wins(self):
        a = {"name": "X", "qty": 2.0, "total": 90.0, "metadata": {"m": "1"}}
        b = {"name": "x", "qty": 2, "total": 90, "metadata": {"m": "2"}}
        out = X.deduplicate_items([a, b])
        assert out == [a]  # case-insensitive, 2.0 == '2' via PHP float→str

    def test_declared_total_last_wins(self):
        text = "subtotal: 100\ntotal: 120\ngrand total: 151"
        assert X.extract_declared_total(text) == 151.0

    def test_currency_usd_not_hk(self):
        assert X.detect_currency("price $100") == "USD"
        assert X.detect_currency("price hk$100") == "HKD"
        assert X.detect_currency("¥100") == "CNY"

    def test_date_cjk(self):
        assert X.extract_invoice_date("2025年1月9日") == "2025-01-09"

    def test_supplier_cleanup(self):
        assert X.extract_supplier_name("供應商：ACME Ltd") == "ACME Ltd"
        # fallback requires a company suffix
        assert X.extract_supplier_name("short line here ok") == ""
        assert X.extract_supplier_name("City Hardware Co. Ltd") == "City Hardware Co. Ltd"


class TestT26LlmReplyCascade:
    """T26 (LlmAssistedParser.php:306-345): JSON-from-reply cascade."""

    def _x(self, reply):
        from ocr_spark.kernels.llmreply import extract_json_from_reply
        return extract_json_from_reply(reply)

    def test_direct_parse(self):
        assert self._x('{"a": 1}') == {"a": 1}
        assert self._x('[1, 2]') == [1, 2]

    def test_scalar_stops_cascade(self):
        # PHP json_decode('"42"') succeeds with a scalar, so the fence /
        # brace stages never run — even if the reply contains one
        assert self._x('42') == 42

    def test_fenced_block(self):
        assert self._x('Sure!\n```json\n{"a": 2}\n```\ndone') == {"a": 2}
        assert self._x('```\n{"a": 3}\n```') == {"a": 3}  # bare fence

    def test_greedy_brace(self):
        assert self._x('The result is {"a": 4} ok') == {"a": 4}
        # greedy: first '{' to LAST '}' — matches the reference regex,
        # so trailing junk containing '}' breaks the parse
        assert self._x('x {"a": 5} y {"b"} z') is None

    def test_no_json(self):
        assert self._x('no json here, sorry') is None
        assert self._x('null') is None  # literal null continues and fails

    def test_fence_wins_over_brace(self):
        got = self._x('{"broken": \n```json\n{"a": 6}\n```')
        assert got == {"a": 6}

    def test_php_cast_semantics(self):
        """PHP cast parity pins: (float)false = 0.0, the (float) cast
        reads a numeric prefix, and the (string) cast keeps numeric 0 as
        '0'."""
        from ocr_spark.kernels.php import php_floatval, php_str
        assert php_floatval(False) == 0.0
        assert php_floatval(True) == 1.0
        assert php_floatval("12.50 USD") == 12.5
        assert php_floatval("n/a") == 0.0
        assert (php_str(0), php_str(2.0), php_str(False), php_str(None),
                php_str(True)) == ("0", "2", "", "", "1")

    def test_messy_numeric_fields_never_crash(self):
        """A single item with non-numeric qty must degrade like PHP's
        (float) cast, not raise and kill the Arrow batch."""
        from ocr_spark.kernels.parsers import normalize_item
        it = normalize_item({"name": "x", "qty": "2 pcs",
                             "unit_price": "1.5ish", "total": None})
        assert (it["qty"], it["unit_price"], it["total"]) == (2.0, 1.5, 3.0)

    def test_json_constants_and_assoc_items(self):
        """PHP json_decode rejects bare Infinity/NaN (the cascade moves
        on), and non-finite floats render PHP's INF/NAN instead of
        raising."""
        from ocr_spark.kernels.parsers import decode_json, normalize_item
        from ocr_spark.kernels.php import php_number_str, php_str
        assert decode_json('{"a": Infinity}') is None
        assert decode_json('{"declared_total": NaN}') is None
        assert self._x('{"declared_total": NaN}') is None
        # inf can still arrive via (float)'1e999' — must not crash
        it = normalize_item({"name": "x", "code": float("inf"),
                             "qty": "1e999"})
        assert it["code"] == "INF"
        assert (php_str(float("nan")), php_str(-0.0)) == ("NAN", "-0")
        assert php_number_str(1.5e-7) == "1.5E-7"
        assert php_number_str(1e20) == "1.0E+20"


class TestReadability:
    """North-star boilerplate strip (kernels/readability.py): Arc90-style
    text-density + link-density scoring over generic HTML pages."""

    PAGE = (
        '<html><head><title>T</title><style>p{color:red}</style>'
        '<script>var x=1;</script></head><body>\n'
        '<nav class="nav"><a href="/">Home</a> <a href="/x">About</a> '
        '<a href="/y">Contact</a></nav>\n'
        '<div class="sidebar"><ul><li><a href="/1">Link one here</a></li>'
        '<li><a href="/2">Link two there</a></li></ul></div>\n'
        '<div class="content" id="main">\n<h1>The Article Title</h1>\n'
        '<p>This is the first paragraph of the actual article, with enough '
        'commas, text, and length to vote properly.</p>\n'
        '<p>The second paragraph continues the main content, adding more '
        'prose so the density score rises again.</p>\n</div>\n'
        '<footer class="footer">Copyright 2026 Example Corp. All rights '
        'reserved. Terms. Privacy.</footer>\n</body></html>')

    def _x(self, html):
        from ocr_spark.kernels.readability import extract_main_content
        return extract_main_content(html)

    def test_strips_boilerplate(self):
        r = self._x(self.PAGE)
        assert r["tag"] == "div"
        assert r["text"].startswith("The Article Title This is the first")
        for junk in ("Home", "About", "Link one", "Copyright", "var x"):
            assert junk not in r["text"]

    def test_spans_index_raw_html(self):
        """Every span must slice the RAW payload back to the text run the
        clean text was built from (the north_rule offsets contract)."""
        r = self._x(self.PAGE)
        assert len(r["spans"]) == 3  # h1 + two <p>
        joined = " ".join(self.PAGE[s:e].strip() for (_, s, e) in r["spans"])
        import re
        assert re.sub(r"\s+", " ", joined) == r["text"]

    def test_link_density_demotes(self):
        """A link-farm div with MORE text than the article must still lose:
        its link density zeroes the score."""
        links = "".join(
            f'<p><a href="/{i}">This is a long spammy link row number {i}, '
            f'with commas, filler text</a></p>' for i in range(8))
        page = (f'<html><body><div class="wrap">{links}</div>'
                '<div><p>Short real article paragraph, just long enough to '
                'vote, with text.</p></div></body></html>')
        r = self._x(page)
        assert r["text"].startswith("Short real article")

    def test_class_hints(self):
        """±25 class/id weights: identical structure, the 'content' id
        beats the 'comment' class."""
        p = ('<p>Equal paragraph content with enough words, commas, and '
             'length to vote for its parent.</p>')
        page = (f'<html><body><div class="comment">{p}</div>'
                f'<div id="content">{p}</div></body></html>')
        r = self._x(page)
        assert r["tag"] == "div"
        assert r["score"] > 25  # the +25 id bonus decided it

    def test_fallback_whole_document(self):
        """No paragraph votes → whole-document fallback (strip-tags
        equivalent), never an empty result."""
        r = self._x("<html><body><span>tiny</span></body></html>")
        assert r["text"] == "tiny"

    def test_entity_spans(self):
        page = ('<html><body><div><p>Ampersand &amp; entity paragraph, '
                'padded with plenty of words, commas, to vote.</p></div>'
                '</body></html>')
        r = self._x(page)
        assert "Ampersand & entity" in r["text"]
        # the entity's span covers its raw '&amp;' source
        raws = [page[s:e] for (_, s, e) in r["spans"]]
        assert "&amp;" in raws

    def test_detection_routes_html(self):
        from ocr_spark.kernels.parsers import detect_parser
        pid, conf, _ = detect_parser("html", self.PAGE)
        assert pid == "readability_html" and conf >= 0.3
        # invoice payloads keep their parsers
        pid2, _, _ = detect_parser("md", "| a | b |\n|---|---|\n| 1 | 2 |\n"
                                   "invoice no: X\n合计：10.00")
        assert pid2 != "readability_html"

    def test_extract_turn_html_kind(self):
        from ocr_spark.kernels.parsers import extract_turn
        res = extract_turn("html", "c_1.html", self.PAGE)
        assert res["source_kind"] == "readability_html"
        assert res["invoices"] == []
        assert res["clean_text"].startswith("The Article Title")
        assert all(f == "content" for (f, _, _) in res["spans"])

    def test_deep_nesting_no_recursion_error(self):
        """2000-deep nested divs (adversarial but real in scraped HTML)
        must not blow Python's recursion limit — a RecursionError here
        kills the whole Arrow batch, not one row."""
        n = 2000
        page = ("".join(
            f'<div class="c{i}"><p>Deep paragraph, with commas, and '
            'enough filler text to clear the voting bar.</p>'
            for i in range(n)) + "</div>" * n)
        r = self._x(page)
        assert r["tag"] == "div"
        assert "Deep paragraph" in r["text"]


class TestPdfLayout:
    """North-star PDF byte-stream extraction (kernels/pdftext.py):
    block/line/span reconstruction from content-stream geometry."""

    def _pdf(self, content: bytes) -> bytes:
        return (b'%PDF-1.4\n1 0 obj << >> endobj\n4 0 obj '
                b'<< /Length 0 >> stream\n' + content +
                b'\nendstream endobj\n%%EOF')

    def _x(self, content: bytes):
        from ocr_spark.kernels.pdftext import extract_pdf_layout
        return extract_pdf_layout(self._pdf(content))

    def test_blocks_lines_spans(self):
        r = self._x(b'BT /F1 16 Tf 72 720 Td (Title Line) Tj ET\n'
                    b'BT /F1 12 Tf 72 690 Td (Body one.) Tj '
                    b'0 -14 TD (Body two.) Tj ET')
        assert r["text"] == "Title Line\n\nBody one.\nBody two."
        assert len(r["blocks"]) == 2
        assert len(r["blocks"][1]["lines"]) == 2

    def test_same_baseline_spans_order_by_x(self):
        r = self._x(b'BT /F1 12 Tf 200 700 Td (right) Tj ET\n'
                    b'BT /F1 12 Tf 72 700 Td (left) Tj ET')
        assert r["text"] == "left right"
        assert len(r["blocks"]) == 1

    def test_tj_array_and_tm(self):
        r = self._x(b'BT /F1 12 Tf 1 0 0 1 72 700 Tm '
                    b'[(Ker) -40 (ned)] TJ ET')
        assert r["text"] == "Ker ned"

    def test_string_escapes_octal_hex(self):
        r = self._x(rb'BT /F1 12 Tf 72 700 Td (paren \( and \) plus \101) Tj'
                    rb' 0 -14 TD <48656C6C6F> Tj ET')
        assert "paren ( and ) plus A" in r["text"]
        assert "Hello" in r["text"]

    def test_flate_stream_decodes(self):
        import zlib
        content = b'BT /F1 12 Tf 72 700 Td (compressed body text) Tj ET'
        pdf = (b'%PDF-1.4\nstream\n' + zlib.compress(content) +
               b'\nendstream\n%%EOF')
        from ocr_spark.kernels.pdftext import extract_pdf_layout
        r = extract_pdf_layout(pdf)
        assert r["text"] == "compressed body text"
        assert r["spans"] == []  # raw offsets don't exist for inflate

    def test_spans_index_raw_payload(self):
        content = (b'BT /F1 16 Tf 72 720 Td (First shown) Tj ET\n'
                   b'BT /F1 12 Tf 72 600 Td (Second shown) Tj ET')
        pdf = self._pdf(content)
        from ocr_spark.kernels.pdftext import extract_pdf_layout
        r = extract_pdf_layout(pdf)
        raws = [pdf[s:e] for (_, s, e) in r["spans"]]
        assert raws == [b'(First shown)', b'(Second shown)']

    def test_prime_op_advances_line(self):
        r = self._x(b"BT /F1 12 Tf 14 TL 72 700 Td (one) Tj (two) ' ET")
        assert r["text"] == "one\ntwo"

    def test_detection_and_extract_turn(self):
        from ocr_spark.kernels.parsers import detect_parser, extract_turn
        payload = self._pdf(
            b'BT /F1 12 Tf 72 700 Td (hello pdf world) Tj ET'
        ).decode("latin-1")
        pid, conf, _ = detect_parser("pdf", payload)
        assert pid == "pdf_layout" and conf >= 0.3
        res = extract_turn("pdf", "c_1.pdf", payload)
        assert res["source_kind"] == "pdf_layout"
        assert res["clean_text"] == "hello pdf world"
        assert res["invoices"] == []
        assert all(f == "content" for (f, _, _) in res["spans"])

    def test_multipage_streams_do_not_interleave(self):
        """Two content streams = two pages: identical baselines must NOT
        merge across pages; page texts concatenate in stream order."""
        from ocr_spark.kernels.pdftext import extract_pdf_layout
        p1 = b'BT /F1 12 Tf 72 700 Td (Page one line.) Tj ET'
        p2 = b'BT /F1 12 Tf 72 700 Td (Page two line.) Tj ET'
        pdf = (b'%PDF-1.4\n4 0 obj stream\n' + p1 +
               b'\nendstream endobj\n5 0 obj stream\n' + p2 +
               b'\nendstream endobj\n%%EOF')
        r = extract_pdf_layout(pdf)
        assert r["text"] == "Page one line.\n\nPage two line."
        assert len(r["blocks"]) == 2
