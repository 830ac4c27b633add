"""Property-based tests (hypothesis) for the extraction kernels —
SURVEY §5's property list: invariants that must hold for ANY input, not
just the golden fixtures. Pure Python, no SparkSession."""

import math
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_spark.kernels import parsers as P
from ocr_spark.kernels.dates import normalize_date, normalize_date_string
from ocr_spark.kernels.php import (clean_string, php_is_numeric, php_round,
                                   php_strip_tags, php_trim)
from ocr_spark.kernels.textitems import deduplicate_items

# text that never blows up a kernel
any_text = st.text(max_size=400)
money = st.floats(min_value=0, max_value=1e7, allow_nan=False,
                  allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_extract_turn_total_crashes_never(text):
    """Any payload, any of the three ext routes: no exception, and the
    engine invariants hold (calc_total == round(sum items, 2); qty > 0)."""
    for ext in ("json", "md", "txt"):
        res = P.extract_turn(ext, f"f.{ext}", text)
        for inv in res["invoices"]:
            calc = php_round(sum(it["total"] for it in inv["items"]), 2)
            assert inv["calc_total"] == calc
            for it in inv["items"]:
                assert it["qty"] > 0
        for (field, start, end) in res["spans"]:
            assert 0 <= start <= end, f"span out of order for {field}"


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_clean_string_idempotent_and_collapsed(s):
    c = clean_string(s)
    assert clean_string(c) == c, "clean is idempotent"
    assert "  " not in c
    # PHP trim semantics, not Python's: \x1f is Python-whitespace but NOT
    # PHP-whitespace, and the kernel must match PHP
    assert c == php_trim(c)


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_strip_tags_removes_all_tags(s):
    out = php_strip_tags(s)
    assert php_strip_tags(out) == out, "strip is idempotent"


@settings(max_examples=200, deadline=None)
@given(st.lists(st.fixed_dictionaries({
    "name": st.sampled_from(["a", "b", "A", " a "]),
    "qty": st.sampled_from([1.0, 2.0]),
    "total": st.sampled_from([1.0, 2.0]),
    "code": st.just(""), "description": st.just(""),
    "unit": st.just(""), "unit_price": st.just(0.0),
    "metadata": st.just({}),
}), max_size=8))
def test_dedup_idempotent_and_first_wins(items):
    once = deduplicate_items(list(items))
    twice = deduplicate_items(list(once))
    assert once == twice, "dedup is idempotent"
    # first occurrence of each key is preserved in order; the reference
    # keys on lower(name) WITHOUT trimming (TextBlockParsing.php:436) so
    # ' a ' and 'a' are distinct — the model must match that
    def key(it):
        return (it["name"].lower(), it["qty"], it["total"])
    seen = set()
    expect = []
    for it in items:
        if key(it) not in seen:
            seen.add(key(it))
            expect.append(it)
    assert [key(i) for i in once] == [key(i) for i in expect]


@settings(max_examples=300, deadline=None)
@given(st.dates(min_value=__import__("datetime").date(1000, 1, 2)))
def test_normalize_date_roundtrip(d):
    """Any real date (year >= 1000 — PHP's Y format, like strftime %Y,
    does not zero-pad earlier years) serialized in any supported format
    normalizes to ISO YYYY-MM-DD."""
    iso = d.isoformat()
    assert normalize_date(iso) == iso
    assert normalize_date(d.strftime("%Y/%m/%d")) == iso


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_normalize_date_never_crashes(s):
    out = normalize_date(s)
    assert out is None or re.fullmatch(r"\d{4}-\d{2}-\d{2}", out)
    out2 = normalize_date_string(s)
    assert out2 is None or re.fullmatch(r"\d{4}-\d{2}-\d{2}", out2)


@settings(max_examples=500, deadline=None)
@given(money, st.integers(min_value=0, max_value=4))
def test_php_round_half_away_from_zero(x, p):
    r = php_round(x, p)
    scaled = x * (10 ** p)
    # exact half-values must round AWAY from zero (PHP), not to even
    if abs(scaled - math.floor(scaled) - 0.5) < 1e-12:
        assert r >= x or math.isclose(r, x)
    assert abs(r - x) <= 0.5 / (10 ** p) + 1e-9


@settings(max_examples=200, deadline=None)
@given(money, money)
def test_tolerance_gate_monotone(decl, calc):
    """The importer gate (abs 0.05 OR rel 2%) is monotone: shrinking the
    difference never flips pass → fail (PurchaseImporter.php:58-70)."""
    def gate(d, c):
        if d == 0:
            return True
        diff = abs(d - c)
        rel = diff / abs(d)
        return not (diff > 0.05 and rel > 0.02)

    if gate(decl, calc):
        closer = calc + (decl - calc) * 0.5
        assert gate(decl, closer), "halving the gap must still pass"


@settings(max_examples=300, deadline=None)
@given(any_text)
def test_php_is_numeric_matches_float_parse(s):
    if php_is_numeric(s):
        float(s.strip())  # must not raise on the stripped value


# -- differential fuzz: fast HTML tokenizer vs html.parser ------------------

_tag_bits = st.sampled_from([
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
    "<td colspan=\"2\">", "<td rowspan='3'>", "<td colspan=2 rowspan=2>",
    "<br/>", "<b>", "</b>", "<thead>", "</thead>", "cell text", " 123 ",
    "名 稱", "|", "x<y", "&amp;", "<!-- c -->", "<TD>", "</TD>",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_tag_bits, max_size=30))
# html.parser glues a self-closing '/' into a trailing unquoted value and
# cuts an end tag at its first '>' even inside quotes: both bail via
# tables._tag_needs_slow_path
@example(bits=["<table><tr>", "<td colspan=2/>x</td>", "</tr></table>"])
@example(bits=["<table><tr><td>", "<div a=b/>x</div>", "</td></tr></table>"])
@example(bits=["<table><tr><td>", '</p a="x>y">', "</td></tr></table>"])
def test_fast_html_tokenizer_matches_htmlparser(bits):
    """The regex fast path must produce byte-identical tables to the
    html.parser path — on EVERY input: when the gate rejects, fallback is
    automatic, so the public function must never differ from a forced
    slow parse."""
    from ocr_spark.kernels import tables as T
    html = "".join(bits)
    fast = T._parse_html(html)
    slow_p = T._TableHTMLParser()
    slow_p.feed(html)
    slow_p.close()
    assert fast == slow_p.tables


# -- fuzz: readability kernel total robustness + span validity --------------

_html_bits = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<a href='/x'>", "</a>", "<ul>",
    "</ul>", "<li>", "</li>", "<nav>", "</nav>", "<br>", "<span>",
    "</span>", '<div class="content">', '<div class="sidebar">',
    "<script>", "</script>", "<h1>", "</h1>", "plain words here, padded",
    "short", "&amp;", "&#65;", "<!-- c -->", "<", ">", "(", "名 稱",
    "a long enough sentence fragment, with commas, to vote for parents",
])


@settings(max_examples=250, deadline=None)
@given(st.lists(_html_bits, max_size=40))
def test_readability_never_crashes_and_spans_valid(bits):
    """Junk HTML must never crash the boilerplate stripper (a 100 TB run
    WILL feed it garbage), and every emitted span must slice the raw
    payload to a non-blank string — the offsets contract."""
    from ocr_spark.kernels.readability import extract_main_content
    html = "".join(bits)
    r = extract_main_content(html)
    assert isinstance(r["text"], str)
    for field, s, e in r["spans"]:
        assert field == "content"
        assert 0 <= s < e <= len(html)
        assert html[s:e].strip() != "" or "&" in html[s:e]


@settings(max_examples=300, deadline=None)
@given(st.lists(_html_bits, max_size=40))
# fuzz-found counterexamples, pinned in code (not just the local DB):
# attrfind_tolerant keeps ',' inside unquoted attr names where the fast
# name class stops — and `=+` keeps consuming doubled equals. Both must
# now bail to the slow path via tables._clean_attrs.
@example(bits=["<", "plain words here, padded", ">"])
@example(bits=["<a == 'x'>"])
@example(bits=["<a =x>"])
@example(bits=["<div a/ b=1>x</div>"])
# self-closing '/' glued into an unquoted value; quoted '>' in an end tag
@example(bits=["<td colspan=2/>x</td>"])
@example(bits=["<div a=b/>x</div>"])
@example(bits=['<p>a</p a="x>y">b'])
def test_fast_tree_feed_matches_htmlparser(bits):
    """The regex fast path for the readability tree builder must produce
    an IDENTICAL tree (tags, attrs, text runs with raw offsets) to a
    forced html.parser parse — on every input: when the gate rejects,
    fallback is automatic, so feed_document must never differ."""
    from ocr_spark.kernels import readability as R
    html = "".join(bits)

    def flat(tree):
        out = []
        for n in R._walk(tree.root):
            out.append((n.tag, sorted(n.attrs.items()), n.order,
                        n.parent.order if n.parent else None, n.texts))
        return out

    fast_tree = R._TreeBuilder()
    fast_tree.feed_document(html)
    slow_tree = R._TreeBuilder()
    slow_tree._raw = html
    starts, pos = [0], 0
    while True:
        nl = html.find("\n", pos)
        if nl < 0:
            break
        starts.append(nl + 1)
        pos = nl + 1
    slow_tree._line_starts = starts
    slow_tree.feed(html)
    slow_tree.close()
    assert flat(fast_tree) == flat(slow_tree)


_stat_bits = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<a href='/x'>", "</a>", "<span>",
    "</span>", "words, here", " \t\n", "&amp;", "&#32;", "&nbsp;", "x",
    "\x0c", "\x0b", ",", "，", "名", "   ", "a longer, comma-bearing "
    "sentence fragment used to exercise every whitespace boundary case",
])


@settings(max_examples=250, deadline=None)
@given(st.lists(_stat_bits, max_size=30))
def test_readability_stats_match_naive_fold(bits):
    """The O(N) bottom-up monoid stats (_annotate) must agree with the
    naive subtree-concatenation they replace — for EVERY node: display
    length len(php_trim(collapse_ws(text))), comma count, and the
    per-anchor trimmed link length sum. Scoring identity follows."""
    from ocr_spark.kernels.php import collapse_ws, php_trim
    from ocr_spark.kernels.readability import (
        _annotate, _disp_len, _link_len_of, _text_of, _TreeBuilder, _walk)
    html = "".join(bits)
    tree = _TreeBuilder()
    tree.feed_document(html)
    _annotate(tree.root)
    for node in _walk(tree.root):
        naive = php_trim(collapse_ws(_text_of(node)))
        assert _disp_len(node.disp) == len(naive), (node.tag, naive)
        assert node.commas == naive.count(",") + naive.count("，")
        assert node.link_acc == _link_len_of(node), (node.tag, naive)


# -- fuzz: pdf kernel total robustness --------------------------------------

_pdf_bits = st.sampled_from([
    "stream\n", "\nendstream", "BT ", "ET ", "(text) Tj ", "72 720 Td ",
    "0 -14 TD ", "/F1 12 Tf ", "[(a) -40 (b)] TJ ", "T* ", "' ",
    "(unclosed ", "<48656C> Tj ", "<48656", "1 0 0 1 50 700 Tm ",
    "garbage )))", "\\(esc\\) ", "(octal \\101) Tj ", "%PDF-1.4\n",
    "14 TL ", "%%EOF", "\x00\x01\xff", "(名稱) Tj ",
])


@settings(max_examples=250, deadline=None)
@given(st.lists(_pdf_bits, max_size=40))
def test_pdf_extractor_never_crashes(bits):
    """Arbitrary byte soup — truncated strings, bad hex, stray operators,
    binary — must never crash the PDF extractor; spans must index the
    raw payload."""
    from ocr_spark.kernels.pdftext import extract_pdf_layout
    payload = "".join(bits)
    r = extract_pdf_layout(payload)
    assert isinstance(r["text"], str)
    raw = payload.encode("latin-1", "replace")
    for field, s, e in r["spans"]:
        assert field == "content"
        assert 0 <= s < e <= len(raw)


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_llm_reply_cascade_never_crashes(s):
    """The T26 cascade must accept arbitrary reply text."""
    from ocr_spark.kernels.llmreply import extract_json_from_reply
    extract_json_from_reply(s)
