"""Arc90/readability-style main-content extraction for generic HTML payloads.

The north-star surface (BASELINE.json north_star): strip boilerplate from
HTML turn payloads via text-density + link-density scoring over a
lightweight tag tree, emitting cleaned main-content text plus character
span offsets into the RAW payload. The reference repo has no HTML-page
parser (its four payload shapes are invoice files); this kernel extends
the same ``extract_turn`` contract to web-page-like payloads, following
the published Arc90 readability heuristic:

1. build a tag tree, keeping per-node direct text runs with raw offsets;
2. give container nodes a prior by tag (+5 div, +3 pre/td/blockquote,
   -3 list/form/address, -5 headings/th) and ±25 by class/id hints;
3. every paragraph-ish node with >= 25 chars of text votes
   ``1 + commas + min(len/100, 3)`` for its parent and half for its
   grandparent;
4. candidate score *= (1 - link_density); highest score wins, first in
   document order on ties;
5. the winner's descendant text runs become clean_text (whitespace
   collapsed) and the ("content", start, end) spans.

Deterministic, pure-Python, no DOM library — runs inside the same
Arrow-batched extraction stage as the invoice kernels.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .php import PHP_TRIM_CHARS, collapse_ws, php_trim
from .tables import (_FAST_TAG, _FAST_UNSAFE, _clean_attrs,
                     _tag_needs_slow_path)

_POSITIVE_RE = re.compile(
    r"article|body|content|entry|main|page|post|story|text|blog", re.I)
_NEGATIVE_RE = re.compile(
    r"banner|combx|comment|contact|foot|masthead|media|menu|meta|nav|"
    r"promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|"
    r"tool|widget|advert|\bad\b", re.I)

_SCORE_BY_TAG = {
    "div": 5, "article": 5, "section": 5, "main": 5,
    "pre": 3, "td": 3, "blockquote": 3,
    "address": -3, "ol": -3, "ul": -3, "dl": -3, "dd": -3, "dt": -3,
    "li": -3, "form": -3,
    "h1": -5, "h2": -5, "h3": -5, "h4": -5, "h5": -5, "h6": -5, "th": -5,
}

_PARAGRAPH_TAGS = {"p", "pre", "td"}

_SKIP_CONTENT_TAGS = {"script", "style", "noscript", "template"}

_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}

# tags whose open implicitly closes an open <p> (the subset of the HTML5
# tree-construction rule the heuristic needs)
_P_CLOSERS = {"p", "div", "table", "ul", "ol", "blockquote", "pre",
              "h1", "h2", "h3", "h4", "h5", "h6", "section", "article",
              "footer", "header", "nav", "aside", "main", "form"}


# ---------------------------------------------------------------------------
# Subtree text statistics, computed in ONE bottom-up pass.
#
# Scoring needs, per node: len(php_trim(collapse_ws(subtree_text))) for
# paragraph votes and candidate text length, the comma count of that text,
# and per-anchor len(php_trim(subtree_text)) sums for link density. The
# naive way (re-concatenate each candidate's subtree text) is quadratic on
# nested-div pages — the normal shape of scraped web chrome — so both
# lengths are folded as monoids over the document-ordered run sequence,
# exact to the character (differential-fuzzed against the naive fold in
# tests/test_properties.py).
#
# Display monoid (cl, lead, trail, all_tr, first_c, last_c, empty) models
# collapse_ws (runs of [ \t\n\r\f\v] -> one space) THEN php_trim (strip
# edge runs of {' ', '\0'} — post-collapse only spaces and \0 remain
# strippable): cl = collapsed length, lead/trail = strippable edge-run
# lengths, first_c/last_c = whether the segment's raw edge chars are in
# the collapse class (a C..C boundary between segments merges into one
# space: cl(a+b) = cl(a)+cl(b)-1).
# ---------------------------------------------------------------------------

_C_CHARS = frozenset(" \t\n\r\f\v")
_DISP_EMPTY = (0, 0, 0, True, False, False, True)
_TRIM_EMPTY = (0, 0, 0, True, True)


def _disp_base(s: str):
    c = collapse_ws(s)
    n = len(c)
    if n == 0:
        return _DISP_EMPTY
    lead = n - len(c.lstrip(" \0"))
    trail = n - len(c.rstrip(" \0"))
    return (n, lead, trail, lead == n, s[0] in _C_CHARS, s[-1] in _C_CHARS,
            False)


def _disp_merge(a, b):
    if a[6]:
        return b
    if b[6]:
        return a
    m = 1 if (a[5] and b[4]) else 0
    return (a[0] + b[0] - m,
            (a[0] + b[1] - m) if a[3] else a[1],
            (b[0] + a[2] - m) if b[3] else b[2],
            a[3] and b[3], a[4], b[5], False)


def _disp_len(d) -> int:
    return 0 if d[3] else d[0] - d[1] - d[2]


def _trim_base(s: str):
    """php_trim-length monoid: (raw, lead, trail, all_t, empty)."""
    n = len(s)
    if n == 0:
        return _TRIM_EMPTY
    lead = n - len(s.lstrip(PHP_TRIM_CHARS))
    trail = n - len(s.rstrip(PHP_TRIM_CHARS))
    return (n, lead, trail, lead == n, False)


def _trim_merge(a, b):
    if a[4]:
        return b
    if b[4]:
        return a
    return (a[0] + b[0],
            (a[0] + b[1]) if a[3] else a[1],
            (b[0] + a[2]) if b[3] else b[2],
            a[3] and b[3], False)


def _trim_len(t) -> int:
    return 0 if t[3] else t[0] - t[1] - t[2]


class _Node:
    __slots__ = ("tag", "attrs", "parent", "children", "texts", "score",
                 "order", "disp", "trim", "commas", "link_acc", "min_off")

    def __init__(self, tag, attrs, parent, order):
        self.tag = tag
        self.attrs = attrs
        self.parent = parent
        self.children: list[_Node] = []
        # direct text runs: (start, end, decoded_text); offsets into raw html
        self.texts: list[tuple[int, int, str]] = []
        self.score: float = 0.0
        self.order = order
        # filled by _annotate (one bottom-up pass): subtree text statistics
        self.disp = _DISP_EMPTY     # display-length monoid
        self.trim = _TRIM_EMPTY     # trim-length monoid
        self.commas = 0             # ','/'，' count in subtree text
        self.link_acc = 0           # Σ trimmed text len over anchor descs
        self.min_off = None         # first raw offset in subtree (doc order)


class _TreeBuilder(HTMLParser):
    """Offset-preserving lightweight tree. convert_charrefs=False so every
    handle_data chunk maps 1:1 onto a raw substring; entity/char refs are
    appended as decoded one-char runs spanning their raw source."""

    def __init__(self):
        super().__init__(convert_charrefs=False)
        self.root = _Node("#root", {}, None, 0)
        self._cur = self.root
        self._order = 0
        self._line_starts: list[int] = []
        self._skip_depth = 0
        self._raw = ""

    def feed_document(self, html: str):
        self._raw = html
        # fast tokenizer first (the tables.py pattern: one regex, same
        # handlers, so semantics cannot diverge where the gate admits);
        # falls back to html.parser for entities/comments/PIs/script
        if not _FAST_UNSAFE.search(html) and _fast_tree_feed(self, html):
            return
        starts, pos = [0], 0
        while True:
            nl = html.find("\n", pos)
            if nl < 0:
                break
            starts.append(nl + 1)
            pos = nl + 1
        self._line_starts = starts
        self.feed(html)
        self.close()

    def _abs(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if self._skip_depth:
            if tag in _SKIP_CONTENT_TAGS:
                self._skip_depth += 1
            return
        if tag in _SKIP_CONTENT_TAGS:
            self._skip_depth = 1
            return
        if tag in _VOID_TAGS:
            return
        if tag in _P_CLOSERS and self._cur.tag == "p":
            self._cur = self._cur.parent or self.root
        self._order += 1
        node = _Node(tag, dict(attrs), self._cur, self._order)
        self._cur.children.append(node)
        self._cur = node

    def handle_startendtag(self, tag, attrs):
        pass

    def handle_endtag(self, tag):
        tag = tag.lower()
        if self._skip_depth:
            if tag in _SKIP_CONTENT_TAGS:
                self._skip_depth -= 1
            return
        if tag in _VOID_TAGS:
            return
        # close the nearest open ancestor with this tag (tolerates
        # misnesting the way browsers do for the block subset we keep)
        n = self._cur
        while n is not None and n.tag != tag:
            n = n.parent
        if n is not None:
            self._cur = n.parent or self.root

    def _on_data(self, data: str, start: int):
        if self._skip_depth:
            return
        self._cur.texts.append((start, start + len(data), data))

    def handle_data(self, data):
        self._on_data(data, self._abs())

    def _add_ref(self, prefix_len: int, name: str):
        """Entity/char refs may arrive WITHOUT a terminating ';' (the
        parser dispatches them either way) — measure the raw source so
        the span never overshoots into the next text run."""
        from html import unescape
        start = self._abs()
        end = start + prefix_len + len(name)
        if self._raw[end:end + 1] == ";":
            end += 1
        self._cur.texts.append((start, end, unescape(self._raw[start:end])))

    def handle_entityref(self, name):
        if self._skip_depth:
            return
        self._add_ref(1, name)   # '&' + name [+ ';']

    def handle_charref(self, name):
        if self._skip_depth:
            return
        self._add_ref(2, name)   # '&#' + name [+ ';']


def _fast_tree_feed(b: _TreeBuilder, html: str) -> bool:
    """Regex tokenizer driving the SAME _TreeBuilder handlers as
    html.parser (the tables.py fast-path pattern, tables.py:133-177),
    with direct raw offsets for text runs instead of getpos() line/col
    arithmetic. Returns False — before touching the builder — when any
    '<' is not a clean tag or any tag fails tables._tag_needs_slow_path,
    so the caller falls back to html.parser;
    admitted inputs produce identical trees (differential-fuzzed in
    tests/test_properties.py). `<x/>` start-end tags are skipped to
    mirror the builder's no-op handle_startendtag."""
    pos = 0
    matches = list(_FAST_TAG.finditer(html))
    if html.count("<") != len(matches):
        return False
    # prescan ALL attribute strings BEFORE any builder mutation: the
    # caller falls back onto the SAME builder (unlike tables, which
    # constructs a fresh parser), so a mid-stream bail would leave a
    # half-fed tree. _clean_attrs returns None where html.parser's
    # tolerant grammar could tokenize differently — that input goes to
    # the slow path untouched.
    parsed = []
    for m in matches:
        closing, _name, attrs_s, selfclose = m.groups()
        if attrs_s and _tag_needs_slow_path(closing, attrs_s, selfclose):
            return False
        attrs = []
        if not closing and not selfclose and attrs_s:
            attrs = _clean_attrs(attrs_s)
            if attrs is None:
                return False
        parsed.append(attrs)
    for m, attrs in zip(matches, parsed):
        if m.start() > pos:
            b._on_data(html[pos:m.start()], pos)
        pos = m.end()
        closing, name, _attrs_s, selfclose = m.groups()
        if closing:
            b.handle_endtag(name)
        elif not selfclose:
            b.handle_starttag(name, attrs)
    if pos < len(html):
        b._on_data(html[pos:], pos)
    return True


def _walk(node: _Node):
    # explicit stack: recursion blows Python's limit on ~1000-deep nesting
    # (adversarial but real in scraped HTML), killing the whole Arrow batch
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(reversed(n.children))


def _runs_of(node: _Node) -> list[tuple[int, int, str]]:
    """All descendant text runs in document order — gathered in one walk
    and sorted ONCE at the top (the per-recursion-level sort this used to
    do was O(depth · n log n) per call, quadratic on div-heavy pages)."""
    runs: list[tuple[int, int, str]] = []
    for n in _walk(node):
        runs.extend(n.texts)
    runs.sort(key=lambda r: r[0])
    return runs


def _text_of(node: _Node) -> str:
    return "".join(r[2] for r in _runs_of(node))


def _link_len_of(node: _Node) -> int:
    total = 0
    for n in _walk(node):
        if n.tag == "a":
            total += len(php_trim(_text_of(n)))
    return total


def _annotate(root: _Node) -> None:
    """One bottom-up pass filling disp/trim/commas/link_acc/min_off on
    every node: O(total nodes + total text) for the whole tree, where the
    naive per-candidate subtree concatenation is quadratic on nested
    containers. Each node folds its direct runs and its children's
    pre-folded summaries in document (offset) order."""
    order = []
    stack = [root]
    while stack:
        n = stack.pop()
        order.append(n)
        stack.extend(n.children)
    for node in reversed(order):  # children always precede their parent
        items = [(s, _disp_base(t), _trim_base(t),
                  t.count(",") + t.count("，"))
                 for (s, _e, t) in node.texts]
        items += [(c.min_off, c.disp, c.trim, c.commas)
                  for c in node.children if c.min_off is not None]
        items.sort(key=lambda it: it[0])
        disp, trim, commas = _DISP_EMPTY, _TRIM_EMPTY, 0
        for _, d, t, cm in items:
            disp = _disp_merge(disp, d)
            trim = _trim_merge(trim, t)
            commas += cm
        node.disp, node.trim, node.commas = disp, trim, commas
        node.min_off = items[0][0] if items else None
        link = sum(c.link_acc for c in node.children)
        if node.tag == "a":
            link += _trim_len(trim)
        node.link_acc = link


def _class_weight(node: _Node) -> float:
    w = 0.0
    hint = f"{node.attrs.get('class') or ''} {node.attrs.get('id') or ''}"
    if _NEGATIVE_RE.search(hint):
        w -= 25
    if _POSITIVE_RE.search(hint):
        w += 25
    return w


def extract_main_content(html: str) -> dict:
    """Run the scorer; returns {'text', 'spans', 'score', 'tag',
    'link_density'}. text is the winner's whitespace-collapsed content;
    spans are ("content", start, end) offsets of its non-blank text runs
    in the raw html. Falls back to the whole document (strip-tags
    equivalent) when nothing scores — e.g. a page with no paragraphs."""
    tree = _TreeBuilder()
    tree.feed_document(html)
    _annotate(tree.root)

    candidates: dict[int, _Node] = {}

    def _ensure(node: _Node):
        if node.order not in candidates:
            node.score = (_SCORE_BY_TAG.get(node.tag, 0)
                          + _class_weight(node))
            candidates[node.order] = node

    for node in _walk(tree.root):
        if node.tag not in _PARAGRAPH_TAGS:
            continue
        tlen = _disp_len(node.disp)
        if tlen < 25:
            continue
        votes = 1 + node.commas + min(tlen // 100, 3)
        parent = node.parent
        if parent is not None and parent.tag != "#root":
            _ensure(parent)
            parent.score += votes
        grand = parent.parent if parent is not None else None
        if grand is not None and grand.tag != "#root":
            _ensure(grand)
            grand.score += votes / 2.0

    best, best_score, best_ld = None, 0.0, 0.0
    for order in sorted(candidates):
        node = candidates[order]
        text_len = _disp_len(node.disp)
        if text_len == 0:
            continue
        ld = min(1.0, node.link_acc / text_len)
        final = node.score * (1.0 - ld)
        if best is None or final > best_score:
            best, best_score, best_ld = node, final, ld

    if best is None:
        best, best_score, best_ld = tree.root, 0.0, 0.0

    all_runs = _runs_of(best)
    runs = [(s, e, t) for (s, e, t) in all_runs if php_trim(t)]
    return {
        "text": php_trim(collapse_ws("".join(r[2] for r in all_runs))),
        "spans": [("content", s, e) for (s, e, _) in runs],
        "score": best_score,
        "tag": best.tag,
        "link_density": best_ld,
    }


_HTML_HINT_RE = re.compile(
    r"<(?:html|body|div|article|section|main|nav|aside)\b", re.I)


def rb_can_parse(ext: str, text: str) -> float:
    """Detection score for the readability payload kind: generic HTML
    pages (block-level markup present). Invoice JSON/markdown/text
    payloads keep routing to the reference's parsers — this kind only
    claims what they never could."""
    if ext == "html":
        return 0.9
    if ext == "txt" and _HTML_HINT_RE.search(text or ""):
        return 0.6
    return 0.0
