"""Differential fuzz of the corpus-curation oracle SQLs against a pure-
Python replay of the operator semantics (no Spark: the Spark-vs-SQL
parity for these queries is pinned by tests/test_operators.py and the
edge corpus in test_quality_ops.py; this file fuzzes the SQL itself so
an oracle bug cannot silently re-define 'correct')."""

import math
import re

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.functions.text import CHUNK_TOKENS
from ocr_spark.operators.quality import (DD_CHUNK_SQL, SMP_BUDGET_SQL,
                                         SMP_TOKEN_BUDGET, TXT_REPETITION_SQL)

_WORD = st.text(
    alphabet="abcdefghij0123456789汉字表", min_size=1, max_size=4)
_TEXT = st.lists(_WORD, min_size=0, max_size=30).map(" ".join)
_LANG = st.sampled_from(["en", "de", "fr", "es", "zh"])


def _con(texts, langs=None):
    con = duckdb.connect()
    df = pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts,
        "lang": langs if langs else ["en"] * len(texts)})
    con.register("documents", df)
    return con


def _tokens(text):
    return re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower())


@given(st.lists(_TEXT, min_size=1, max_size=10))
@settings(max_examples=60, deadline=None)
def test_repetition_sql_matches_python(texts):
    expected = []
    for doc_id, text in enumerate(texts):
        t = _tokens(text)
        if len(t) < 2:
            continue
        uni, bg = {}, {}
        for g in t:
            uni[g] = uni.get(g, 0) + 1
        for a, b in zip(t, t[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
        n_tok, n_bg = len(t), len(t) - 1
        dup_bg = sum(c for c in bg.values() if c >= 2)
        expected.append((
            doc_id, n_tok,
            math.floor(max(uni.values()) / n_tok * 10000),
            math.floor(max(bg.values()) / n_bg * 10000),
            math.floor(dup_bg / n_bg * 10000)))
    got = _con(texts).execute(TXT_REPETITION_SQL).fetchall()
    assert got == expected


@given(st.lists(_TEXT, min_size=1, max_size=10))
@settings(max_examples=60, deadline=None)
def test_chunk_dup_sql_matches_python(texts):
    chunks = []   # (doc_id, chunk_text)
    for doc_id, text in enumerate(texts):
        t = _tokens(text)
        for i in range(math.ceil(len(t) / CHUNK_TOKENS)):
            chunks.append(
                (doc_id,
                 " ".join(t[i * CHUNK_TOKENS:(i + 1) * CHUNK_TOKENS])))
    docs_of = {}
    for doc_id, c in chunks:
        docs_of.setdefault(c, set()).add(doc_id)
    expected = {}
    for doc_id, c in chunks:
        n, s = expected.get(doc_id, (0, 0))
        expected[doc_id] = (n + 1, s + (1 if len(docs_of[c]) >= 2 else 0))
    want = [(d, n, s, math.floor(s / n * 10000))
            for d, (n, s) in sorted(expected.items())]
    got = _con(texts).execute(DD_CHUNK_SQL).fetchall()
    assert got == want


@given(st.lists(st.tuples(_TEXT, _LANG), min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_token_budget_sql_matches_python(rows):
    texts = [t for t, _ in rows]
    langs = [g for _, g in rows]
    cum = {}
    expected = []
    for doc_id, (text, lang) in enumerate(rows):
        n = len(_tokens(text))
        cum[lang] = cum.get(lang, 0) + n
        expected.append(
            (doc_id, lang, n, cum[lang],
             1 if cum[lang] <= SMP_TOKEN_BUDGET else 0))
    expected.sort(key=lambda r: (r[1], r[0]))
    got = _con(texts, langs).execute(SMP_BUDGET_SQL).fetchall()
    assert got == expected
