"""Differential fuzz of the engine-agnostic oracle bridges (no Spark).

The corpus oracles work because every hash step is reproducible in
DuckDB: md5-first-8-bytes as the shared 64-bit hash, HUGEINT mod-2^64
mirroring numpy uint64 wraparound, windowed-MIN winnowing, banding and
star caps as plain SQL. These tests replay the generated oracle SQL in
DuckDB against pure-Python references (the same arithmetic the Arrow
stages run) over adversarial synthesized documents — catching bridge
drift in milliseconds, without a SparkSession.

Alphabet note: two documented engine boundaries are excluded on purpose
because the testdata generator never emits them and every shipped
oracle shares the same convention: (1) non-ASCII *whitespace* (\xa0,
 , …) — Python str.split() treats unicode spaces as separators
while RE2's \\s is ASCII-only; (2) unicode with FULL case mappings
(e.g. İ U+0130, which Python lower()s to TWO codepoints while DuckDB's
simple mapping keeps one — found by this very fuzz before scoping).
ASCII case-folding and CJK (no case) are fair game and covered.
"""

import hashlib

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.functions.minhash import (MAX_LSH_BUCKET, MINHASH_A,
                                         MINHASH_B, MINHASH_P, N_MINHASH)
from ocr_spark.operators.corpus import (DD_MINHASH_SQL, DD_SIMHASH_SQL,
                                        MM_WINNOW_SQL, SIMHASH_MAX_HAMMING,
                                        WINNOW_K, WINNOW_W)

_WORD = st.text(
    alphabet=("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
              ".,;:!?-%$()汉字配料表供應商發票"),
    min_size=1, max_size=8)
_TEXT = st.lists(_WORD, min_size=0, max_size=40).map(" ".join)


def _con(texts):
    con = duckdb.connect()
    df = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    con.register("documents", df)
    return con


def _md5_u64(b: bytes) -> int:
    return int.from_bytes(hashlib.md5(b).digest()[:8], "big")


@given(st.lists(_TEXT, min_size=1, max_size=12))
@settings(max_examples=50, deadline=None)
def test_winnow_sql_matches_python(texts):
    """MM_WINNOW_SQL == the Arrow stage's per-doc Python winnowing."""
    expected = []
    for doc_id, text in enumerate(texts):
        s = " ".join((text or "").lower().split())
        hashes = [int.from_bytes(
            hashlib.md5(s[i:i + WINNOW_K].encode()).digest()[:4], "big")
            for i in range(max(0, len(s) - WINNOW_K + 1))]
        sel = {min(hashes[i:i + WINNOW_W])
               for i in range(max(0, len(hashes) - WINNOW_W + 1))}
        expected.append((doc_id, len(sel)))
    got = _con(texts).execute(MM_WINNOW_SQL).fetchall()
    assert got == expected


def _py_minhash_pairs(texts):
    """Pure-Python replay of the MinHash-LSH candidate pipeline (the
    same arithmetic as functions.minhash.minhash_sig_stage + minhash_bands +
    lsh_candidate_pairs, without numpy/Spark)."""
    sigs = {}
    for doc_id, text in enumerate(texts):
        words = " ".join((text or "").lower().split()).split(" ")
        if len(words) < 3:
            continue
        shingles = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
        hs = [_md5_u64(s.encode()) for s in shingles]
        sigs[doc_id] = [
            min(((MINHASH_A[k] * h + MINHASH_B[k]) % (1 << 64)) % MINHASH_P
                for h in hs)
            for k in range(N_MINHASH)]
    buckets = {}
    rpb = N_MINHASH // 4
    for doc_id, sig in sigs.items():
        for b in range(4):
            key = ",".join(str(v) for v in sig[b * rpb:(b + 1) * rpb])
            bh = _md5_u64(key.encode()) - (1 << 63)
            buckets.setdefault((b, bh), []).append(doc_id)
    pairs = {}
    for docs in buckets.values():
        docs = sorted(docs)
        if len(docs) < 2:
            continue
        if len(docs) <= 64:
            combos = [(a, b) for i, a in enumerate(docs)
                      for b in docs[i + 1:]]
        else:
            combos = [(docs[0], d) for d in docs[1:]]
        for p in combos:
            pairs[p] = pairs.get(p, 0) + 1
    return sorted((a, b, n) for (a, b), n in pairs.items())


@given(st.lists(_TEXT, min_size=1, max_size=10), st.data())
@settings(max_examples=25, deadline=None)
def test_minhash_sql_matches_python(texts, data):
    """DD_MINHASH_SQL == the signature/banding/cap arithmetic, including
    planted exact duplicates (which must always pair)."""
    if len(texts) >= 2:
        # plant a duplicate of a random doc to exercise the pair path
        src = data.draw(st.integers(0, len(texts) - 1))
        texts = texts + [texts[src]]
    got = _con(texts).execute(DD_MINHASH_SQL).fetchall()
    assert got == _py_minhash_pairs(texts)


def _py_simhash_pairs(texts):
    """Pure-Python replay of the banded-Hamming SimHash pipeline (the
    same arithmetic as corpus._simhash_sig_stage + dd_simhash's
    signature-level bucketing/verification/expansion, without numpy)."""
    sigs = []
    for text in texts:
        toks = set((text or "").lower().split())
        if not toks:
            sigs.append(-(1 << 63))
            continue
        votes = [0] * 64
        for t in toks:
            h = _md5_u64(t.encode())
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        sig = sum(1 << i for i in range(64) if votes[i] > 0)
        sigs.append(sig - (1 << 63))
    groups = {}
    for doc_id, s in enumerate(sigs):
        groups.setdefault(s, []).append(doc_id)
    buckets = {}
    for s in groups:
        u = s + (1 << 63)
        for b in range(4):
            buckets.setdefault((b, (u >> (16 * b)) & 0xFFFF), []).append(s)
    sig_pairs = set()
    for sl in buckets.values():
        sl = sorted(sl)
        if len(sl) < 2:
            continue
        combos = ([(a, b) for i, a in enumerate(sl) for b in sl[i + 1:]]
                  if len(sl) <= MAX_LSH_BUCKET
                  else [(sl[0], s) for s in sl[1:]])
        for a, b in combos:
            h = bin((a ^ b) & ((1 << 64) - 1)).count("1")
            if h <= SIMHASH_MAX_HAMMING:
                sig_pairs.add((a, b, h))
    out = set()
    for a, b, h in sig_pairs:
        A, B = groups[a], groups[b]
        if len(A) * len(B) <= MAX_LSH_BUCKET ** 2:
            pairs = [(x, y) for x in A for y in B]
        else:
            pairs = ([(A[0], y) for y in B]
                     + [(x, B[0]) for x in A[1:]])
        for x, y in pairs:
            out.add((min(x, y), max(x, y), h))
    for members in groups.values():
        members = sorted(members)
        if len(members) < 2:
            continue
        combos = ([(x, y) for i, x in enumerate(members)
                   for y in members[i + 1:]]
                  if len(members) <= MAX_LSH_BUCKET
                  else [(members[0], y) for y in members[1:]])
        for x, y in combos:
            out.add((x, y, 0))
    return sorted(out)


@given(st.lists(_TEXT, min_size=1, max_size=8), st.data())
@settings(max_examples=25, deadline=None)
def test_simhash_sql_matches_python(texts, data):
    """DD_SIMHASH_SQL == the signature/banding/verify/expansion
    arithmetic, with a planted exact duplicate (hamming 0) and a planted
    near-duplicate (one extra token) to exercise both pair paths."""
    if texts and texts[0]:
        texts = texts + [texts[0], texts[0] + " extraword"]
    got = _con(texts).execute(DD_SIMHASH_SQL).fetchall()
    assert got == _py_simhash_pairs(texts)


def test_md5_long_bridge_exact():
    """The shared 64-bit hash: python int.from_bytes(md5[:8]) ==
    DuckDB ('0x'||substr(md5,1,16))::UBIGINT, signed via -2^63."""
    con = duckdb.connect()
    for s in ["", "a", "hello world", "汉字", "x" * 1000, "conv-000042"]:
        duck = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 16))::UBIGINT::HUGEINT"
            " - 9223372036854775808 AS BIGINT)", [s]).fetchone()[0]
        assert duck == _md5_u64(s.encode()) - (1 << 63)


@pytest.mark.parametrize("n_dups", [3, 70])
def test_minhash_sql_star_cap(n_dups):
    """Above MAX_LSH_BUCKET identical docs, the oracle must emit the
    star pattern (min-doc paired with every other), not all pairs —
    same degradation the Spark side applies."""
    texts = [f"unique filler document number {i} with words" for i in range(3)]
    texts += ["the very same duplicated text body here"] * n_dups
    got = _con(texts).execute(DD_MINHASH_SQL).fetchall()
    assert got == _py_minhash_pairs(texts)
    dup_ids = list(range(3, 3 + n_dups))
    if n_dups <= 64:
        expect_pairs = {(a, b) for i, a in enumerate(dup_ids)
                        for b in dup_ids[i + 1:]}
    else:
        expect_pairs = {(dup_ids[0], d) for d in dup_ids[1:]}
    assert {(a, b) for a, b, _n in got
            if a in dup_ids and b in dup_ids} == expect_pairs


def _py_ngram_jaccard(texts, df_cap=100):
    """Pure-Python reference of dd_ngram_jaccard's semantics: the Arrow
    stage's tokenization (explicit [ \\t\\n\\x0b\\f\\r] whitespace class
    on every engine, split(' ') keeping empty
    tokens), per-doc distinct 3-gram shingles hashed via md5-first-8,
    df-capped, jaccard >= 0.5 pairs ordered (doc_a, doc_b)."""
    import re
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    shingles = {}
    for doc_id, text in enumerate(texts):
        toks = ws.sub(" ", text.lower()).split(" ")
        if len(toks) < 3:
            continue
        shingles[doc_id] = {
            _md5_u64(" ".join(toks[i:i + 3]).encode()) - (1 << 63)
            for i in range(len(toks) - 2)}
    df = {}
    for ss in shingles.values():
        for s in ss:
            df[s] = df.get(s, 0) + 1
    kept = {d: {s for s in ss if df[s] <= df_cap}
            for d, ss in shingles.items()}
    out = []
    ids = sorted(kept)
    from decimal import ROUND_HALF_UP, Decimal
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(kept[a] & kept[b])
            if not inter:
                continue
            union = len(kept[a]) + len(kept[b]) - inter
            if inter / union < 0.5:  # threshold on the RAW quotient
                continue
            # DuckDB ROUND = half-away-from-zero on the BINARY value;
            # Python round() is half-even and would flip exact ties
            # (e.g. 17/32 = 0.53125 -> 0.5312 vs DuckDB 0.5313)
            j = float(Decimal(inter / union).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP))
            out.append((a, b, inter, j))
    return out


@given(st.lists(_TEXT, min_size=1, max_size=12))
@settings(max_examples=50, deadline=None)
def test_ngram_jaccard_sql_matches_python(texts):
    """DD_NGRAM_SQL (hashed-shingle form) == the Arrow stage's Python
    arithmetic, with a planted near-dup pair so the >= 0.5 branch fires."""
    from ocr_spark.operators.corpus import DD_NGRAM_SQL
    if texts and texts[0]:
        texts = texts + [texts[0], texts[0] + " tailword"]
    got = _con(texts).execute(DD_NGRAM_SQL).fetchall()
    assert got == _py_ngram_jaccard(texts)


_WS_RUN = st.text(alphabet=" \t\n\x0b\f\r", min_size=1, max_size=3)
_WS_DOC = st.lists(st.tuples(_WORD, _WS_RUN), min_size=0, max_size=20).map(
    lambda ps: "".join(w + ws for w, ws in ps))


@given(st.lists(_WS_DOC, min_size=1, max_size=8))
@settings(max_examples=40, deadline=None)
def test_classifier_sql_matches_python(texts):
    """The learned gate's generated DuckDB SQL == the Python twin over
    adversarial docs: every Java-\\s whitespace separator (incl. \\x0b),
    leading/trailing empty tokens, case folding, CJK bytes in the md5
    bucket fold, and the empty document."""
    from ocr_spark.functions.classifier import (CLS_THRESHOLD, featurize,
                                                score_text)
    from ocr_spark.operators.classifier import _txt_classifier_sql
    got = _con(texts).execute(_txt_classifier_sql()).fetchall()
    expected = []
    for doc_id, t in enumerate(texts):
        x = featurize(t)
        s = score_text(t)
        expected.append((doc_id, sum(x.values()), s,
                         int(s > CLS_THRESHOLD)))
    assert got == expected


def _py_bm25(texts):
    """Pure-Python replay of SIM_BM25_SQL's integer-exact scoring: bigram
    terms, df-capped, floor-log2 idf via bit_length, exact int64
    numerator/denominator with ONE IEEE double division, floor-bp
    quantization before the per-candidate sum."""
    import math
    import re

    def bigrams(t):
        ws = [w for w in re.split(r"[ \t\n\x0b\f\r]+",
                                  (t or "").lower().strip(" ")) if w != ""]
        return [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    bgs = {i: bigrams(t) for i, t in enumerate(texts)}
    n_docs = len(texts)
    s_tokens = sum(len(b) for b in bgs.values())
    qterms = {(q, term) for q in range(min(3, n_docs)) for term in bgs[q]}
    qset = {term for _q, term in qterms}
    tf = {}
    for d, terms in bgs.items():
        for term in terms:
            if term in qset:
                tf[(d, term)] = tf.get((d, term), 0) + 1
    df = {}
    for (d, term) in tf:
        df[term] = df.get(term, 0) + 1
    scores = {}
    for (q, term) in qterms:
        if df.get(term, 0) > 100:
            continue
        for (d, t2), n in tf.items():
            if t2 != term or d == q:
                continue
            idf_bits = (n_docs // df[term]).bit_length() - 1
            num = 44 * s_tokens * n
            den = 20 * s_tokens * n + 6 * s_tokens + 18 * len(bgs[d]) * n_docs
            bp = math.floor(float(idf_bits) * (float(num) / float(den))
                            * 10000.0)
            scores[(q, d)] = scores.get((q, d), 0) + bp
    out = []
    for q in sorted({q for q, _d in scores}):
        cands = sorted(((s, d) for (qq, d), s in scores.items() if qq == q),
                       key=lambda sd: (-sd[0], sd[1]))
        for rank, (s, d) in enumerate(cands[:10], 1):
            out.append((q, rank, d, s))
    return out


@given(st.lists(_WS_DOC, min_size=1, max_size=10), st.data())
@settings(max_examples=40, deadline=None)
def test_bm25_sql_matches_python(texts, data):
    """SIM_BM25_SQL == the integer BM25 twin over adversarial whitespace
    docs, with a planted near-copy of a query doc (which, when it forms
    bigrams, must rank and score identically on both engines)."""
    from ocr_spark.operators.corpus import SIM_BM25_SQL
    if texts and texts[0]:
        src = data.draw(st.integers(0, min(2, len(texts) - 1)))
        texts = texts + [texts[src] + " extra tail words here"]
    got = _con(texts).execute(SIM_BM25_SQL).fetchall()
    assert got == _py_bm25(texts)
