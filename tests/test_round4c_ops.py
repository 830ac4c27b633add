"""Round-4 continuation ops: conv-grain language mix, degenerate-decoding
scan, URL/link density, MinHash sketch calibration. Planted-semantics
assertions plus edge-corpus differentials (the sf0.001 oracle compare runs
in test_operators.py via the ALL_QUERIES parametrize)."""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


# doc_id picks the conv (id % 50), the role (id % 4: 1 = assistant) and the
# langid markers are planted in the text
EDGE_DOCS = [
    # conv-000000: one English turn, one German turn (tied counts)
    (0, "the and of", "en", "web"),
    (50, "der und die", "de", "web"),
    # conv-000001: a degenerate assistant turn (30 tokens, one bigram) and
    # a clean assistant turn (25 distinct tokens)
    (1, "loop " * 29 + "loop", "en", "web"),
    (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
          "omega end", "en", "web"),
    # conv-000049: assistant turn below the token floor (never checked)
    (149, "short reply only", "en", "web"),
    # conv-000003: NULL-text assistant turn (size(split(NULL)) is -1 in
    # Spark, len(NULL) is NULL in DuckDB — both must filter it)
    (53, None, "en", "web"),
    # URL density: a prose doc with one link, a link farm, and empties
    (7, "see https://example.com/page for details about the thing and "
        "plenty of ordinary prose around it keeping the share low",
     "en", "web"),
    (8, "https://a.example/x https://b.example/y https://c.example/z ok",
     "en", "crawl"),
    (9, "", "en", "crawl"),
    (10, None, "en", "crawl"),
    # NEGATIVE ids (production doc_ids are md5-longs over signed int64):
    # pmod must agree with the oracle's ((x % n) + n) % n — a degenerate
    # assistant turn at conv-000047 and a French turn at conv-000043
    (-3, "loop " * 29 + "loop", "en", "web"),
    (-7, "le et les rapport", "fr", "web"),
    # near-dup pair for the sketch calibration (identical text: every
    # band collides, est = exact = 10000)
    (11, "zeta one two three four five six seven eight nine ten "
         "eleven twelve thirteen fourteen fifteen", "en", "books"),
    (12, "zeta one two three four five six seven eight nine ten "
         "eleven twelve thirteen fourteen fifteen", "en", "books"),
]


def _edge_dir(spark, tmp_path):
    d = str(tmp_path / "edge")
    spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, lang string, source string"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _duck_on(d, sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    res = con.execute(sql)
    return res.fetchall(), [c[0] for c in res.description]


@pytest.mark.parametrize("name", [
    "conv_lang_mix", "conv_degenerate_scan", "txt_url_density",
    "dd_minhash_est_error"])
def test_edge_corpus_matches_oracle(spark, tmp_path, name):
    """NULL/empty text, tied language counts, planted duplicates: Spark
    and DuckDB must agree row-for-row beyond the well-formed testdata."""
    from ocr_spark.operators import ALL_QUERIES
    fn, sql = ALL_QUERIES[name]
    d = _edge_dir(spark, tmp_path)
    sdf = fn(spark, d)
    drows, dcols = _duck_on(d, sql)
    assert _canon([tuple(r) for r in sdf.collect()], sdf.columns) == \
        _canon(drows, dcols), f"{name} diverges on the edge corpus"


def test_lang_mix_counts_and_tie_order(spark, tmp_path):
    from ocr_spark.operators.extraction import conv_lang_mix
    d = _edge_dir(spark, tmp_path)
    rows = {r.conv_id: r for r in conv_lang_mix(spark, d).collect()}
    c0 = rows["conv-000000"]
    assert c0.n_turns == 2 and c0.n_langs == 2
    # tied counts: lexicographically smaller language wins
    assert c0.dom_lang == "de" and c0.dom_share_bp == 5000
    c1 = rows["conv-000001"]            # no marker words in either turn
    assert c1.dom_lang == "unk" and c1.n_langs == 0
    assert c1.dom_share_bp == 10000


def test_degenerate_scan_flags_looping_assistant(spark, tmp_path):
    from ocr_spark.operators.extraction import conv_degenerate_scan
    d = _edge_dir(spark, tmp_path)
    rows = {r.conv_id: r for r in conv_degenerate_scan(spark, d).collect()}
    c1 = rows["conv-000001"]
    assert c1.n_checked == 2          # both assistant turns >= 20 tokens
    assert c1.n_degenerate == 1       # only the loop
    assert c1.max_dup_bp == 10000     # every bigram of the loop repeats
    # the short assistant reply never reaches the signal
    assert "conv-000049" not in rows


def test_url_density_planted_counts(spark, tmp_path):
    from ocr_spark.operators.quality import txt_url_density
    d = _edge_dir(spark, tmp_path)
    rows = {r.source: r for r in txt_url_density(spark, d).collect()}
    web = rows["web"]
    assert web.n_url_docs == 1 and web.urls_total == 1
    assert web.n_spam_docs == 0
    crawl = rows["crawl"]                 # link farm + empty + NULL text
    assert crawl.n_docs == 3
    assert crawl.n_url_docs == 1 and crawl.urls_total == 3
    assert crawl.n_spam_docs == 1         # URL chars dominate the farm doc
    books = rows["books"]
    assert books.n_url_docs == 0 and books.link_char_bp == 0


def test_sketch_calibration_exact_dup_bin(spark, tmp_path):
    """Identical docs collide in every band; the estimator and the exact
    jaccard both read 10000 — bin 10 with zero error."""
    from ocr_spark.operators.corpus import dd_minhash_est_error
    d = _edge_dir(spark, tmp_path)
    rows = {r.bin: r for r in dd_minhash_est_error(spark, d).collect()}
    assert 10 in rows
    top = rows[10]
    assert top.n_pairs >= 1
    assert top.abs_err_max_bp == 0
    assert top.n_over == 0 and top.n_under == 0


def test_degenerate_scan_randomized_differential(spark, tmp_path):
    """Seeded randomized differential for the trickiest math in the
    family: the Spark run-length fold (batch), the streaming twin's
    Counter, and a pure-Python reference must all agree on dup-bigram
    shares over texts with repeats, leading/trailing/multi whitespace —
    the split-semantics class the review caught (Spark split KEEPS empty
    boundary fields)."""
    import os
    import random
    import re
    from collections import Counter

    from ocr_spark.functions.quality import DEGEN_DUP_BP, DEGEN_MIN_TOKENS
    from ocr_spark.operators.extraction import conv_degenerate_scan

    rng = random.Random(42)
    vocab = ["a", "b", "ab", "ba", "x"]
    ws_runs = [" ", "  ", "\t", " \t ", "\n"]
    docs = []
    for i in range(1, 241):          # ids 1..240: 60 assistant turns
        n = rng.randint(0, 40)
        parts = [rng.choice(vocab) for _ in range(n)]
        text = (rng.choice(["", " ", "\t"])
                + "".join(p + rng.choice(ws_runs) for p in parts).rstrip()
                + rng.choice(["", " ", "  "]))
        docs.append((i, text, "en", "s"))
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    # pure-Python reference with Spark's split semantics (empties kept)
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    want = {}
    for doc_id, text, _lang, _src in docs:
        if doc_id % 4 != 1:          # only assistant turns
            continue
        toks = ws.split(text.lower())
        if len(toks) < DEGEN_MIN_TOKENS:
            continue
        n_bg = len(toks) - 1
        dup = sum(v for v in Counter(zip(toks, toks[1:])).values() if v >= 2)
        bp = dup * 10000 // n_bg
        conv = "conv-%06d" % (doc_id % 50)
        cur = want.setdefault(conv, [0, 0, 0])
        cur[0] += 1
        cur[1] += 1 if bp >= DEGEN_DUP_BP else 0
        cur[2] = max(cur[2], bp)
    assert want, "fixture must produce checked turns"

    got = {r.conv_id: [r.n_checked, r.n_degenerate, r.max_dup_bp]
           for r in conv_degenerate_scan(spark, d).collect()}
    assert got == want


def test_retry_collapse_planted_chains(spark, tmp_path):
    """Gap-chain semantics: events within RETRY_GAP_S of their
    predecessor extend the chain (not anchored to the head), ties on ts
    break by event_id, and different (user, type) streams never mix."""
    import datetime
    import os

    from ocr_spark.operators.temporal import qr_retry_collapse

    t0 = datetime.datetime(2024, 1, 1)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        # u1/click: chain {0,30,50} then a fresh chain {130}
        (1, at(0), 1, "click", 1.0, "{}"),
        (2, at(30), 1, "click", 1.0, "{}"),
        (3, at(50), 1, "click", 1.0, "{}"),
        (4, at(130), 1, "click", 1.0, "{}"),
        # u1/view: independent stream, single event
        (5, at(10), 1, "view", 1.0, "{}"),
        # u2/click: exactly-at-gap is SAME chain (> gap starts a new one)
        (6, at(0), 2, "click", 1.0, "{}"),
        (7, at(60), 2, "click", 1.0, "{}"),
        (8, at(121), 2, "click", 1.0, "{}"),
    ]
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))

    got = {(r.user_id, r.event_type): r
           for r in qr_retry_collapse(spark, d).collect()}
    u1 = got[(1, "click")]
    assert (u1.n_events, u1.n_kept, u1.n_collapsed, u1.max_chain_len) \
        == (4, 2, 2, 3)
    assert got[(1, "view")].n_kept == 1
    u2 = got[(2, "click")]
    assert (u2.n_kept, u2.max_chain_len) == (2, 2)   # 60s joins, 61s breaks


def test_url_density_randomized_engine_parity(spark, tmp_path):
    """Seeded randomized differential for the URL regex pair: Java
    (Spark regexp_count / regexp_replace) and RE2 (DuckDB
    regexp_extract_all) must agree on every count and char total over
    noisy text — partial schemes, adjacent URLs, boundary punctuation,
    whitespace variants."""
    import os
    import random

    from ocr_spark.operators.quality import txt_url_density

    rng = random.Random(7)
    frags = ["http://a.b/c", "https://x.y/z?q=1&r=2", "http://", "https:/",
             "httpx://nope", "see", "at", "(http://paren.io/p)", "end.",
             "https://trail.io/x,", "word", "\t", "http://tab\there",
             "https://unicode.é/π", "HTTP://upper.case/u"]
    docs = []
    for i in range(1, 160):
        n = rng.randint(0, 12)
        text = " ".join(rng.choice(frags) for _ in range(n))
        docs.append((i, text, "en", f"s{i % 4}"))
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    from ocr_spark.operators import ALL_QUERIES
    _fn, sql = ALL_QUERIES["txt_url_density"]
    sdf = txt_url_density(spark, d)
    drows, dcols = _duck_on(d, sql)
    assert _canon([tuple(r) for r in sdf.collect()], sdf.columns) == \
        _canon(drows, dcols)


def test_retry_collapse_randomized_engine_parity(spark, tmp_path):
    """Seeded randomized differential for the gap-chain math: microsecond
    timestamp noise, exact-boundary gaps, and (ts, event_id) ties must
    produce identical chains on both engines."""
    import datetime
    import os
    import random

    from ocr_spark.operators import ALL_QUERIES
    from ocr_spark.operators.temporal import RETRY_GAP_S

    rng = random.Random(11)
    t0 = datetime.datetime(2024, 3, 1)
    rows, eid = [], 0
    for user in range(6):
        for etype in ("click", "view"):
            cur_us = 0
            for _ in range(rng.randint(0, 25)):
                # gaps hugging the boundary: exactly gap, gap±1µs, tiny,
                # huge — plus occasional zero (a (ts, event_id) tie)
                gap = rng.choice([0, 1, 5_000_000,
                                  RETRY_GAP_S * 1_000_000 - 1,
                                  RETRY_GAP_S * 1_000_000,
                                  RETRY_GAP_S * 1_000_000 + 1,
                                  300_000_000])
                cur_us += gap
                rows.append((eid, t0 + datetime.timedelta(
                    microseconds=cur_us), user, etype,
                    1.0, "{}"))
                eid += 1
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))

    fn, sql = ALL_QUERIES["qr_retry_collapse"]
    sdf = fn(spark, d)
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{os.path.join(d, 'events.parquet')}/*.parquet'")
    res = con.execute(sql)
    drows, dcols = res.fetchall(), [c[0] for c in res.description]
    assert _canon([tuple(r) for r in sdf.collect()], sdf.columns) == \
        _canon(drows, dcols)


def test_conversion_cohorts_window_boundaries(spark, tmp_path):
    """Cohort conversion boundaries: a purchase exactly at the window end
    converts, one second past does not, a purchase BEFORE the first
    signup does not, and the cohort keys on the FIRST signup's date."""
    import datetime
    import os

    from ocr_spark.operators.temporal import (CONVERT_WINDOW_S,
                                              qr_conversion_cohorts)

    t0 = datetime.datetime(2024, 5, 1, 12, 0, 0)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        # u1: converts exactly at the window end
        (1, at(0), 1, "signup", 1.0, "{}"),
        (2, at(CONVERT_WINDOW_S), 1, "purchase", 1.0, "{}"),
        # u2: one second past the window — no conversion
        (3, at(0), 2, "signup", 1.0, "{}"),
        (4, at(CONVERT_WINDOW_S + 1), 2, "purchase", 1.0, "{}"),
        # u3: purchase BEFORE signup — no conversion
        (5, at(100), 3, "signup", 1.0, "{}"),
        (6, at(50), 3, "purchase", 1.0, "{}"),
        # u4: second signup next day must NOT move the cohort; purchase
        # within window of the FIRST signup converts
        (7, at(0), 4, "signup", 1.0, "{}"),
        (8, at(90000), 4, "signup", 1.0, "{}"),
        (9, at(1000), 4, "purchase", 1.0, "{}"),
    ]
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))

    got = {str(r.cohort_date): r
           for r in qr_conversion_cohorts(spark, d).collect()}
    day = got["2024-05-01"]
    assert day.n_users == 4            # all first signups on day one
    assert day.n_converted == 2        # u1 (boundary) and u4
    assert day.conv_bp == 5000
