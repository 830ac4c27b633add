"""Round-5 continuation ops: Bloom incremental dedup (false-positive
calibration + saturation), ANN recall eval, integer-bits entropy,
co-occurrence lift, vocab coverage curve, daily volume anomalies.

The sf0.001 oracle compare for the registry entries runs in
test_operators.py via the ALL_QUERIES parametrize; this file covers the
branch reachability, Python-twin arithmetic, and exact edge fixtures."""

import datetime
import hashlib
import os
import re
from collections import Counter, defaultdict

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _duck_docs_con(d=SF_DIR):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}'")
    return con


# ---------------------------------------------------------------------------
# dd_bloom_check
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_both_branches(spark):
    from ocr_spark.operators.corpus import dd_bloom_check
    rows = dd_bloom_check(spark, SF_DIR).collect()
    assert rows, "batch slice empty"
    # Bloom guarantee: an exact dup can NEVER miss the filter
    assert all(r.bloom_dup for r in rows if r.exact_dup)
    # the planted batch exercises both verdict branches
    assert any(r.exact_dup for r in rows)
    assert any(not r.exact_dup for r in rows)
    # n_hits is bounded by the hash-function count
    from ocr_spark.functions.hashing import BLOOM_K
    assert all(0 <= r.n_hits <= BLOOM_K for r in rows)


def test_bloom_saturated_filter_false_positives_and_oracle(spark):
    """extra_bits=0 sizes m ≈ n: the filter saturates and false
    positives MUST appear — the branch the default sizing rarely
    reaches — and the parameterized oracle still matches exactly."""
    from ocr_spark.operators.corpus import _dd_bloom_sql, dd_bloom_check
    got = dd_bloom_check(spark, SF_DIR, extra_bits=0).collect()
    assert any(r.false_positive for r in got)
    con = _duck_docs_con()
    want = con.execute(_dd_bloom_sql(0)).fetchall()
    assert [(r.doc_id, r.n_hits, r.bloom_dup, r.exact_dup, r.false_positive)
            for r in got] == want


def test_bloom_python_twin_arithmetic(spark):
    """Independent Python implementation of the Bloom arithmetic (m
    sizing, md5-long positions, sign-safe mod) over DuckDB-computed
    content hashes must reproduce Spark's n_hits exactly."""
    from ocr_spark.functions.hashing import BLOOM_EXTRA_BITS, BLOOM_K
    from ocr_spark.operators.corpus import INCR_BATCH_RESIDUE, dd_bloom_check
    con = _duck_docs_con()
    norm = ("md5(regexp_replace(lower({t}), '[ \\t\\n\\x0b\\f\\r]+',"
            " ' ', 'g'))")
    corpus = con.execute(
        f"SELECT {norm.format(t='text')} FROM documents "
        f"WHERE doc_id IS NOT NULL AND doc_id % 10 <> {INCR_BATCH_RESIDUE}"
    ).fetchall()
    batch = con.execute(f"""
        WITH base AS (SELECT doc_id, text FROM documents
                      WHERE doc_id IS NOT NULL)
        SELECT b.doc_id, {norm.format(t=f'''
            CASE WHEN b.doc_id % 20 = {INCR_BATCH_RESIDUE} THEN d.text
                 ELSE b.text || ' batch-new-' || CAST(b.doc_id AS VARCHAR)
            END''')}
        FROM base b JOIN base d ON d.doc_id = b.doc_id - {INCR_BATCH_RESIDUE}
        WHERE b.doc_id % 10 = {INCR_BATCH_RESIDUE}
    """).fetchall()

    n = len(corpus)
    m = 1 << (n.bit_length() + BLOOM_EXTRA_BITS)

    def positions(h):
        for j in range(BLOOM_K):
            v = int(hashlib.md5(f"{h}:{j}".encode()).hexdigest()[:16], 16)
            yield ((v - (1 << 63)) % m + m) % m

    bits = {p for (h,) in corpus for p in positions(h)}
    want = {doc_id: sum(p in bits for p in positions(h))
            for doc_id, h in batch}
    got = {r.doc_id: r.n_hits
           for r in dd_bloom_check(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# sim_recall_eval
# ---------------------------------------------------------------------------


def test_recall_eval_matches_components(spark):
    from ocr_spark.operators.corpus import (sim_cosine_topk, sim_lsh_topk,
                                            sim_recall_eval)
    exact = defaultdict(set)
    for r in sim_cosine_topk(spark, SF_DIR).collect():
        exact[r.query_id].add(r.cand_id)
    approx = defaultdict(set)
    for r in sim_lsh_topk(spark, SF_DIR).collect():
        approx[r.query_id].add(r.cand_id)
    got = sim_recall_eval(spark, SF_DIR).collect()
    assert {r.query_id for r in got} == set(exact)
    for r in got:
        n_hit = len(exact[r.query_id] & approx[r.query_id])
        assert r.n_exact == len(exact[r.query_id]) == 10
        assert r.n_hit == n_hit
        assert r.recall_bp == (n_hit * 10000) // r.n_exact
        assert 0 <= r.recall_bp <= 10000


# ---------------------------------------------------------------------------
# txt_entropy
# ---------------------------------------------------------------------------


def _write_docs(spark, tmp_path, docs):
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_entropy_exact_fixtures(spark, tmp_path):
    """Hand-computable corners of the integer-bits definition:
    Σ count·floor(log2(n/count)) with floor-log2 = bit_length-1."""
    from ocr_spark.operators.quality import txt_entropy
    docs = [
        (1, "a a a a", "en", "s", 7),            # one type: 0 bits
        (2, "t1 t2 t3 t4 t5 t6 t7 t8", "en", "s", 23),  # 8 distinct: 3 b/tok
        (3, "a a b b", "en", "s", 7),            # two even types: 1 b/tok
        (4, "a a a b", "en", "s", 7),            # 3·flog2(1) + 1·flog2(4)
        (5, "solo", "en", "s", 4),               # single token: 0 bits
    ]
    got = {r.doc_id: (r.n_tokens, r.ent_bits, r.bpt_bp)
           for r in txt_entropy(spark, _write_docs(spark, tmp_path, docs))
           .collect()}
    assert got == {
        1: (4, 0, 0),
        2: (8, 24, 30000),
        3: (4, 4, 10000),
        4: (4, 2, 5000),
        5: (1, 0, 0),
    }


def test_entropy_python_twin(spark):
    from ocr_spark.operators.quality import txt_entropy
    con = _duck_docs_con()
    want = {}
    for doc_id, text in con.execute(
            "SELECT doc_id, text FROM documents "
            "WHERE doc_id IS NOT NULL").fetchall():
        toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower())
                if t]
        if not toks:
            continue
        n = len(toks)
        ent = sum(c * ((n // c).bit_length() - 1)
                  for c in Counter(toks).values())
        want[doc_id] = (n, ent, (ent * 10000) // n)
    got = {r.doc_id: (r.n_tokens, r.ent_bits, r.bpt_bp)
           for r in txt_entropy(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# txt_cooc_pmi
# ---------------------------------------------------------------------------


def test_cooc_lift_python_twin(spark):
    from ocr_spark.operators.quality import (COOC_MIN_PAIR, COOC_TOP_V,
                                             txt_cooc_pmi)
    con = _duck_docs_con()
    rows = con.execute("SELECT doc_id, text FROM documents "
                       "WHERE doc_id IS NOT NULL").fetchall()
    n_docs = len(rows)
    pres = {doc_id: {t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                         (text or "").lower()) if t}
            for doc_id, text in rows}
    df = Counter(t for s in pres.values() for t in s)
    topv = dict(sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
                [:COOC_TOP_V])
    pair_df = Counter()
    for s in pres.values():
        hits = sorted(s & topv.keys())
        for i, w1 in enumerate(hits):
            for w2 in hits[i + 1:]:
                pair_df[(w1, w2)] += 1
    want = {p: (c, (c * n_docs * 10000) // (topv[p[0]] * topv[p[1]]))
            for p, c in pair_df.items() if c >= COOC_MIN_PAIR}
    got = {(r.w1, r.w2): (r.df_ab, r.lift_bp)
           for r in txt_cooc_pmi(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# txt_vocab_coverage
# ---------------------------------------------------------------------------


def test_vocab_coverage_curve_shape(spark):
    from ocr_spark.operators.quality import COV_THRESHOLDS, txt_vocab_coverage
    rows = txt_vocab_coverage(spark, SF_DIR).collect()
    assert [r.threshold for r in rows] == sorted(COV_THRESHOLDS)
    prev_cov = prev_types = 0
    for r in rows:
        assert r.n_types <= r.threshold
        assert r.n_types >= prev_types and r.covered_tokens >= prev_cov
        assert 0 <= r.coverage_bp <= 10000
        # a threshold that swallows the whole vocab covers everything
        if r.n_types < r.threshold:
            assert r.coverage_bp == 10000
        prev_cov, prev_types = r.covered_tokens, r.n_types


def test_vocab_coverage_python_twin(spark):
    from ocr_spark.operators.quality import COV_THRESHOLDS, txt_vocab_coverage
    con = _duck_docs_con()
    counts = Counter()
    for (text,) in con.execute("SELECT text FROM documents "
                               "WHERE doc_id IS NOT NULL").fetchall():
        counts.update(t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                          (text or "").lower()) if t)
    s = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {}
    for t in COV_THRESHOLDS:
        top = ranked[:t]
        covered = sum(c for _, c in top)
        want[t] = (len(top), covered, (covered * 10000) // s)
    got = {r.threshold: (r.n_types, r.covered_tokens, r.coverage_bp)
           for r in txt_vocab_coverage(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# qr_daily_anomaly
# ---------------------------------------------------------------------------


def test_daily_anomaly_strict_boundary(spark, tmp_path):
    """A day at EXACTLY the deviation threshold (100·dev == pct·S) is
    NOT an anomaly — pins the strict inequality on both shapes."""
    from ocr_spark.operators.temporal import qr_daily_anomaly
    rows = []
    eid = 0

    def add(day, event_type, n):
        nonlocal eid
        for i in range(n):
            rows.append((eid, datetime.datetime(2024, 1, day, 8, i // 60,
                                                i % 60),
                         100 + i, event_type, 1.0, "{}"))
            eid += 1

    # type 'x': days {50, 150} → S=200, n=2, dev=100 each side →
    # 100·100·? : 100·dev = 10000 == 50·S — the exact boundary
    add(1, "x", 50)
    add(2, "x", 150)
    # type 'y': days {12, 12, 30} → S=54: day-30 dev 36 (anomaly),
    # day-12 dev 18 (clean)
    add(1, "y", 12)
    add(2, "y", 12)
    add(3, "y", 30)
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {(r.event_type, r.day): (r.n_events, r.dev_bp, r.is_anomaly)
           for r in qr_daily_anomaly(spark, d).collect()}
    assert got == {
        ("x", 0): (50, 5000, False),
        ("x", 1): (150, 5000, False),
        ("y", 0): (12, 3333, False),
        ("y", 1): (12, 3333, False),
        ("y", 2): (30, 6666, True),
    }


def test_daily_anomaly_python_twin(spark):
    from ocr_spark.operators.temporal import ANOM_DEV_PCT, qr_daily_anomaly
    con = duckdb.connect()
    daily = Counter()
    for et, day in con.execute(
            f"SELECT event_type, "
            f"datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) "
            f"FROM '{SF_DIR}/events.parquet' "
            f"WHERE event_type IS NOT NULL AND ts IS NOT NULL").fetchall():
        daily[(et, day)] += 1
    stats = defaultdict(lambda: [0, 0])
    for (et, _), c in daily.items():
        stats[et][0] += 1
        stats[et][1] += c
    want = {}
    for (et, day), c in daily.items():
        n_days, s = stats[et]
        dev = abs(c * n_days - s)
        want[(et, day)] = (c, (dev * 10000) // s,
                           100 * dev > ANOM_DEV_PCT * s)
    got = {(r.event_type, r.day): (r.n_events, r.dev_bp, r.is_anomaly)
           for r in qr_daily_anomaly(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# txt_zipf_slope
# ---------------------------------------------------------------------------


def test_zipf_exact_fixture(spark, tmp_path):
    """Power-of-two token counts make every regression term hand-
    computable: counts 8/4/2/1 → x=(0,1,1,2), y=(3,2,1,0) →
    slope = (4·3 − 4·6)/(4·6 − 16) = −1.5 exactly."""
    from ocr_spark.operators.quality import txt_zipf_slope
    docs = [(1, " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"]),
             "en", "s", 0)]
    rows = txt_zipf_slope(spark, _write_docs(spark, tmp_path, docs)).collect()
    assert [(r.n_points, r.slope_bp) for r in rows] == [(4, -15000)]


def test_zipf_python_twin(spark):
    from ocr_spark.operators.quality import ZIPF_TOP_RANKS, txt_zipf_slope
    con = _duck_docs_con()
    counts = Counter()
    for (text,) in con.execute("SELECT text FROM documents "
                               "WHERE doc_id IS NOT NULL").fetchall():
        counts.update(t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                          (text or "").lower()) if t)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [((r + 1).bit_length() - 1, c.bit_length() - 1)
           for r, (_, c) in enumerate(ranked[:ZIPF_TOP_RANKS])]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    want = (n, (10000 * (n * sxy - sx * sy)) // den)  # Python // floors
    rows = txt_zipf_slope(spark, SF_DIR).collect()
    assert [(r.n_points, r.slope_bp) for r in rows] == [want]


# ---------------------------------------------------------------------------
# qr_event_funnel
# ---------------------------------------------------------------------------


def test_funnel_ordered_chain_semantics(spark, tmp_path):
    """A purchase BEFORE the user's click arrival must not convert; an
    equal-timestamp next step does (>= semantics); steps without the
    prior step never enter the funnel."""
    from ocr_spark.operators.temporal import qr_event_funnel
    t = datetime.datetime
    ev = [
        # user 1: full ordered chain
        (1, t(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (2, t(2024, 1, 1, 10), 1, "click", 1.0, "{}"),
        (3, t(2024, 1, 1, 11), 1, "purchase", 1.0, "{}"),
        # user 2: purchase BEFORE the chain — must stop at click
        (4, t(2024, 1, 1, 8), 2, "purchase", 1.0, "{}"),
        (5, t(2024, 1, 1, 9), 2, "view", 1.0, "{}"),
        (6, t(2024, 1, 1, 10), 2, "click", 1.0, "{}"),
        # user 3: click with no view — not in the funnel at all
        (7, t(2024, 1, 1, 9), 3, "click", 1.0, "{}"),
        # user 4: view then purchase, no click — stops at view
        (8, t(2024, 1, 1, 9), 4, "view", 1.0, "{}"),
        (9, t(2024, 1, 1, 10), 4, "purchase", 1.0, "{}"),
        # user 5: view and click at the SAME microsecond — click counts
        (10, t(2024, 1, 1, 9, 0, 0, 123456), 5, "view", 1.0, "{}"),
        (11, t(2024, 1, 1, 9, 0, 0, 123456), 5, "click", 1.0, "{}"),
    ]
    d = str(tmp_path / "fev")
    spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = [(r.step_idx, r.step, r.n_users, r.conv_prev_bp, r.conv_first_bp)
           for r in qr_event_funnel(spark, d).collect()]
    assert got == [
        (1, "view", 4, 10000, 10000),
        (2, "click", 3, 7500, 7500),
        (3, "purchase", 1, 3333, 2500),
    ]


def test_funnel_python_twin(spark):
    from ocr_spark.operators.temporal import FUNNEL_STEPS, qr_event_funnel
    con = duckdb.connect()
    evs = con.execute(
        f"SELECT user_id, event_type, ts FROM '{SF_DIR}/events.parquet' "
        f"WHERE user_id IS NOT NULL AND ts IS NOT NULL").fetchall()
    by_user = defaultdict(lambda: defaultdict(list))
    for uid, et, ts in evs:
        by_user[uid][et].append(ts)
    counts = []
    arrivals = {}
    for k, step in enumerate(FUNNEL_STEPS):
        nxt = {}
        for uid, evts in by_user.items():
            if k and uid not in arrivals:
                continue
            cand = [ts for ts in evts.get(step, [])
                    if k == 0 or ts >= arrivals[uid]]
            if cand:
                nxt[uid] = min(cand)
        arrivals = nxt
        counts.append(len(nxt))
    want = [(k + 1, s, counts[k],
             (counts[k] * 10000) // (counts[k - 1] if k else counts[0]),
             (counts[k] * 10000) // counts[0])
            for k, s in enumerate(FUNNEL_STEPS)]
    got = [(r.step_idx, r.step, r.n_users, r.conv_prev_bp, r.conv_first_bp)
           for r in qr_event_funnel(spark, SF_DIR).collect()]
    assert got == want


# ---------------------------------------------------------------------------
# smp_mix_report
# ---------------------------------------------------------------------------


def test_mix_report_exact_fixture(spark, tmp_path):
    """Two sources with known weights: every output column is
    hand-computable integer arithmetic."""
    from ocr_spark.operators.quality import smp_mix_report
    docs = [
        # src0 (w10=40): 30 tokens; zz (unlisted, w10=10): 10 tokens
        (1, " ".join(f"t{i}" for i in range(30)), "en", "src0", 0),
        (2, " ".join(f"u{i}" for i in range(10)), "en", "zz", 0),
    ]
    got = {r.source: (r.tok_total, r.achieved_bp, r.target_bp,
                      r.deficit_bp, r.resample_ppm)
           for r in smp_mix_report(spark, _write_docs(spark, tmp_path, docs))
           .collect()}
    # totals: 40 tokens, Σw10 = 50
    assert got == {
        "src0": (30, 7500, 8000, 500, (40 * 40 * 1000000) // (50 * 30)),
        "zz": (10, 2500, 2000, -500, (10 * 40 * 1000000) // (50 * 10)),
    }


def test_mix_report_python_twin(spark):
    from ocr_spark.operators.quality import (_MIX_DEFAULT_W10, _MIX_W10,
                                             smp_mix_report)
    con = _duck_docs_con()
    tok = Counter()
    for source, text in con.execute(
            "SELECT source, text FROM documents "
            "WHERE doc_id IS NOT NULL").fetchall():
        # Spark split keeps leading/trailing empty fields — count them
        tok[source] += len(re.split(r"[ \t\n\x0b\f\r]+",
                                    (text or "").lower()))
    total = sum(tok.values())
    w10 = {s: _MIX_W10.get(s, _MIX_DEFAULT_W10) for s in tok}
    total_w = sum(w10.values())
    want = {s: (t, (t * 10000) // total, (w10[s] * 10000) // total_w,
                (w10[s] * 10000) // total_w - (t * 10000) // total,
                (w10[s] * total * 1000000) // (total_w * t))
            for s, t in tok.items()}
    got = {r.source: (r.tok_total, r.achieved_bp, r.target_bp,
                      r.deficit_bp, r.resample_ppm)
           for r in smp_mix_report(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# emb_cosine_hist
# ---------------------------------------------------------------------------


def test_cosine_hist_python_twin(spark):
    """Independent pair generation + binning over the SAME coded frame:
    collect codes and vectors, enumerate equal-code pairs in Python with
    the sequential dot fold, and compare the histogram exactly."""
    from ocr_spark.functions.frames import lsh_code_frame
    from ocr_spark.operators.corpus import EMB_HIST_BINS, _emb, emb_cosine_hist
    import math
    coded = lsh_code_frame(_emb(spark, SF_DIR)).collect()
    by_code = defaultdict(list)
    for r in coded:
        by_code[r.code].append((r.vec_id, r.vec, r.norm))
    hist = Counter()
    for members in by_code.values():
        members.sort()
        for i, (_, v1, n1) in enumerate(members):
            for _, v2, n2 in members[i + 1:]:
                dot = 0.0
                for x, y in zip(v1, v2):
                    dot += x * y
                cos = dot / (n1 * n2)
                hist[min(EMB_HIST_BINS - 1, math.floor((cos + 1.0) * 10.0))] \
                    += 1
    total = sum(hist.values())
    want = {b: (c, (c * 10000) // total) for b, c in hist.items()}
    got = {r.bin: (r.n_pairs, r.share_bp)
           for r in emb_cosine_hist(spark, SF_DIR).collect()}
    assert got == want and total > 0


# ---------------------------------------------------------------------------
# conv_loss_mass
# ---------------------------------------------------------------------------


def test_loss_mass_agrees_with_chat_pack_masks(spark):
    """The loss-mass report and the chat-pack loss masks must count the
    SAME units: per conversation, asst_tokens == the sum of n_tokens on
    loss=1 turns in chat_pack_placement, and n_tokens == the total."""
    from ocr_spark.operators.extraction import conv_loss_mass
    from ocr_spark.operators.quality import chat_pack_placement
    from ocr_spark.sources.synthetic import agent_transcripts
    placement = chat_pack_placement(
        agent_transcripts(spark, SF_DIR, conv_mod=25)).collect()
    want_total = Counter()
    want_loss = Counter()
    for r in placement:
        want_total[r.conv_id] += r.n_tokens
        if r.loss == 1:
            want_loss[r.conv_id] += r.n_tokens
    got = conv_loss_mass(spark, SF_DIR).collect()
    assert {r.conv_id for r in got} == set(want_total)
    for r in got:
        assert r.n_tokens == want_total[r.conv_id]
        assert r.asst_tokens == want_loss[r.conv_id]
        assert r.trainable_bp == (r.asst_tokens * 10000) // r.n_tokens
    # the conv_mod=25 surface mixes roles: trainable mass exists and is
    # never the whole conversation
    assert any(r.asst_tokens > 0 for r in got)
    assert all(r.trainable_bp < 10000 for r in got)


# ---------------------------------------------------------------------------
# dd_dup_rate_by_gate
# ---------------------------------------------------------------------------


def test_dup_by_gate_planted_interaction(spark, tmp_path):
    """Duplicates planted ONLY among gate-failing junk must show up as
    dup_bp > 0 on the fail row and 0 on the pass row."""
    from ocr_spark.operators.quality import dd_dup_rate_by_gate
    junk = "spam " * 30            # top-token share 100% → gate fail
    good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon ")
    docs = [
        (1, junk, "en", "s", 0), (2, junk, "en", "s", 0),   # planted dups
        (3, good + "one", "en", "s", 0),
        (4, good + "two", "en", "s", 0),
        (5, good + "three", "en", "s", 0),
    ]
    got = {r.gate_pass: (r.n_docs, r.n_dup_docs, r.dup_bp)
           for r in dd_dup_rate_by_gate(
               spark, _write_docs(spark, tmp_path, docs)).collect()}
    assert got == {False: (2, 2, 10000), True: (3, 0, 0)}


def test_dup_by_gate_conserves_doc_count(spark):
    from ocr_spark.operators.quality import dd_dup_rate_by_gate
    con = _duck_docs_con()
    n = con.execute("SELECT COUNT(*) FROM documents "
                    "WHERE doc_id IS NOT NULL").fetchone()[0]
    rows = dd_dup_rate_by_gate(spark, SF_DIR).collect()
    assert sum(r.n_docs for r in rows) == n
    assert all(r.dup_bp == (r.n_dup_docs * 10000) // r.n_docs for r in rows)


# ---------------------------------------------------------------------------
# qr_bot_detection
# ---------------------------------------------------------------------------


def test_bot_detection_strict_rate_boundary(spark, tmp_path):
    """Exactly RATE·minutes events is NOT a bot (strict >); one more
    is. Active minutes count distinct truncated buckets, not elapsed
    time."""
    from ocr_spark.operators.temporal import qr_bot_detection
    t = datetime.datetime
    ev = []
    # user 1: 10 events across 2 active minutes → 500 x100, bot
    for i in range(10):
        ev.append((len(ev), t(2024, 1, 1, 9, i % 2, i), 1, "click",
                   1.0, "{}"))
    # user 2: 3 events in 3 minutes → 100 x100, clean
    for i in range(3):
        ev.append((len(ev), t(2024, 1, 1, 9, i), 2, "view", 1.0, "{}"))
    # user 3: 6 events in 2 minutes → exactly 3/min — NOT a bot
    for i in range(6):
        ev.append((len(ev), t(2024, 1, 1, 9, i % 2, 10 + i), 3, "view",
                   1.0, "{}"))
    d = str(tmp_path / "bev")
    spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {r.user_id: (r.n_events, r.n_active_minutes,
                       r.events_per_min_x100, r.is_bot)
           for r in qr_bot_detection(spark, d).collect()}
    assert got == {
        1: (10, 2, 500, True),
        2: (3, 3, 100, False),
        3: (6, 2, 300, False),
    }


# ---------------------------------------------------------------------------
# dd_jaccard_threshold_sweep
# ---------------------------------------------------------------------------


def test_sweep_monotone_and_agrees_with_jaccard_op(spark):
    """The curve must be nonincreasing in the threshold, and its 5000bp
    point must count exactly dd_ngram_jaccard's pairs — the integer
    cross-multiply n·10⁴ ≥ 5000·union is algebraically the same test as
    the op's raw-quotient ≥ 0.5."""
    from ocr_spark.operators.corpus import (SWEEP_THRESHOLDS_BP,
                                            dd_jaccard_threshold_sweep,
                                            dd_ngram_jaccard)
    rows = dd_jaccard_threshold_sweep(spark, SF_DIR).collect()
    got = {r.thr_bp: (r.n_pairs, r.n_dropped_docs) for r in rows}
    assert set(got) <= set(SWEEP_THRESHOLDS_BP)
    prev_pairs = prev_dropped = None
    for t in sorted(got):
        n_pairs, n_dropped = got[t]
        assert n_dropped <= n_pairs
        if prev_pairs is not None:
            assert n_pairs <= prev_pairs and n_dropped <= prev_dropped
        prev_pairs, prev_dropped = n_pairs, n_dropped
    n_at_half = len(dd_ngram_jaccard(spark, SF_DIR).collect())
    assert got.get(5000, (0, 0))[0] == n_at_half


# ---------------------------------------------------------------------------
# sim_hard_negatives
# ---------------------------------------------------------------------------


def test_hard_negatives_exclude_neardups_and_keep_bm25_order(spark):
    from ocr_spark.operators.corpus import (NEG_TOPK, sim_bm25_topk,
                                            dd_ngram_jaccard,
                                            sim_hard_negatives)
    # NEG_EXCLUDE_BP == 5000 == dd_ngram_jaccard's 0.5 cutoff, so the
    # op's exclusion set IS that op's pair list
    dups = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
            for r in dd_ngram_jaccard(spark, SF_DIR).collect()}
    bm = defaultdict(list)
    for r in sim_bm25_topk(spark, SF_DIR).collect():
        bm[r.query_id].append((r.rank, r.cand_id, r.score_bp))
    want = {}
    for q, cands in bm.items():
        kept = [(c, s) for rank, c, s in sorted(cands)
                if (min(q, c), max(q, c)) not in dups]
        want[q] = [(i + 1, c, s) for i, (c, s) in
                   enumerate(kept[:NEG_TOPK])]
    got = defaultdict(list)
    for r in sim_hard_negatives(spark, SF_DIR).collect():
        got[r.query_id].append((r.neg_rank, r.cand_id, r.score_bp))
    assert dict(got) == {q: v for q, v in want.items() if v}
    for q, negs in got.items():
        for _, c, _ in negs:
            assert (min(q, c), max(q, c)) not in dups


# ---------------------------------------------------------------------------
# conv_system_templates
# ---------------------------------------------------------------------------


def test_system_templates_coverage_conserved(spark):
    from ocr_spark.operators.extraction import (SYS_TEMPLATE_TOPK,
                                                conv_system_templates)
    rows = conv_system_templates(spark, SF_DIR).collect()
    assert 0 < len(rows) <= SYS_TEMPLATE_TOPK
    # conv_mod=25 surface: 25 conversations total
    assert sum(r.n_conv_uses for r in rows) <= 25
    uses = [r.n_conv_uses for r in rows]
    assert uses == sorted(uses, reverse=True)
    for r in rows:
        assert r.coverage_bp == (r.n_conv_uses * 10000) // 25
        assert r.example_conv is not None


# ---------------------------------------------------------------------------
# qr_cohort_value
# ---------------------------------------------------------------------------


def test_cohort_value_excludes_presignup_and_floors_cents(spark, tmp_path):
    """A purchase BEFORE the user's first signup week never lands in the
    triangle; purchases by never-signed-up users are dropped; cents are
    floor(value·100 + 0.5) of the IEEE double."""
    import math
    from ocr_spark.operators.temporal import qr_cohort_value
    t = datetime.datetime
    ev = [
        # user 1: signup in week 1; purchases in weeks 1 and 3 land at
        # ages 0 and 2; the week-0 purchase is PRE-signup and must drop
        (1, t(2024, 1, 3), 1, "purchase", 5.0, "{}"),      # week 0: out
        (2, t(2024, 1, 10), 1, "signup", 0.0, "{}"),       # week 1
        (3, t(2024, 1, 11), 1, "purchase", 10.005, "{}"),  # age 0
        (4, t(2024, 1, 24), 1, "purchase", 2.5, "{}"),     # age 2
        # user 2: purchase with no signup at all — never in the triangle
        (5, t(2024, 1, 10), 2, "purchase", 99.0, "{}"),
    ]
    d = str(tmp_path / "cv")
    spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {(r.cohort_week, r.age_weeks): (r.n_purchases, r.value_cents)
           for r in qr_cohort_value(spark, d).collect()}
    cents = math.floor(10.005 * 100 + 0.5)  # the exact IEEE-double floor
    assert got == {(1, 0): (1, cents), (1, 2): (1, 250)}


def test_cohort_value_python_twin(spark):
    import math
    from ocr_spark.operators.temporal import qr_cohort_value
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_type, "
        f"datediff('day', DATE '2024-01-01', CAST(ts AS DATE)), value "
        f"FROM '{SF_DIR}/events.parquet' "
        f"WHERE user_id IS NOT NULL AND ts IS NOT NULL").fetchall()
    cohort = {}
    for uid, et, d, _ in rows:
        if et == "signup":
            w = (d - ((d % 7) + 7) % 7) // 7
            cohort[uid] = min(cohort.get(uid, w), w)
    agg = defaultdict(lambda: [0, 0])
    for uid, et, d, v in rows:
        if et == "purchase" and uid in cohort:
            w = (d - ((d % 7) + 7) % 7) // 7
            if w >= cohort[uid]:
                cell = agg[(cohort[uid], w - cohort[uid])]
                cell[0] += 1
                cell[1] += math.floor(v * 100 + 0.5)
    want = {k: tuple(v) for k, v in agg.items()}
    got = {(r.cohort_week, r.age_weeks): (r.n_purchases, r.value_cents)
           for r in qr_cohort_value(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# dd_bloom_fpr_curve
# ---------------------------------------------------------------------------


def test_bloom_fpr_curve_monotone_no_false_negatives(spark):
    """FP rate must fall (weakly) as the filter widens; true dups are
    flagged at EVERY size (no false negatives at any m); the flag
    arithmetic must reconcile."""
    from ocr_spark.operators.corpus import (BLOOM_SWEEP_EXTRA,
                                            dd_bloom_fpr_curve)
    rows = dd_bloom_fpr_curve(spark, SF_DIR).collect()
    assert [r.extra_bits for r in rows] == sorted(BLOOM_SWEEP_EXTRA)
    prev_fpr = None
    n_true_dups = {r.n_batch - r.n_novel for r in rows}
    assert len(n_true_dups) == 1  # exact-dup count is size-independent
    for r in rows:
        # every exact dup is bloom-flagged: bloom_dup - false_pos
        # recovers the true-dup count exactly
        assert r.n_bloom_dup - r.n_false_pos == r.n_batch - r.n_novel
        assert r.fpr_bp == (r.n_false_pos * 10000) // r.n_novel
        if prev_fpr is not None:
            assert r.fpr_bp <= prev_fpr
        prev_fpr = r.fpr_bp
    assert rows[0].n_false_pos > 0, "the m≈n point must saturate"
    assert rows[-1].fpr_bp < rows[0].fpr_bp


# ---------------------------------------------------------------------------
# conv_turn_profile
# ---------------------------------------------------------------------------


def test_turn_profile_shares_conserved(spark):
    from ocr_spark.operators.extraction import conv_turn_profile
    rows = conv_turn_profile(spark, SF_DIR).collect()
    assert {r.role for r in rows} == {"user", "assistant", "tool", "system"}
    by_role = defaultdict(list)
    for r in rows:
        assert r.bucket >= 0 and r.n_turns > 0
        assert r.share_bp >= 0
        by_role[r.role].append(r)
    for role, rs in by_role.items():
        total = sum(r.n_turns for r in rs)
        for r in rs:
            assert r.share_bp == (r.n_turns * 10000) // total
        # floor shares sum to within one unit per bucket of 10000
        assert 10000 - len(rs) < sum(r.share_bp for r in rs) <= 10000


# ---------------------------------------------------------------------------
# dd_dup_cluster_hist
# ---------------------------------------------------------------------------


def test_dup_cluster_hist_planted_sizes(spark, tmp_path):
    from ocr_spark.operators.corpus import dd_dup_cluster_hist
    docs = [
        (1, "unique one", "en", "s", 0),
        (2, "unique two", "en", "s", 0),
        (3, "unique three", "en", "s", 0),
        (4, "pair text", "en", "s", 0),
        (5, "PAIR   text", "en", "s", 0),          # normalizes equal
        (6, "triple", "en", "s", 0),
        (7, "triple", "en", "s", 0),
        (8, "  triple", "en", "s", 0),             # leading ws differs!
    ]
    got = {r.size: (r.n_clusters, r.n_docs_at, r.doc_share_bp)
           for r in dd_dup_cluster_hist(
               spark, _write_docs(spark, tmp_path, docs)).collect()}
    # "  triple" normalizes to " triple" (runs collapse, no strip) — a
    # SEPARATE cluster from "triple"; sizes: five 1s? no: uniques 1,2,3
    # + " triple" → four singletons, one pair, one pair-of-triple
    assert got == {
        1: (4, 4, 5000),
        2: (2, 4, 5000),
    }


def test_dup_cluster_hist_conserves_docs(spark):
    from ocr_spark.operators.corpus import dd_dup_cluster_hist
    con = _duck_docs_con()
    n = con.execute("SELECT COUNT(*) FROM documents "
                    "WHERE doc_id IS NOT NULL").fetchone()[0]
    rows = dd_dup_cluster_hist(spark, SF_DIR).collect()
    assert sum(r.n_docs_at for r in rows) == n
    assert all(r.n_docs_at == r.size * r.n_clusters for r in rows)


# ---------------------------------------------------------------------------
# qr_interarrival_hist
# ---------------------------------------------------------------------------


def test_interarrival_day_local_and_tie_gaps(spark, tmp_path):
    """Gaps are day-local (no cross-midnight gap), equal-timestamp
    consecutive events produce a bucket-0 gap, and buckets are the
    exact floor-log2 of the microsecond difference."""
    from ocr_spark.operators.temporal import qr_interarrival_hist
    t = datetime.datetime
    ev = [
        (1, t(2024, 1, 1, 9, 0, 0, 0), 1, "x", 1.0, "{}"),
        (2, t(2024, 1, 1, 9, 0, 0, 1), 1, "x", 1.0, "{}"),   # gap 1 → b1
        (3, t(2024, 1, 1, 9, 0, 0, 1), 1, "x", 1.0, "{}"),   # gap 0 → b0
        (4, t(2024, 1, 1, 9, 0, 0, 9), 1, "x", 1.0, "{}"),   # gap 8 → b4
        (5, t(2024, 1, 2, 9, 0, 0, 0), 1, "x", 1.0, "{}"),   # new day: none
    ]
    d = str(tmp_path / "ia")
    spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {(r.event_type, r.gap_bucket): (r.n_gaps, r.share_bp)
           for r in qr_interarrival_hist(spark, d).collect()}
    assert got == {
        ("x", 0): (1, 3333),
        ("x", 1): (1, 3333),
        ("x", 4): (1, 3333),
    }


# ---------------------------------------------------------------------------
# smp_eval_holdout
# ---------------------------------------------------------------------------


def test_eval_holdout_python_twin(spark):
    """Independent recompute of the md5-bridge admission and floor-log2
    bucketing — and the bridge property itself: the eval side is a pure
    doc_id function (any partitioning, any engine)."""
    from ocr_spark.operators.quality import EVAL_HOLDOUT_BP, smp_eval_holdout
    con = _duck_docs_con()
    agg = defaultdict(lambda: [0, 0])
    for doc_id, text in con.execute(
            "SELECT doc_id, text FROM documents "
            "WHERE doc_id IS NOT NULL").fetchall():
        n = len([t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                     (text or "").lower()) if t])
        bucket = n.bit_length() if n > 0 else 0
        h = int(hashlib.md5(f"{doc_id}:eval".encode()).hexdigest()[:16], 16)
        is_eval = ((h - (1 << 63)) % 10000 + 10000) % 10000 < EVAL_HOLDOUT_BP
        agg[bucket][0] += 1
        agg[bucket][1] += int(is_eval)
    want = {b: (t, e, (e * 10000) // t) for b, (t, e) in agg.items()}
    got = {r.bucket: (r.n_total, r.n_eval, r.eval_bp)
           for r in smp_eval_holdout(spark, SF_DIR).collect()}
    assert got == want
    assert sum(e for _, e, _ in want.values()) > 0, "eval side non-empty"


# ---------------------------------------------------------------------------
# txt_hapax_by_source
# ---------------------------------------------------------------------------


def test_hapax_planted_rates(spark, tmp_path):
    from ocr_spark.operators.quality import txt_hapax_by_source
    docs = [
        (1, "a a b", "en", "srcA", 0),          # vocab {a:2, b:1} → 1/2
        (2, "x y z", "en", "srcB", 0),          # all hapax → 3/3
        (3, "x y z", "en", "srcB", 0),          # repeat doc: no hapax left
    ]
    got = {r.source: (r.vocab_size, r.n_hapax, r.n_tokens, r.hapax_bp)
           for r in txt_hapax_by_source(
               spark, _write_docs(spark, tmp_path, docs)).collect()}
    assert got == {
        "srcA": (2, 1, 3, 5000),
        "srcB": (3, 0, 6, 0),
    }


# ---------------------------------------------------------------------------
# plan pins
# ---------------------------------------------------------------------------


def test_entropy_plan_is_map_only(spark):
    """The per-doc entropy fold must never hash-shuffle the corpus: the
    only exchange in the plan is the output orderBy's range partition."""
    from ocr_spark.operators.quality import txt_entropy
    plan = txt_entropy(spark, SF_DIR)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "hashpartitioning" not in plan
