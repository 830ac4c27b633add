"""Corpus-quality operator edges: differential oracle checks on
hand-built edge corpora (beyond the well-formed testdata), plan pins,
and partitioning invariance. The sf0.001 oracle compare for these
queries runs in test_operators.py via the ALL_QUERIES parametrize."""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


EDGE_DOCS = [
    # doc_id, text, lang, source, n_chars
    (0, "word", "en", "s", 4),                        # 1 token: no bigrams
    (2, "a a a a a a a a", "en", "s", 15),            # maximal repetition
    (3, "x y " * 30 + "x y", "en", "s", 122),         # repeated bigram
    (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon", "de", "s", 104),
    (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "shared tail of ten tokens exactly here now ok done", "fr", "s", 104),
    (97 * 1, "alpha beta gamma delta epsilon unrelated words in bench",
     "en", "s", 50),                                  # benchmark doc (id%97==0)
    (194, "totally disjoint benchmark content nothing shared at all",
     "zh", "s", 50),
    (6, "", "es", "s", 0),                            # empty text
]


def _edge_dir(spark, tmp_path):
    d = str(tmp_path / "edge")
    spark.createDataFrame(
        EDGE_DOCS,
        "doc_id long, text string, lang string, source string, n_chars long"
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
    "txt_repetition", "txt_pii_scrub", "txt_contamination",
    "smp_stratified", "smp_token_budget", "smp_pack_sequences",
    "smp_pack_assembly", "dd_chunk_dup", "dd_substring_dup",
    "txt_gopher_gate", "smp_epoch_mix", "txt_chunk_windows",
    "smp_quality_weighted", "dd_chunk_dedup_strip", "txt_blocklist_filter",
    "dd_effective_tokens"])
def test_edge_corpus_matches_oracle(spark, tmp_path, name):
    """Single-token docs, empty text, maximal repetition, planted shared
    chunks/shingles: Spark and DuckDB must agree row-for-row on the edge
    corpus, not just on the well-formed testdata."""
    from ocr_spark.operators import ALL_QUERIES
    fn, sql = ALL_QUERIES[name]
    d = _edge_dir(spark, tmp_path)
    sdf = fn(spark, d)
    drows, dcols = _duck_on(d, sql)
    assert _canon([tuple(r) for r in sdf.collect()], sdf.columns) == \
        _canon(drows, dcols), f"{name} diverges on the edge corpus"


def test_repetition_signals_on_known_docs(spark, tmp_path):
    from ocr_spark.operators.quality import txt_repetition
    d = _edge_dir(spark, tmp_path)
    rows = {r.doc_id: r for r in txt_repetition(spark, d).collect()}
    assert 0 not in rows          # single-token doc has no bigrams
    assert rows[2].top_token_bp == 10000     # all tokens identical
    assert rows[2].dup_bigram_bp == 10000    # every bigram repeats
    assert rows[4].dup_bigram_bp == 0        # all-distinct tokens


def test_chunk_dup_finds_planted_shared_chunk(spark, tmp_path):
    """Docs 4 and 5 share their first 10-token chunk exactly; every other
    chunk is unique, so both docs report n_shared == 1."""
    from ocr_spark.operators.quality import dd_chunk_dup
    d = _edge_dir(spark, tmp_path)
    rows = {r.doc_id: r for r in dd_chunk_dup(spark, d).collect()}
    assert rows[4].n_shared == 1 and rows[5].n_shared == 1
    assert rows[4].n_chunks == 2
    lone = rows[6]
    assert lone.n_shared == 0     # empty doc's chunk is its own


def test_substring_dup_catches_shifted_overlap(spark, tmp_path):
    """A shared >= k+w-1-token run planted at DIFFERENT offsets in two
    docs: dd_chunk_dup's disjoint 10-token chunks miss it (the run
    straddles chunk boundaries at the shifted offset), while the sliding
    winnowed fingerprints must flag BOTH docs — the whole point of the
    substring-level pass."""
    import os
    from ocr_spark.operators.quality import (dd_chunk_dup,
                                             dd_substring_dup)
    run = ("the quick brown fox jumps over the lazy dog while seven "
           "anxious zebras watch")  # 14 tokens > k+w-1 = 11
    rows = [
        (1, "intro words here " + run + " tail one", "en", "s", 0),
        # same run shifted by 7 tokens relative to doc 1
        (2, "a b c d e f g " + run + " different ending follows now",
         "en", "s", 0),
        (3, "completely unrelated filler text nothing shared with any "
            "other document in this tiny corpus at all honestly",
         "en", "s", 0),
    ]
    d = str(tmp_path / "shift")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    sub = {r.doc_id: r for r in dd_substring_dup(spark, d).collect()}
    assert sub[1].n_shared >= 1 and sub[2].n_shared >= 1
    assert sub[3].n_shared == 0
    chunk = {r.doc_id: r for r in dd_chunk_dup(spark, d).collect()}
    assert chunk[1].n_shared == 0 and chunk[2].n_shared == 0, \
        "planted shift no longer straddles the chunk grid; fix the fixture"


def test_contamination_hits_only_bench_overlap(spark, tmp_path):
    """Doc 4 shares the 5-gram 'alpha beta gamma delta epsilon' with
    benchmark doc 97; doc 5 shares it too; nothing overlaps doc 194."""
    from ocr_spark.operators.quality import txt_contamination
    d = _edge_dir(spark, tmp_path)
    rows = {r.doc_id: r.n_hits for r in txt_contamination(spark, d).collect()}
    assert rows == {4: 1, 5: 1}


def test_pii_scrub_redacts_everything(spark):
    """Every doc that had a synthetic PII item injected must report it
    detected (the scrub_hash end-to-end redaction parity is covered by
    the oracle compare; this pins the detection floor corpus-wide)."""
    from ocr_spark.operators.quality import txt_pii_scrub
    df = txt_pii_scrub(spark, SF_DIR)
    # every even doc_id gains exactly one synthetic email, %3 one phone, %5 one ip
    bad = df.where(
        ((F.col("doc_id") % 2 == 0) & (F.col("n_email") < 1))
        | ((F.col("doc_id") % 3 == 0) & (F.col("n_phone") < 1))
        | ((F.col("doc_id") % 5 == 0) & (F.col("n_ip") < 1))).count()
    assert bad == 0


def test_contamination_broadcasts_benchmark_side(spark):
    from ocr_spark.operators.quality import txt_contamination
    from ocr_spark.plans import (has_broadcast_hash_join,
                                 has_sort_merge_join)
    df = txt_contamination(spark, SF_DIR)
    assert has_broadcast_hash_join(df), "benchmark shingles must broadcast"
    assert not has_sort_merge_join(df), \
        "corpus-side shingles must not shuffle for the benchmark join"


def test_stratified_sample_partitioning_invariant(spark):
    """The md5-bridge sampling decision is per-row deterministic: the
    same doc keeps the same fate at any parallelism / partition layout."""
    from ocr_spark.operators.quality import smp_stratified
    a = sorted(tuple(r) for r in smp_stratified(spark, SF_DIR).collect())
    sf1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # same computation over a deliberately repartitioned clone
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        sf1.repartition(13).write.parquet(os.path.join(d, "documents.parquet"))
        b = sorted(tuple(r) for r in smp_stratified(spark, d).collect())
    assert a == b


def test_token_budget_monotone_per_lang(spark):
    """kept is a prefix property: once a lang's running total passes the
    budget, no later doc (by doc_id) in that lang is kept."""
    from ocr_spark.operators.quality import smp_token_budget
    rows = smp_token_budget(spark, SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        seen_drop = False
        for r in rs:
            if r.kept == 0:
                seen_drop = True
            assert not (seen_drop and r.kept == 1), \
                f"{lang}: doc {r.doc_id} kept after budget exhausted"


def test_run_fold_matches_counter_reference(spark):
    """with_repetition_signals' sort-run folds vs a Counter-based Python
    reference over crafted token arrays: empty-string tokens (regex split
    of edge whitespace produces them), all-same, alternating, singleton
    runs at both ends, and seeded random docs."""
    import random
    from collections import Counter

    from ocr_spark.functions.quality import with_repetition_signals

    rng = random.Random(7)
    docs = [
        ["", "", "a"], ["x"] * 40, ["a", "b"] * 10,
        ["z", "m", "m", "z"], ["a"], [],
        ["", "a", "", "a", ""],
    ] + [[rng.choice("abcde") for _ in range(rng.randint(2, 60))]
         for _ in range(60)]
    sdf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, t array<string>")
    got = {r.doc_id: r for r in with_repetition_signals(sdf).collect()}
    for i, toks in enumerate(docs):
        r = got[i]
        if len(toks) < 2:
            assert (r.n_tok, r.max_tok, r.max_bg, r.n_bg, r.dup_bg) == \
                (None,) * 5, toks
            continue
        uni = Counter(toks)
        bgs = Counter(f"{a} {b}" for a, b in zip(toks, toks[1:]))
        assert r.n_tok == len(toks)
        assert r.max_tok == max(uni.values()), toks
        assert r.max_bg == max(bgs.values()), toks
        assert r.n_bg == len(toks) - 1
        assert r.dup_bg == sum(c for c in bgs.values() if c >= 2), toks

def test_pack_sequences_placement_invariants(spark, tmp_path):
    """Packing placement must tile each (lang, source) shard's token
    stream exactly: starts at 0, consecutive (tok_start gaps == token
    counts), offsets inside the sequence length, span arithmetic exact —
    and be invariant to input partitioning."""
    import os

    from ocr_spark.functions.frames import PACK_SEQ_LEN
    from ocr_spark.operators.quality import smp_pack_sequences

    docs = [(i, " ".join(f"w{j}" for j in range(37 * (i % 9 + 1))),
             ["en", "de"][i % 2], "s", 0) for i in range(60)]
    d = str(tmp_path / "pack")
    sdf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sdf.write.parquet(os.path.join(d, "documents.parquet"))
    rows = smp_pack_sequences(spark, d).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault((r.lang, r.source), []).append(r)
    for shard in by_shard.values():
        shard.sort(key=lambda r: r.doc_id)
        pos = 0
        for r in shard:
            assert r.tok_start == pos, "stream has a gap or overlap"
            assert 0 <= r.seq_offset < PACK_SEQ_LEN
            assert r.first_seq == r.tok_start // PACK_SEQ_LEN
            last = (r.tok_start + r.n_tokens_b - 1) // PACK_SEQ_LEN
            assert r.n_seqs == last - r.first_seq + 1 >= 1
            pos += r.n_tokens_b
    # partition invariance
    sdf.repartition(13).write.parquet(
        os.path.join(str(tmp_path / "pack2"), "documents.parquet"))
    again = smp_pack_sequences(spark, str(tmp_path / "pack2")).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))

def test_pack_assembly_tiles_exactly(spark, tmp_path):
    """Per-sequence view must conserve tokens (sum over sequences ==
    shard token totals) and fill every non-tail sequence to exactly
    PACK_SEQ_LEN."""
    import os

    from ocr_spark.functions.frames import PACK_SEQ_LEN
    from ocr_spark.operators.quality import smp_pack_assembly

    docs = [(i, " ".join(f"w{j}" for j in range(41 * (i % 7 + 1))),
             ["en", "de"][i % 2], "s", 0) for i in range(50)]
    d = str(tmp_path / "pasm")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = smp_pack_assembly(spark, d).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault((r.lang, r.source), []).append(r)
    total_toks = sum(41 * (i % 7 + 1) for i in range(50))
    assert sum(r.n_seq_tokens for r in rows) == total_toks
    for shard in by_shard.values():
        shard.sort(key=lambda r: r.seq_id)
        assert [r.seq_id for r in shard] == list(range(len(shard)))
        for r in shard[:-1]:
            assert r.n_seq_tokens == PACK_SEQ_LEN, "non-tail seq not full"
        assert 0 < shard[-1].n_seq_tokens <= PACK_SEQ_LEN
        # doc-id ranges are contiguous across consecutive sequences
        for a, b in zip(shard, shard[1:]):
            assert b.first_doc >= a.first_doc
            assert b.first_doc in (a.last_doc, a.last_doc + 1) or \
                b.first_doc == a.last_doc

def test_pack_two_level_scan_matches_naive_window(spark):
    """The distributed two-level prefix sum must be BIT-IDENTICAL to the
    naive one-window-per-shard plan — on dense small ids (all in one
    coarse bucket) AND on md5-long-style ids spread across the whole
    signed-64 space (many buckets, the production case)."""
    from pyspark.sql.window import Window as W

    from ocr_spark.functions.text import TOKENS_EXPR
    from ocr_spark.functions.frames import PACK_SEQ_LEN, pack_placement_from

    def naive(docs):
        d = docs.selectExpr(
            "doc_id", "lang", "source",
            f"CAST(size({TOKENS_EXPR}) AS BIGINT) AS n_tokens_b")
        w = (W.partitionBy("lang", "source").orderBy("doc_id")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
        return (d.withColumn("tok_start",
                             F.sum("n_tokens_b").over(w)
                             - F.col("n_tokens_b"))
                .withColumn("first_seq",
                            F.expr(f"tok_start DIV {PACK_SEQ_LEN}"))
                .withColumn("seq_offset",
                            F.expr(f"tok_start % {PACK_SEQ_LEN}"))
                .withColumn("n_seqs", F.expr(
                    f"(tok_start + n_tokens_b - 1) DIV {PACK_SEQ_LEN}"
                    f" - first_seq + 1")))

    import hashlib

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:16], 16) - 2**63

    cols = ("doc_id long, text string, lang string, source string, "
            "n_chars long")
    dense = [(i, " ".join(f"w{j}" for j in range(23 * (i % 5 + 1))),
              ["en", "de"][i % 2], "s", 0) for i in range(80)]
    spread = [(md5_long(f"doc{i}"),
               " ".join(f"w{j}" for j in range(23 * (i % 5 + 1))),
               ["en", "de"][i % 2], "s", 0) for i in range(80)]
    for rows in (dense, spread):
        docs = spark.createDataFrame(rows, cols).repartition(7)
        got = sorted(map(tuple, pack_placement_from(docs)
                         .select("doc_id", "lang", "source", "n_tokens_b",
                                 "tok_start", "first_seq", "seq_offset",
                                 "n_seqs").collect()))
        want = sorted(map(tuple, naive(docs)
                          .select("doc_id", "lang", "source", "n_tokens_b",
                                  "tok_start", "first_seq", "seq_offset",
                                  "n_seqs").collect()))
        assert got == want
        # spread ids actually exercise many coarse buckets
    n_buckets = len({r[0] >> 52 for r in spread})
    assert n_buckets > 40, "spread fixture no longer spans buckets"


def test_source_mix_partition_invariant(spark, tmp_path):
    """The md5-bridge admission makes smp_source_mix's decision per-doc
    deterministic: the same corpus repartitioned arbitrarily must yield
    byte-identical per-source keep counts (the property that makes the
    mixing pass reproducible and resumable at 100 TB)."""
    from ocr_spark.operators.quality import smp_source_mix

    docs = [(i, f"src{i % 3}", " ".join(f"w{j}" for j in range(i % 17 + 1)))
            for i in range(300)]
    base = spark.createDataFrame(docs, "doc_id long, source string, text string") \
        .selectExpr("doc_id", "text", "'en' AS lang", "source",
                    "length(text) AS n_chars")
    out = {}
    for n, tag in [(1, "one"), (7, "seven"), (32, "many")]:
        sf = str(tmp_path / tag)
        base.repartition(n).write.mode("overwrite") \
            .parquet(f"{sf}/documents.parquet")
        out[tag] = [tuple(r) for r in
                    smp_source_mix(spark, sf).collect()]
    assert out["one"] == out["seven"] == out["many"]
    assert sum(r[2] for r in out["one"]) > 0  # something kept


def test_lm_unigram_score_hand_computed_and_rarity_orders(spark, tmp_path):
    """Bit-quantized self-information on a corpus small enough to check
    by hand, plus the semantic property: a doc of corpus-common tokens
    scores LOWER mean surprise than a doc of corpus-unique tokens."""
    import os

    from ocr_spark.operators.quality import txt_lm_unigram_score

    docs = [
        (0, "a a a", "en", "s", 5),     # 'a' x3
        (1, "b", "en", "s", 1),         # 'b' x1 -> N=4
        (2, "rare1 rare2 rare3", "en", "s", 17),
    ]
    d = str(tmp_path / "lm")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in txt_lm_unigram_score(spark, d).collect()}
    # N = 7 tokens total; c(a)=3 -> bits=len(bin(7//3=2))=2;
    # c(b)=1 -> bits=len(bin(7))=3; c(rare*)=1 -> 3 each
    assert rows[0].n_tokens == 3 and rows[0].sum_bits == 6
    assert rows[0].mean_bits_bp == 20000
    assert rows[1].sum_bits == 3 and rows[1].mean_bits_bp == 30000
    assert rows[2].sum_bits == 9 and rows[2].mean_bits_bp == 30000
    # common-token doc scores strictly lower surprise than unique-token doc
    assert rows[0].mean_bits_bp < rows[2].mean_bits_bp


def test_temperature_mix_flattens_shares(spark, tmp_path):
    """alpha=0.5 temperature mixing must damp the dominant source and
    relatively upweight the small one: the dominant source's acceptance
    rate is strictly below the small source's, and kept token shares sit
    closer together than input shares. Also partition-invariant (md5
    bridge)."""
    import os

    from ocr_spark.operators.quality import smp_temperature_mix

    docs = []
    for i in range(270):        # big: 270 docs x 20 tokens
        docs.append((i, " ".join(f"w{j}" for j in range(20)),
                     "en", "big", 100))
    for i in range(30):         # small: 30 docs x 20 tokens
        docs.append((1000 + i, " ".join(f"v{j}" for j in range(20)),
                     "en", "small", 100))
    base = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = {}
    for n, tag in [(1, "one"), (13, "many")]:
        d = str(tmp_path / tag)
        base.repartition(n).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet"))
        out[tag] = {r.source: r for r in
                    smp_temperature_mix(spark, d).collect()}
    assert ({(s, r.n_kept, r.tok_kept) for s, r in out["one"].items()}
            == {(s, r.n_kept, r.tok_kept) for s, r in out["many"].items()})
    big, small = out["one"]["big"], out["one"]["small"]
    # sqrt temperature: small source rate strictly above dominant's
    assert small.rate_ppm > big.rate_ppm
    # kept shares closer than input shares (flattening, never upsampling)
    in_share = big.tok_total / (big.tok_total + small.tok_total)
    kept_share = big.tok_kept / max(1, big.tok_kept + small.tok_kept)
    assert kept_share < in_share
    assert small.tok_kept <= small.tok_total  # capped at 1: no upsample


def _gopher_dir(spark, tmp_path, docs):
    d = str(tmp_path / "gopher")
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_gopher_gate_flags_planted_violations(spark, tmp_path):
    """One doc violating each Gopher rule in isolation (plus one clean
    pass): the gate must fail exactly the planted flag, and the whole
    frame must match the DuckDB oracle on the same corpus (the integer
    cross-multiply math is engine-identical by construction)."""
    from ocr_spark.operators.quality import txt_gopher_gate, TXT_GOPHER_SQL

    clean = " ".join(["the", "cat", "sat", "with", "food"] * 12)  # 60 words
    docs = [
        (1, clean, "en", "s", len(clean)),                 # passes all
        (2, "the cat with dog", "en", "s", 16),            # too few words
        (3, " ".join(["extraordinarily", "incomprehensibilities"] * 30),
         "en", "s", 0),                                    # mean len > 10
        (4, clean + " " + " ".join(["#"] * 7), "en", "s", 0),  # symbols
        (5, "\n".join(["- " + clean[:20]] * 10), "en", "s", 0),  # bullets
        (6, "\n".join([clean[:20] + "..."] * 10), "en", "s", 0),  # ellipsis
        (7, " ".join(["123", "456"] * 30), "en", "s", 0),  # non-alpha
        (8, " ".join(["cat", "dog", "fox"] * 20), "en", "s", 0),  # no stops
    ]
    d = _gopher_dir(spark, tmp_path, docs)
    rows = {r.doc_id: r for r in txt_gopher_gate(spark, d).collect()}
    assert rows[1].passed == 1
    expect_fail = {2: "f_words", 3: "f_meanlen", 4: "f_symbol",
                   5: "f_bullet", 6: "f_ellip", 7: "f_alpha", 8: "f_stop"}
    for doc_id, flag in expect_fail.items():
        assert rows[doc_id][flag] == 0, f"doc {doc_id} should fail {flag}"
        assert rows[doc_id].passed == 0
    # the isolated-violation docs keep the clean doc's OTHER flags green
    assert rows[2].f_meanlen == 1 and rows[2].f_alpha == 1
    assert rows[5].f_words == 0 or rows[5].f_bullet == 0  # bullet is the gate
    # differential vs the oracle on this corpus
    sdf = txt_gopher_gate(spark, d)
    drows, dcols = _duck_on(d, TXT_GOPHER_SQL)
    assert _canon([tuple(r) for r in sdf.collect()], sdf.columns) == \
        _canon(drows, dcols)


def test_epoch_mix_copies_and_replicate(spark, tmp_path):
    """Integer rates replicate exactly (src0 -> 3 copies each, default
    sources -> 1), and fractional rates admit the md5-bridge fraction
    into {floor, floor+1}."""
    from ocr_spark.operators.quality import smp_epoch_mix, EPOCH_RATES

    assert EPOCH_RATES["src0"] == 3.0 and EPOCH_RATES["src1"] == 2.5
    docs = []
    for i in range(40):
        docs.append((i, "w " * 10, "en", "src0", 20))
        docs.append((100 + i, "w " * 10, "en", "src1", 20))
        docs.append((200 + i, "w " * 10, "en", "plain", 20))
    d = _gopher_dir(spark, tmp_path, docs)
    audit = {r.source: r for r in smp_epoch_mix(spark, d).collect()}
    assert audit["src0"].n_copies == 3 * audit["src0"].n_docs
    assert audit["plain"].n_copies == audit["plain"].n_docs
    assert audit["plain"].epochs_ppm == 1_000_000
    s1 = audit["src1"]
    assert 2 * s1.n_docs <= s1.n_copies <= 3 * s1.n_docs
    assert s1.n_copies not in (2 * s1.n_docs, 3 * s1.n_docs)  # bridge split


def test_chunk_dedup_strip_semantics(spark, tmp_path):
    """Planted shared chunks: the globally-first occurrence survives, all
    later occurrences strip, a fully-duplicated doc disappears, and the
    reassembled text preserves within-doc chunk order."""
    from ocr_spark.functions.text import CHUNK_TOKENS
    from ocr_spark.operators.quality import dd_chunk_dedup_strip
    shared = " ".join(f"s{i}" for i in range(CHUNK_TOKENS))
    uniq_a = " ".join(f"a{i}" for i in range(CHUNK_TOKENS))
    uniq_b = " ".join(f"b{i}" for i in range(CHUNK_TOKENS))
    docs = [
        (1, f"{uniq_a} {shared}", "en", "s", 0),       # first owner keeps it
        (2, f"{shared} {uniq_b}", "en", "s", 0),       # loses the shared head
        (3, shared, "en", "s", 0),                     # fully duplicated: gone
    ]
    d = _gopher_dir(spark, tmp_path, docs)
    got = {r.doc_id: r for r in dd_chunk_dedup_strip(spark, d).collect()}
    assert got[1].new_text == f"{uniq_a} {shared}"
    assert (got[1].n_chunks_in, got[1].n_chunks_kept) == (2, 2)
    assert got[2].new_text == uniq_b                   # order preserved
    assert (got[2].n_chunks_in, got[2].n_chunks_kept) == (2, 1)
    assert 3 not in got                                # all chunks stripped


def test_chunk_windows_cover_and_overlap(spark, tmp_path):
    """A 200-token doc chunks into ceil((200-64)/48)+1 = 4 windows; every
    token appears in at least one chunk; consecutive chunks overlap by
    W-S = 16 tokens (position 48 of chunk i == position 0 of chunk i+1);
    short and empty docs emit exactly one chunk."""
    from ocr_spark.operators.quality import (
        txt_chunk_windows, CHUNK_WINDOW, CHUNK_STRIDE)
    docs = [(1, " ".join(f"t{i}" for i in range(200)), "en", "s", 0),
            (2, "short doc", "en", "s", 0),
            (3, "", "en", "s", 0)]
    d = _gopher_dir(spark, tmp_path, docs)
    rows = {}
    for r in txt_chunk_windows(spark, d).collect():
        rows.setdefault(r.doc_id, []).append(r)
    c1 = sorted(rows[1], key=lambda r: r.chunk_idx)
    assert len(c1) == 4
    assert [r.n_tok_c for r in c1] == [64, 64, 64, 200 - 3 * 48]
    covered = set()
    for r in c1:
        covered.update(r.chunk_text.split())
    assert len(covered) == 200
    for a, b in zip(c1, c1[1:]):
        assert a.chunk_text.split()[CHUNK_STRIDE] == b.chunk_text.split()[0]
    assert len(rows[2]) == 1 and rows[2][0].chunk_text == "short doc"
    assert len(rows[3]) == 1 and rows[3][0].n_tok_c == 1  # [''] token


def test_gate_agreement_off_diagonal_cells(spark, tmp_path):
    """txt_gate_agreement's disagreement cells are the whole point: a
    Gopher-passing spam doc lands in (gopher=1, cls=0), a flood in
    (0, 0), clean text in (1, 1) — and the DuckDB oracle replays the
    matrix exactly (the registry compare only sees data where the
    learned gate never disagrees)."""
    import os

    import duckdb

    from ocr_spark.functions.classifier import _SPAM_TOKENS
    from ocr_spark.operators.quality import (_txt_gate_agreement_sql,
                                             txt_gate_agreement)

    p1 = list(_SPAM_TOKENS)
    p2 = [_SPAM_TOKENS[i] for i in (0, 2, 4, 6, 8, 1, 3, 5, 7, 9)]
    p3 = list(reversed(_SPAM_TOKENS))
    rows = [
        (1, "alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa", "de"),
        (2, " ".join(p1 + p2 + p3), "de"),   # Gopher-clean spam
        (3, "spam " * 40, "de"),             # flood: both gates drop
        (4, "short", "de"),                  # token floor: both drop
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))

    got = {(r.lang, r.gopher_pass, r.cls_pass): r.n_docs
           for r in txt_gate_agreement(spark, d).collect()}
    assert got == {("de", 1, 1): 1, ("de", 1, 0): 1, ("de", 0, 0): 2}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    want = {(r[0], r[1], r[2]): r[3]
            for r in con.execute(_txt_gate_agreement_sql()).fetchall()}
    assert got == want


def _keyed_repetition(spark, sf_dir):
    """Independent keyed explode+groupBy construction of the repetition
    signals — the differential reference for the map-only sort-run fold
    that txt_repetition / curation_flags share
    (functions/quality.with_repetition_signals). Kept in the test so the
    two algorithms keep checking each other."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("doc_id").isNotNull())
            .selectExpr("doc_id", "split(lower(text), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+') AS t")
            .where("size(t) >= 2"))
    uni = (docs.select("doc_id", F.explode("t").alias("g"))
           .groupBy("doc_id", "g").agg(F.count("*").alias("c"))
           .groupBy("doc_id")
           .agg(F.max("c").alias("max_tok"), F.sum("c").alias("n_tok")))
    bg = (docs.selectExpr(
            "doc_id",
            "explode(transform(sequence(0, size(t) - 2),"
            " i -> concat(t[i], ' ', t[i + 1]))) AS g")
          .groupBy("doc_id", "g").agg(F.count("*").alias("c"))
          .groupBy("doc_id")
          .agg(F.max("c").alias("max_bg"), F.sum("c").alias("n_bg"),
               F.sum(F.when(F.col("c") >= 2, F.col("c"))
                     .otherwise(F.lit(0))).alias("dup_bg")))

    def _bp(a, b):
        return F.floor(F.col(a).cast("double") / F.col(b) * 10000)

    return (uni.join(bg, "doc_id")
            .select("doc_id",
                    F.col("n_tok").cast("long").alias("n_tokens_b"),
                    _bp("max_tok", "n_tok").alias("top_token_bp"),
                    _bp("max_bg", "n_bg").alias("top_bigram_bp"),
                    _bp("dup_bg", "n_bg").alias("dup_bigram_bp")))


def test_txt_repetition_equals_keyed_aggregation_form(spark):
    from ocr_spark.operators.quality import txt_repetition
    a = [tuple(r) for r in txt_repetition(spark, SF_DIR).collect()]
    b = sorted((tuple(r) for r in _keyed_repetition(spark, SF_DIR).collect()),
               key=lambda r: r[0])
    assert a == b
