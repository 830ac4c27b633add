"""Curation pipeline end-to-end: funnel arithmetic, manifest contract,
determinism under repartitioning, and planted-gate behavior. The funnel's
Spark-vs-DuckDB parity runs in test_operators.py (`curate_funnel` is in
the registry)."""

import json
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def test_run_curation_end_to_end(spark, tmp_path):
    from ocr_spark.pipeline.curate import run_curation
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "curated_run")
    manifest = run_curation(spark, docs, out)

    assert manifest["n_input"] == docs.count()
    assert sum(manifest["funnel"].values()) == manifest["n_input"]
    assert manifest["n_kept"] == manifest["funnel"]["kept"]

    written = spark.read.parquet(os.path.join(out, "curated"))
    assert written.count() == manifest["n_kept"]
    assert set(written.columns) == {"doc_id", "lang", "text"}
    # partitioned by lang on disk
    langs = {r.lang for r in written.select("lang").distinct().collect()}
    for lang in langs:
        assert os.path.isdir(os.path.join(out, "curated", f"lang={lang}"))
    # manifest on disk equals the returned one
    disk = json.load(open(os.path.join(out, "manifest.json")))
    assert disk == manifest


def test_curation_deterministic_under_partitioning(spark, tmp_path):
    """The kept doc_id set must not depend on the input partition layout
    (every gate is per-row deterministic or keyed-aggregation-exact)."""
    from ocr_spark.pipeline.curate import curation_flags
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {(r.doc_id, r.drop_reason)
         for r in curation_flags(docs).collect()}
    b = {(r.doc_id, r.drop_reason)
         for r in curation_flags(docs.repartition(17)).collect()}
    assert a == b


def test_planted_gates(spark, tmp_path):
    """First-wins everywhere: a verbatim duplicate pair keeps its first
    copy, a later near-copy (half its chunks seen in an earlier doc)
    falls to the chunk gate while the earlier doc survives, a degenerate
    repeated-token doc falls to the quality gate, and a too-short doc
    falls to the token floor."""
    from ocr_spark.pipeline.curate import curation_flags
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo")
    rows = [
        (1, base + " one", "de"),
        (2, base + " one", "de"),          # exact dup of doc 1
        (3, "spam " * 40, "de"),           # maximal repetition
        (4, "too short", "de"),            # under the token floor
        (5, base + " two", "de"),          # near-copy: shares chunk 1 of 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    flags = {r.doc_id: r.drop_reason
             for r in curation_flags(docs).collect()}
    assert flags[1] is None                # de samples at rate 1.0
    assert flags[2] == "exact_dup"
    assert flags[3] == "quality"
    assert flags[4] == "quality"
    assert flags[5] == "chunk_dup"


def test_funnel_stages_present_at_sf001(spark):
    from ocr_spark.operators.curation import curate_funnel
    stages = {r.stage: r.n_docs for r in curate_funnel(spark, SF_DIR).collect()}
    assert "kept" in stages and stages["kept"] > 0
    # en is downsampled at rate 0.3, so sampling must reject something
    assert stages.get("sampled_out", 0) > 0

# ---------------------------------------------------------------------------
# Conversation-grain curation (pipeline/curate_convs.py)
# ---------------------------------------------------------------------------

def _planted_conv_docs_dir(spark, tmp_path):
    """100 docs -> 50 two-turn conversations (conv-j = docs {j, j+50}).
    Planted: conv-4 assembles identically to conv-0 (exact dup), conv-8
    is a one-token mutation of conv-0 (near dup); both share conv-0's
    j%4==0 role pattern so they pass the quality gate first."""
    texts = {i: f"turn body {i} " + " ".join(f"tok{i}w{j}" for j in range(20))
             for i in range(100)}
    texts[4], texts[54] = texts[0], texts[50]
    texts[8] = texts[0].replace("tok0w9", "mutated")
    texts[58] = texts[50]
    docs = [(i, texts[i], "en", "s", len(texts[i])) for i in range(100)]
    d = str(tmp_path / "convdocs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_conv_curation_planted_stages(spark, tmp_path):
    from ocr_spark.pipeline.curate_convs import conv_curation_flags
    from ocr_spark.sources.synthetic import agent_transcripts

    d = _planted_conv_docs_dir(spark, tmp_path)
    flags = {r.conv_id: r.drop_reason for r in
             conv_curation_flags(agent_transcripts(spark, d)).collect()}
    assert len(flags) == 50
    assert flags["conv-000004"] == "exact_dup"
    assert flags["conv-000008"] == "near_dup"
    # conv-0 must survive quality/dup gates (it is the first-wins keeper)
    assert flags["conv-000000"] in (None, "sampled_out")
    # conversations without a user turn (j % 4 in {1, 3}) drop at quality
    assert flags["conv-000001"] == "quality"
    assert flags["conv-000003"] == "quality"


def test_conv_funnel_oracle_on_planted_corpus(spark, tmp_path):
    """The conv funnel's DuckDB oracle must agree on the PLANTED corpus
    too (the registry compare only sees well-formed testdata where the
    dup stages never fire)."""
    import duckdb

    from ocr_spark.operators.curation import (CONV_CURATE_SQL,
                                              conv_curate_funnel)

    d = _planted_conv_docs_dir(spark, tmp_path)
    rows = sorted(tuple(r) for r in conv_curate_funnel(spark, d).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    orows = sorted(tuple(r) for r in con.execute(CONV_CURATE_SQL).fetchall())
    assert rows == orows
    stages = {r[0] for r in rows}
    assert {"exact_dup", "near_dup", "quality", "kept"} <= stages


def test_run_conv_curation_end_to_end(spark, tmp_path):
    from ocr_spark.pipeline.curate_convs import run_conv_curation
    from ocr_spark.sources.synthetic import agent_transcripts

    d = _planted_conv_docs_dir(spark, tmp_path)
    t = agent_transcripts(spark, d)
    out = str(tmp_path / "conv_run")
    manifest = run_conv_curation(spark, t, out)
    assert manifest["n_input"] == 50
    assert sum(manifest["funnel"].values()) == 50
    written = spark.read.parquet(os.path.join(out, "curated_convs"))
    kept_convs = {r.conv_id for r in written.select("conv_id").distinct().collect()}
    assert len(kept_convs) == manifest["n_kept"]
    # every kept conversation keeps ALL its turns (the semi join is at
    # conv grain, never row-sliced)
    assert written.count() == 2 * manifest["n_kept"]
    assert "conv-000004" not in kept_convs and "conv-000008" not in kept_convs
    disk = json.load(open(os.path.join(out, "manifest.json")))
    assert disk == manifest

def test_conv_contamination_gate_planted(spark, tmp_path):
    """Plant a shared 5-gram between a benchmark-slice conversation and a
    non-benchmark one (both passing quality): the non-benchmark side must
    drop as 'contaminated', the benchmark side must not."""
    import hashlib

    from ocr_spark.functions.hashing import smp_threshold_u64
    from ocr_spark.functions.quality import CONV_BENCH_RATE
    from ocr_spark.pipeline.curate_convs import conv_curation_flags
    from ocr_spark.sources.synthetic import agent_transcripts

    thr = smp_threshold_u64(CONV_BENCH_RATE) - 2**63

    def is_bench(j):
        u = int(hashlib.md5(f"conv-{j:06d}:bench".encode())
                .hexdigest()[:16], 16)
        return (u - 2**63) < thr

    quality_pass = [j for j in range(50) if j % 4 in (0, 2)]
    bench = next(j for j in quality_pass if is_bench(j))
    plain = next(j for j in quality_pass if not is_bench(j) and j != bench)

    texts = {i: f"turn body {i} " + " ".join(f"tok{i}w{j}" for j in range(20))
             for i in range(100)}
    phrase = "shared evaluation suite answer string here"
    texts[bench] += " " + phrase
    texts[plain] += " " + phrase
    docs = [(i, texts[i], "en", "s", len(texts[i])) for i in range(100)]
    d = str(tmp_path / "contamdocs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    flags = {r.conv_id: r.drop_reason for r in
             conv_curation_flags(agent_transcripts(spark, d)).collect()}
    assert flags[f"conv-{plain:06d}"] == "contaminated"
    assert flags[f"conv-{bench:06d}"] != "contaminated"

def test_conv_funnel_contamination_broadcasts(spark):
    """The conv funnel's decontamination join must broadcast the eval-
    suite shingle side — the corpus-side shingles never shuffle for it."""
    from ocr_spark.operators.curation import conv_curate_funnel
    from ocr_spark.plans import has_broadcast_hash_join

    df = conv_curate_funnel(spark, SF_DIR)
    assert has_broadcast_hash_join(df), "bench shingles must broadcast"

# ---------------------------------------------------------------------------
# End-to-end corpus pipeline (pipeline/corpus_pipeline.py)
# ---------------------------------------------------------------------------

def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """transcripts → extract → documents → curate → pack, with the counts
    chaining: documents == extracted turns with text, curated kept ==
    packed rows, token totals conserved between curated docs and the
    packing plan."""
    from ocr_spark.pipeline.corpus_pipeline import run_corpus_pipeline
    from ocr_spark.sources.synthetic import synthesize_transcripts

    wd = str(tmp_path / "corpus")
    t = synthesize_transcripts(spark, n_convs=60)
    manifest = run_corpus_pipeline(spark, t, wd, run_id="t1")

    assert manifest["extract"]["rows_out"] == t.count()
    assert sum(manifest["curate"].values()) == manifest["documents"]
    assert manifest["n_kept"] == manifest["curate"]["kept"]

    packed = spark.read.parquet(os.path.join(wd, "packed"))
    assert packed.count() == manifest["n_kept"]
    # token conservation: the packing plan's per-lang totals equal the
    # curated docs' token counts
    curated = spark.read.parquet(os.path.join(wd, "curated", "curated"))
    toks = {r.lang: r.n for r in curated.selectExpr(
        "lang", "size(split(lower(text), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')) AS nt")
        .groupBy("lang").agg(F.sum("nt").alias("n")).collect()}
    for lang, stats in manifest["pack"].items():
        assert stats["n_tokens"] == toks[lang]
        assert stats["n_seqs"] >= (stats["n_tokens"] + 511) // 512
    disk = json.load(open(os.path.join(wd, "manifest.json")))
    assert disk == manifest


def test_corpus_pipeline_resume_idempotent(spark, tmp_path):
    """Re-running the pipeline with resume=True over a completed workdir
    must skip every extract bucket and reproduce the identical curated
    and packed outputs (deterministic downstream stages)."""
    from ocr_spark.pipeline.corpus_pipeline import run_corpus_pipeline
    from ocr_spark.sources.synthetic import synthesize_transcripts

    wd = str(tmp_path / "corpus_r")
    t = synthesize_transcripts(spark, n_convs=40)
    m1 = run_corpus_pipeline(spark, t, wd, run_id="t2")
    kept1 = sorted(r.doc_id for r in spark.read.parquet(
        os.path.join(wd, "curated", "curated")).select("doc_id").collect())
    m2 = run_corpus_pipeline(spark, t, wd, run_id="t2", resume=True)
    assert m2["extract"]["buckets_skipped"] > 0
    assert m2["curate"] == m1["curate"]
    assert m2["pack"] == m1["pack"]
    kept2 = sorted(r.doc_id for r in spark.read.parquet(
        os.path.join(wd, "curated", "curated")).select("doc_id").collect())
    assert kept1 == kept2


def test_agent_transcripts_negative_doc_ids_engine_exact(spark, tmp_path):
    """Production doc_ids are md5-longs — uniform over SIGNED int64, half
    negative. agent_transcripts must not throw (Spark % keeps the
    dividend sign; element_at(roles, 0) used to raise) and must agree
    with the DuckDB CTE row-for-row on a mixed-sign corpus."""
    import duckdb

    from ocr_spark.operators.extraction import conv_stats, CONV_STATS_SQL

    docs = [(i, f"text body {i} " + "w " * (abs(i) % 7), "en", "s", 10)
            for i in [-(2**63), -(2**62) - 3, -1001, -53, -4, -3, -2, -1,
                      0, 1, 2, 3, 7, 999, 2**62 + 1, 2**63 - 1]]
    d = str(tmp_path / "negdocs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    rows = sorted(tuple(r) for r in conv_stats(spark, d).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    orows = sorted(tuple(r) for r in con.execute(CONV_STATS_SQL).fetchall())
    assert rows == orows


def test_conv_neardup_cluster_first_wins_not_one_hop(spark):
    """Chain structure A~C, B~C, A!~B (band collisions verified offline
    with the module's own hash chain): CLUSTER first-wins keeps only the
    component's min conv_id (A) and drops BOTH B and C. The old one-hop
    rule (drop the greater of each colliding pair) kept A AND B — two
    near-dups of the same C surviving together. B's flag is the
    distinguishing assertion."""
    import hashlib

    from ocr_spark.functions.hashing import smp_threshold_u64
    from ocr_spark.functions.quality import CONV_BENCH_RATE
    from ocr_spark.pipeline.curate_convs import conv_curation_flags

    c_text = " ".join(f"tok{i}" for i in range(40))
    wa = c_text.split(); wa[0] = "mutA"
    wb = c_text.split(); wb[5] = "mutB"
    texts = {"a": " ".join(wa), "b": " ".join(wb), "c": c_text}

    # pick a conv-id suffix where none of the three lands in the bench
    # slice (contamination would otherwise co-fire on the shared grams)
    bthr = smp_threshold_u64(CONV_BENCH_RATE)
    def in_bench(cid):
        return int(hashlib.md5(f"{cid}:bench".encode())
                   .hexdigest()[:16], 16) < bthr
    sfx = next(s for s in range(100)
               if not any(in_bench(f"conv-{k}{s}") for k in "abc"))

    rows = []
    for k, txt in texts.items():
        words = txt.split()
        rows.append((f"conv-{k}{sfx}", 0, "user", " ".join(words[:20])))
        rows.append((f"conv-{k}{sfx}", 1, "assistant", " ".join(words[20:])))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    flags = {r.conv_id: r.drop_reason
             for r in conv_curation_flags(t).collect()}
    assert flags[f"conv-b{sfx}"] == "near_dup"  # one-hop kept it
    assert flags[f"conv-c{sfx}"] == "near_dup"
    assert flags[f"conv-a{sfx}"] in (None, "sampled_out")


def test_conv_degenerate_gate_planted(spark):
    """The degenerate-decoding gate fires on a directly-built transcripts
    frame (the synthesized corpus's role parity — conv ≡ doc mod 50 and
    role ≡ doc mod 4 share the factor 2 — means no synthesized conv mixes
    user and assistant, so the gate is exercised here at the API grain
    run_conv_curation actually receives). Priority: quality still beats
    degenerate; degenerate beats exact_dup."""
    import datetime as dt

    from ocr_spark.pipeline.curate_convs import conv_curation_flags

    pad = " ".join(f"w{j}" for j in range(30))          # > char floor
    loop = "loop " * 29 + "loop"                        # 30-token loop
    rows = []

    def conv(cid, turns):
        for i, (role, text) in enumerate(turns):
            rows.append((cid, i, role, text, None,
                         dt.datetime(2025, 1, 1, 0, 0, i)))

    conv("c-clean", [("user", "please summarize " + pad),
                     ("assistant", "fine answer " + pad)])
    conv("c-degen", [("user", "please summarize " + pad),
                     ("assistant", loop)])
    # exact copy of c-degen: BOTH report degenerate (it outranks
    # exact_dup), neither claims the dedup keeper slot
    conv("c-degen2", [("user", "please summarize " + pad),
                      ("assistant", loop)])
    # looping assistant but NO user turn: quality outranks degenerate
    conv("c-agentlog", [("system", "boot"), ("assistant", loop)])
    # short looping reply (< 20 tokens) never reaches the signal; the
    # vocabulary is disjoint from c-clean so near-dup can't claim it
    qad = " ".join(f"q{j}x" for j in range(30))
    conv("c-short", [("user", "different topic " + qad),
                     ("assistant", "loop loop loop loop over")])

    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    flags = {r.conv_id: r.drop_reason
             for r in conv_curation_flags(t).collect()}
    assert flags["c-degen"] == "degenerate"
    assert flags["c-degen2"] == "degenerate"
    assert flags["c-agentlog"] == "quality"
    assert flags["c-clean"] in (None, "sampled_out")
    assert flags["c-short"] in (None, "sampled_out")


def test_conv_funnel_oracle_degenerate_stage_mod25(spark, tmp_path):
    """The funnel's degenerate branch, differentially: at conv_mod=25
    every conversation mixes all four roles (the parity note in
    agent_transcripts), so a planted looping assistant turn yields a
    conversation that PASSES quality and drops at 'degenerate' — and the
    conv_mod=25 SQL twin must reproduce the whole funnel including that
    stage. Under the registered conv_mod=50 surface the stage is
    structurally unreachable (assistant-bearing conversations carry no
    user turn), so this is the test that keeps the dg_ CTE chain honest."""
    import duckdb

    from ocr_spark.operators.curation import (conv_curate_funnel,
                                              conv_curate_sql)

    texts = {i: f"turn body {i} " + " ".join(f"tok{i}w{j}" for j in range(20))
             for i in range(100)}
    # doc 1: conv-1 at mod 25 ({1, 26, 51, 76}), role 1 % 4 = assistant —
    # a 30-token loop; doc 76 (76 % 4 = 0) is its user turn
    texts[1] = "loop " * 29 + "loop"
    docs = [(i, texts[i], "en", "s", len(texts[i])) for i in range(100)]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    rows = sorted(tuple(r) for r in
                  conv_curate_funnel(spark, d, conv_mod=25).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    orows = sorted(tuple(r) for r in
                   con.execute(conv_curate_sql(25)).fetchall())
    assert rows == orows
    stages = {r[0]: r[1] for r in rows}
    assert stages.get("degenerate", 0) == 1, \
        "the planted looping conversation must drop at the degenerate stage"
    assert "kept" in stages
