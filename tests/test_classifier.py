"""Learned hashed-feature quality classifier (functions/classifier.py):
retrain determinism, out-of-vocab generalization, the three-surface
differential (Spark expression == DuckDB oracle == Python twin) on
planted adversarial docs incl. \\x0b whitespace, funnel-stage
REACHABILITY (a Gopher-passing spam doc must fall to 'classifier', not
ride through) and the planted-corpus funnel oracle. The sf0.01 oracle
compare for txt_classifier_score runs via the ALL_QUERIES parametrize
in test_operators.py."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _spam_perm_doc() -> str:
    """Structurally-clean spam: three adjacency-disjoint permutations of
    the 10-token spam vocabulary — 30 tokens, top-token 1000bp, zero
    repeated bigrams, so it passes EVERY Gopher cap; only the learned
    vocabulary gate can reject it."""
    from ocr_spark.functions.classifier import _SPAM_TOKENS
    p1 = list(_SPAM_TOKENS)
    p2 = [_SPAM_TOKENS[i] for i in (0, 2, 4, 6, 8, 1, 3, 5, 7, 9)]
    p3 = list(reversed(_SPAM_TOKENS))
    return " ".join(p1 + p2 + p3)


_OOV_CLEAN = ("zephyr quark nimbus lantern meadow crystal harbor velvet "
              "ember willow cascade prism timber falcon orchid summit "
              "breeze canyon marble thistle")


def test_retrain_reproduces_shipped_model():
    """Deterministic training: retraining on the in-module corpus
    reproduces the shipped integer weights bit for bit, and the shipped
    model separates its own corpus perfectly."""
    from ocr_spark.functions import classifier as C
    w, b, wd = C.train_quality_classifier(C.training_corpus())
    assert (w, b, wd) == (C.CLS_WEIGHTS, C.CLS_BIAS, C.CLS_DIV_W)
    corpus = C.training_corpus()
    acc = sum((C.score_text(t) > 0) == (y == 1) for t, y in corpus)
    assert acc == len(corpus) == 160


def test_generalizes_out_of_vocabulary():
    """The learnable signal must be structural (feature diversity +
    spam vocabulary), never memorized vocabulary: clean text over words
    the trainer NEVER saw scores positive; junk shapes score negative —
    including the structurally-clean spam the Gopher gates pass."""
    from ocr_spark.functions.classifier import score_text
    assert score_text(_OOV_CLEAN) > 0
    # German-register unseen vocabulary
    assert score_text(
        "der schnelle braune fuchs springt ueber den faulen hund "
        "waehrend die sonne hinter den bergen verschwindet") > 0
    # mostly-clean with a couple of spam tokens stays positive
    assert score_text(_OOV_CLEAN + " free winner") > 0
    # junk: floods, loops, short strings, empty, diverse spam
    assert score_text(" ".join(["viagra"] * 40)) <= 0
    assert score_text(" ".join(["buy", "cheap", "pills"] * 10)) <= 0
    assert score_text("ok") <= 0
    assert score_text("") <= 0
    assert score_text(_spam_perm_doc()) <= 0


def test_three_surface_differential_planted(spark, tmp_path):
    """Spark expression == DuckDB oracle == Python twin on planted
    adversarial docs: explicit-whitespace-class splits (\\x0b, \\f, \\r
    — the Java-\\s class both engines now spell out), NBSP staying
    INSIDE a token, CJK utf-8 md5 buckets, empty text, NULL text
    (NULL score on both engines), floods and clean text."""
    from ocr_spark.functions.classifier import featurize, score_text
    from ocr_spark.operators.classifier import (_txt_classifier_sql,
                                                txt_classifier_score)
    texts = [
        _OOV_CLEAN,
        _spam_perm_doc(),
        " ".join(["viagra"] * 35),
        "",
        "ok",
        "alpha\x0bbravo charlie\tdelta\necho foxtrot\x0cgolf\rhotel "
        "india juliett kilo lima mike november",
        "caf\xe9\xa0au\xa0lait is one token group alpha bravo charlie "
        "delta echo foxtrot golf",
        "\x0b\x0bleading and trailing empties kept alpha bravo charlie "
        "delta echo foxtrot\x0c\x0c",
        "汉字 配料 表 供應商 發票 total amount due paid net vat order",
        None,
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "documents.parquet"))

    got = sorted(tuple(r) for r in txt_classifier_score(spark, d).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    want = sorted(tuple(r) for r in
                  con.execute(_txt_classifier_sql()).fetchall())
    assert got == want

    # Python twin agrees on every non-NULL text (score AND n_feats)
    by_id = {r[0]: r for r in got}
    for i, t in enumerate(texts):
        if t is None:
            assert by_id[i][1] is None and by_id[i][2] is None
            continue
        assert by_id[i][2] == score_text(t), repr(t)
        assert by_id[i][1] == sum(featurize(t).values()), repr(t)


def test_funnel_classifier_stage_reachable(spark):
    """First-wins composition: the flood dies at the higher-priority
    'quality' gate, the structurally-clean spam doc survives every
    Gopher cap and falls to 'classifier', and clean docs (in-vocab AND
    out-of-vocab) ride through untouched."""
    from ocr_spark.pipeline.curate import curation_flags
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo")
    rows = [
        (1, base + " one", "de"),
        (2, _OOV_CLEAN, "de"),
        (3, _spam_perm_doc(), "de"),       # Gopher-clean spam
        (4, "spam " * 40, "de"),           # flood: quality outranks
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    flags = {r.doc_id: r.drop_reason for r in curation_flags(docs).collect()}
    assert flags[1] is None
    assert flags[2] is None
    assert flags[3] == "classifier"
    assert flags[4] == "quality"


def test_funnel_oracle_on_planted_classifier_corpus(spark, tmp_path):
    """The doc-grain funnel's DuckDB oracle must agree on a corpus
    where the classifier stage actually FIRES (the registry compare
    only sees well-formed testdata where it never does)."""
    from ocr_spark.operators.curation import CURATE_FUNNEL_SQL, curate_funnel
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo")
    rows = [
        (1, base + " one", "de"),
        (2, base + " one", "de"),          # exact dup
        (3, _spam_perm_doc(), "de"),       # classifier
        (4, "spam " * 40, "de"),           # quality
        (5, _OOV_CLEAN, "de"),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(os.path.join(d, "documents.parquet"))
    got = sorted(tuple(r) for r in curate_funnel(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet'")
    want = sorted(tuple(r) for r in
                  con.execute(CURATE_FUNNEL_SQL).fetchall())
    assert got == want
    assert dict(got) == {"kept": 2, "exact_dup": 1,
                         "classifier": 1, "quality": 1}
