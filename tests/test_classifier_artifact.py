"""Persisted quality-classifier artifact (pipeline/classifier.py):
partition-invariant deterministic training, committed-weights scoring
exactness (artifact expression == Python twin on loaded constants),
label-driven behavior (an inverted labeled sample provably flips the
gate — scoring runs on the ARTIFACT's weights, not the shipped ones),
and the uniform crash contracts (missing manifest refused, stale
manifest invalidated before a retrain's overwrite)."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _builtin_labeled(spark, partitions):
    from ocr_spark.functions.classifier import training_corpus
    return (spark.createDataFrame(training_corpus(),
                                  "text string, label int")
            .repartition(partitions))


def test_train_deterministic_and_partition_invariant(spark, tmp_path):
    from ocr_spark.pipeline.classifier import load_model, train_classifier
    m1 = train_classifier(spark, _builtin_labeled(spark, 7),
                          str(tmp_path / "m1"))
    m2 = train_classifier(spark, _builtin_labeled(spark, 3),
                          str(tmp_path / "m2"))
    for k in ("dim", "bias", "div_w", "threshold", "n_train",
              "train_acc_bp", "epochs", "version"):
        assert m1[k] == m2[k], k
    assert m1["n_train"] == 160
    assert m1["train_acc_bp"] == 10000           # separates its sample
    w1 = load_model(spark, str(tmp_path / "m1"))
    w2 = load_model(spark, str(tmp_path / "m2"))
    assert w1 == w2


def test_score_with_model_matches_python_twin(spark, tmp_path):
    """The artifact's generated expression scores EXACTLY like a
    driver-side replay on the loaded integer constants — over the full
    sf0.001 documents table."""
    from ocr_spark.functions.classifier import featurize
    from ocr_spark.pipeline.classifier import (load_model, score_with_model,
                                               train_classifier)
    mdir = str(tmp_path / "m")
    train_classifier(spark, _builtin_labeled(spark, 5), mdir)
    weights, bias, div_w, threshold = load_model(spark, mdir)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text")
             .where("doc_id IS NOT NULL").collect()}
    got = {r.doc_id: (r.n_feats, r.score_sum, r.pred)
           for r in score_with_model(spark, mdir, docs).collect()}
    assert set(got) == set(texts)
    for i, t in texts.items():
        x = featurize(t)
        score = (bias + div_w * sum(x.values())
                 + sum(weights[k] * v for k, v in x.items()))
        assert got[i] == (sum(x.values()), score, int(score > threshold)), i


def test_inverted_labels_flip_the_gate(spark, tmp_path):
    """Training with every label inverted produces the exactly-negated
    model (the perceptron's updates mirror), so clean text gates OUT and
    floods gate IN — proof the scoring path reads the committed weights
    and nothing else."""
    from ocr_spark.functions.classifier import (CLS_THRESHOLD, score_text,
                                                training_corpus)
    from ocr_spark.pipeline.classifier import score_with_model, train_classifier
    inverted = [(t, 1 - y) for t, y in training_corpus()]
    mdir = str(tmp_path / "m")
    train_classifier(spark, spark.createDataFrame(
        inverted, "text string, label int"), mdir)
    clean = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliett kilo lima mike november oscar papa quebec romeo")
    flood = " ".join(["viagra"] * 40)
    docs = spark.createDataFrame([(1, clean), (2, flood)],
                                 "doc_id long, text string")
    got = {r.doc_id: r.pred for r in
           score_with_model(spark, mdir, docs).collect()}
    assert got == {1: 0, 2: 1}
    # sanity: the shipped model says the opposite
    assert score_text(clean) > CLS_THRESHOLD >= score_text(flood)


def test_missing_manifest_refused(spark, tmp_path):
    from ocr_spark.pipeline.classifier import score_with_model
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(FileNotFoundError):
        score_with_model(spark, str(tmp_path / "nope"), docs)


def test_retrain_invalidates_stale_manifest_first(spark, tmp_path):
    """A crash mid-retrain must read as 'no classifier', never as the
    old manifest over half-rewritten weights — then a completed retrain
    recommits cleanly (the ann_index/dedup_index/tokenizer contract)."""
    from ocr_spark.pipeline.classifier import (_MANIFEST, load_model,
                                               train_classifier)
    mdir = str(tmp_path / "m")
    train_classifier(spark, _builtin_labeled(spark, 4), mdir)
    # the retrain's first step is manifest removal; crash right after
    os.remove(os.path.join(mdir, _MANIFEST))
    with pytest.raises(FileNotFoundError):
        load_model(spark, mdir)
    m = train_classifier(spark, _builtin_labeled(spark, 4), mdir)
    assert m["train_acc_bp"] == 10000
    load_model(spark, mdir)
