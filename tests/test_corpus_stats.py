"""Corpus-profile snapshot artifact: build/drift contracts.

Mirrors the uniform artifact crash contracts (manifest-after-data,
stale-manifest invalidation before rebuild, missing manifest = no
snapshot) and pins the drift semantics: zero on an identical corpus,
positive on a planted length shift, coverage statuses for new/vanished
sources.
"""

import os

import pytest

from pyspark.sql import functions as F


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")


BASE = [
    (i, "word " * (10 + i % 3), "en", "stable_src", 50) for i in range(20)
] + [
    (100 + i, "tok " * (8 + i % 2), "en", "shift_src", 40) for i in range(20)
]


def test_build_then_read_roundtrip(spark, tmp_path):
    from ocr_spark.pipeline.corpus_stats import (build_stats, profile_of,
                                                 read_manifest, read_profile)
    d = str(tmp_path / "stats")
    docs = _docs_df(spark, BASE)
    manifest = build_stats(spark, docs, d, batch_tag="crawl-1")
    assert manifest["n_docs"] == len(BASE)
    assert manifest["batch_tag"] == "crawl-1"
    assert read_manifest(d)["n_sources"] == 2
    got = {(r.source, r.bucket): (r.n_docs, r.n_tokens)
           for r in read_profile(spark, d).collect()}
    want = {(r.source, r.bucket): (r.n_docs, r.n_tokens)
            for r in profile_of(docs).collect()}
    assert got == want


def test_missing_manifest_means_no_snapshot(spark, tmp_path):
    from ocr_spark.pipeline.corpus_stats import build_stats, read_profile
    d = str(tmp_path / "stats")
    docs = _docs_df(spark, BASE)
    build_stats(spark, docs, d)
    os.remove(os.path.join(d, "_stats_manifest.json"))
    with pytest.raises(FileNotFoundError):
        read_profile(spark, d)


def test_rebuild_invalidates_stale_manifest_first(spark, tmp_path,
                                                  monkeypatch):
    """A crash mid-rebuild must not leave the OLD manifest pointing at
    half-rewritten data: the stale manifest is removed before the
    overwrite starts."""
    from ocr_spark.pipeline import corpus_stats as cs
    d = str(tmp_path / "stats")
    docs = _docs_df(spark, BASE)
    cs.build_stats(spark, docs, d)
    assert cs.read_manifest(d) is not None

    def boom(_docs):
        raise RuntimeError("simulated crash before data write")

    monkeypatch.setattr(cs, "profile_of", boom)
    with pytest.raises(RuntimeError):
        cs.build_stats(spark, docs, d)
    # the old manifest is gone: readers see "no snapshot", never
    # readable-but-partial
    assert cs.read_manifest(d) is None


def test_drift_zero_on_identical_corpus(spark, tmp_path):
    from ocr_spark.pipeline.corpus_stats import build_stats, drift_check
    d = str(tmp_path / "stats")
    docs = _docs_df(spark, BASE)
    build_stats(spark, docs, d)
    rows = {r.source: r for r in drift_check(spark, d, docs).collect()}
    assert set(rows) == {"stable_src", "shift_src"}
    for r in rows.values():
        assert r.status == "both"
        assert r.n_old == r.n_new
        assert r.drift_bp == 0


def test_drift_flags_planted_shift_and_coverage(spark, tmp_path):
    from ocr_spark.pipeline.corpus_stats import build_stats, drift_check
    d = str(tmp_path / "stats")
    build_stats(spark, _docs_df(spark, BASE), d)
    # new crawl: stable_src unchanged, shift_src texts 16x longer
    # (different floor-log2 bucket), brand-new src appears, shift of
    # coverage: drop nothing
    new_rows = [
        (i, "word " * (10 + i % 3), "en", "stable_src", 50)
        for i in range(20)
    ] + [
        (100 + i, "tok " * ((8 + i % 2) * 16), "en", "shift_src", 640)
        for i in range(20)
    ] + [
        (200 + i, "fresh text here", "en", "new_src", 15) for i in range(5)
    ]
    rows = {r.source: r
            for r in drift_check(spark, d, _docs_df(spark, new_rows))
            .collect()}
    assert rows["stable_src"].drift_bp == 0
    # every shift_src doc moved buckets: full mass displacement
    assert rows["shift_src"].status == "both"
    assert rows["shift_src"].drift_bp == 10000
    assert rows["new_src"].status == "new"
    assert rows["new_src"].drift_bp is None
    assert rows["new_src"].n_old == 0 and rows["new_src"].n_new == 5


def test_drift_vanished_source(spark, tmp_path):
    from ocr_spark.pipeline.corpus_stats import build_stats, drift_check
    d = str(tmp_path / "stats")
    build_stats(spark, _docs_df(spark, BASE), d)
    only_stable = [r for r in BASE if r[3] == "stable_src"]
    rows = {r.source: r
            for r in drift_check(spark, d, _docs_df(spark, only_stable))
            .collect()}
    assert rows["shift_src"].status == "vanished"
    assert rows["shift_src"].drift_bp is None
    assert rows["shift_src"].n_new == 0


def test_registry_drift_read_uses_shared_bucket_frame(spark, tmp_path):
    """txt_drift_tvd and the artifact profile the same corpus through
    ONE shared bucket expression — their per-source totals must agree."""
    from ocr_spark.operators.quality import txt_drift_tvd
    from ocr_spark.pipeline.corpus_stats import profile_of
    d = str(tmp_path / "docs")
    df = _docs_df(spark, BASE)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    reg = {r.source: r.n_a + r.n_b
           for r in txt_drift_tvd(spark, d).collect()}
    art = {r[0]: r[1] for r in
           profile_of(df).groupBy("source")
           .agg(F.sum("n_docs")).collect()}
    assert reg == art
