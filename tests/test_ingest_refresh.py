"""Incremental crawl-refresh composition: drift quarantine + index dedup
+ the standing quality funnel over committed artifacts, then exactly-once
admission via the idempotent artifact appends."""

import pytest

from pyspark.sql import functions as F

RATES = {"en": 1.0}


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")


def _long_text(seed, n=40):
    # diverse vocabulary so the Gopher and classifier gates pass
    words = [f"w{seed}x{i} term{(seed + i) % 17} value{i % 13}"
             for i in range(n // 3 + 1)]
    return " ".join(" ".join(words).split()[:n])


BASE = (
    [(i, _long_text(i), "en", "stable", 300) for i in range(30)]
    + [(100 + i, _long_text(100 + i), "en", "template_changed", 300)
       for i in range(30)]
)


@pytest.fixture()
def artifacts(spark, tmp_path):
    from ocr_spark.pipeline.corpus_stats import build_stats
    from ocr_spark.pipeline.dedup_index import build_dedup_index
    stats = str(tmp_path / "stats")
    index = str(tmp_path / "index")
    corpus = _df(spark, BASE)
    build_stats(spark, corpus, stats, batch_tag="crawl-0")
    build_dedup_index(spark, corpus, index)
    return stats, index


def _batch_rows():
    return (
        # clean novel docs, same length profile as the snapshot
        [(1000 + i, _long_text(1000 + i), "en", "stable", 300)
         for i in range(5)]
        # verbatim copy of a corpus doc -> every band collides
        + [(2000, _long_text(3), "en", "stable", 300)]
        # junk: fails the quality gate (too short / repetitive)
        + [(2001, "spam spam spam", "en", "stable", 14)]
        # the drifted source: every doc 8x longer than its snapshot
        # profile (different floor-log2 bucket -> TVD 10000), including
        # one that also copies a corpus doc (priority check)
        + [(3000 + i, _long_text(3000 + i, n=320), "en",
            "template_changed", 2000) for i in range(5)]
        + [(3100, _long_text(103), "en", "template_changed", 300)]
    )


def test_refresh_verdicts_three_gates(spark, artifacts):
    from ocr_spark.pipeline.ingest_refresh import refresh_verdicts
    stats, index = artifacts
    v = {r.doc_id: r for r in
         refresh_verdicts(spark, stats, index, _df(spark, _batch_rows()),
                          sample_rates=RATES).collect()}
    # clean novel docs from the stable source are admitted
    for i in range(5):
        assert v[1000 + i].admit and v[1000 + i].drop_reason is None
    # the verbatim copy is caught by the committed band index
    assert v[2000].drop_reason == "index_dup"
    # junk falls to the standing funnel
    assert v[2001].drop_reason is not None
    assert v[2001].drop_reason not in ("index_dup", "drift_quarantine")
    # the drifted source is quarantined wholesale — including its copy
    # of a corpus doc (drift outranks index_dup) and its normal-length
    # doc (quarantine is per-source, not per-doc)
    for did in [3000, 3001, 3002, 3003, 3004, 3100]:
        assert v[did].drop_reason == "drift_quarantine", did


def test_commit_refresh_exactly_once(spark, artifacts):
    from ocr_spark.pipeline.corpus_stats import read_manifest
    from ocr_spark.pipeline.ingest_refresh import (commit_refresh,
                                                   refresh_verdicts)
    stats, index = artifacts
    batch = _df(spark, _batch_rows())
    report = commit_refresh(spark, stats, index, batch, "crawl-1",
                            sample_rates=RATES)
    assert report["n_admitted"] == 5
    assert report["verdicts"]["drift_quarantine"] == 6
    assert report["verdicts"]["index_dup"] == 1
    # the admitted docs are now IN the artifacts: re-checking the same
    # batch reports them as prior-crawl duplicates
    v2 = {r.doc_id: r for r in
          refresh_verdicts(spark, stats, index, batch,
                           sample_rates=RATES).collect()}
    for i in range(5):
        assert v2[1000 + i].drop_reason == "index_dup"
    # a retried commit with the same tag is a no-op on both artifacts
    m_before = read_manifest(stats)
    report2 = commit_refresh(spark, stats, index, batch, "crawl-1",
                             sample_rates=RATES)
    assert read_manifest(stats) == m_before
    assert report2["profile_docs"] == report["profile_docs"]
    assert report2["index_docs"] == report["index_docs"]


def test_commit_crash_between_appends_retries_cleanly(spark, artifacts,
                                                      monkeypatch):
    """The write-ahead ledger contract: a crash AFTER the index append
    but BEFORE the stats append must not lose the admitted docs — the
    retry reads the ledger (not a re-verdict against the now-updated
    index, which would flag every admitted doc as index_dup and fold an
    empty frame into the profile)."""
    from ocr_spark.pipeline import ingest_refresh as ir
    from ocr_spark.pipeline.corpus_stats import read_manifest
    stats, index = artifacts
    batch = _df(spark, _batch_rows())

    real_append_stats = ir.append_stats

    def boom(*a, **k):
        raise RuntimeError("simulated crash between the two appends")

    monkeypatch.setattr(ir, "append_stats", boom)
    with pytest.raises(RuntimeError):
        ir.commit_refresh(spark, stats, index, batch, "crawl-crash",
                          sample_rates=RATES)
    # index already holds the batch; profile does not
    assert read_manifest(stats)["n_docs"] == len(BASE)

    monkeypatch.setattr(ir, "append_stats", real_append_stats)
    report = ir.commit_refresh(spark, stats, index, batch, "crawl-crash",
                               sample_rates=RATES)
    # the retry admits the SAME 5 docs (from the ledger) and the profile
    # catches up to the index
    assert report["n_admitted"] == 5
    assert read_manifest(stats)["n_docs"] == len(BASE) + 5
    assert "crawl-crash" in read_manifest(stats)["batch_tags"]


def test_append_stats_swap_manifest_crash_heals(spark, artifacts,
                                                monkeypatch):
    """A crash between the swap and the manifest rewrite leaves the tag
    committed WITH the data (the tags file rides the rename): the retry
    heals the manifest instead of double-counting the batch."""
    from ocr_spark.pipeline import corpus_stats as cs
    stats, _index = artifacts
    extra = _df(spark, [(9000, _long_text(9000), "en", "stable", 300)])

    real_write = cs.artifact.commit
    calls = {"n": 0}

    def crash_on_manifest(out_dir, manifest, name):
        if name != cs._MANIFEST:  # the tags file rides the swap
            return real_write(out_dir, manifest, name)
        calls["n"] += 1
        raise RuntimeError("simulated crash before manifest rewrite")

    monkeypatch.setattr(cs.artifact, "commit", crash_on_manifest)
    with pytest.raises(RuntimeError):
        cs.append_stats(spark, stats, extra, batch_tag="tag-x")
    monkeypatch.setattr(cs.artifact, "commit", real_write)
    # data already contains the batch; manifest is stale
    assert "tag-x" not in (cs.read_manifest(stats).get("batch_tags") or [])
    m = cs.append_stats(spark, stats, extra, batch_tag="tag-x")
    # healed, NOT double-counted
    assert "tag-x" in m["batch_tags"]
    assert m["n_docs"] == len(BASE) + 1


def test_null_doc_id_rows_never_admitted(spark, artifacts):
    from ocr_spark.pipeline.ingest_refresh import refresh_verdicts
    stats, index = artifacts
    rows = [(None, _long_text(7000), "en", "stable", 300),
            (7001, _long_text(7001), "en", "stable", 300)]
    v = refresh_verdicts(spark, stats, index, _df(spark, rows),
                         sample_rates=RATES).collect()
    assert [r.doc_id for r in v] == [7001]


def test_drift_gate_admits_new_sources(spark, artifacts):
    """A brand-new source has no baseline: it must not be quarantined,
    and its clean docs flow through the funnel normally."""
    from ocr_spark.pipeline.ingest_refresh import refresh_verdicts
    stats, index = artifacts
    rows = [(5000 + i, _long_text(5000 + i), "en", "never_seen", 300)
            for i in range(4)]
    v = {r.doc_id: r for r in
         refresh_verdicts(spark, stats, index, _df(spark, rows),
                          sample_rates=RATES).collect()}
    assert all(r.admit for r in v.values())
