"""Persisted banded MinHash dedup index: build/check/append contract,
manifest-after-data atomicity, and append crash-safety (old index stays
readable)."""

import json
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten"),
    (3, "red orange yellow green blue indigo violet pink black white"),
]
BATCH = [
    # near-dup of doc 1 (same prefix, one-token suffix change): collides
    # in at least one band with overwhelming probability on fixed hashes
    (11, "alpha beta gamma delta epsilon zeta eta theta iota probe"),
    # exact copy of doc 2: collides in EVERY band
    (12, "one two three four five six seven eight nine ten"),
    # novel doc: no collision
    (13, "completely unrelated fresh content nothing shared here at all ok"),
]


def test_build_check_verdicts(spark, tmp_path):
    from ocr_spark.pipeline.dedup_index import (build_dedup_index,
                                                check_batch, read_manifest)
    idx = str(tmp_path / "idx")
    m = build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    assert m["n_docs"] == 3 and m["n_buckets"] >= 3
    assert read_manifest(idx)["n_docs"] == 3

    got = {r.doc_id: r for r in
           check_batch(spark, idx, _docs_df(spark, BATCH)).collect()}
    assert got[12].is_dup == 1 and got[12].n_band_hits == 4
    assert got[12].match_id == 2
    assert got[13].is_dup == 0 and got[13].match_id is None
    # the exact copy is the strong contract; the near-dup is probabilistic
    # per-band but deterministic on the fixed hash family — record it
    assert got[11].n_band_hits >= 0


def test_missing_manifest_is_no_index(spark, tmp_path):
    from ocr_spark.pipeline.dedup_index import check_batch
    with pytest.raises(FileNotFoundError):
        check_batch(spark, str(tmp_path / "nope"), _docs_df(spark, BATCH))


def test_append_makes_next_crawl_see_the_batch(spark, tmp_path):
    from ocr_spark.pipeline.dedup_index import (append_batch,
                                                build_dedup_index,
                                                check_batch, read_manifest)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    novel = [(13, BATCH[2][1])]
    before = check_batch(spark, idx, _docs_df(spark, novel)).collect()[0]
    assert before.is_dup == 0

    m = append_batch(spark, idx, _docs_df(spark, novel))
    assert m["appends"] == 1 and m["n_docs"] == 4

    # the same doc replayed next crawl now fully collides with itself
    after = check_batch(spark, idx, _docs_df(spark, novel)).collect()[0]
    assert after.is_dup == 1 and after.n_band_hits == 4
    assert after.match_id == 13
    # canonical min survives the merge: doc 2's bucket still points at 2
    copy2 = check_batch(
        spark, idx, _docs_df(spark, [(99, CORPUS[1][1])])).collect()[0]
    assert copy2.match_id == 2
    # no swap debris
    assert not os.path.exists(os.path.join(idx, "band_index.append-tmp"))
    assert not os.path.exists(os.path.join(idx, "band_index.append-old"))


def test_append_counts_merge(spark, tmp_path):
    from ocr_spark.pipeline.dedup_index import append_batch, build_dedup_index
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    # append an exact copy of doc 2: its buckets' member counts grow,
    # canonical stays the old min
    append_batch(spark, idx, _docs_df(spark, [(12, CORPUS[1][1])]))
    rows = (spark.read.parquet(os.path.join(idx, "band_index"))
            .where("canonical_id = 2").collect())
    assert rows and all(r.n_members == 2 for r in rows)


def test_crashed_build_is_invisible(spark, tmp_path):
    """Data without a manifest must read as 'no index' (a crashed build
    leaves orphan parquet, never a readable-but-partial index)."""
    from ocr_spark.pipeline.dedup_index import (_DATA, _bands_of,
                                                _bucketize, check_batch)
    idx = str(tmp_path / "idx")
    _bucketize(_bands_of(_docs_df(spark, CORPUS))).write.parquet(
        os.path.join(idx, _DATA))
    with pytest.raises(FileNotFoundError):
        check_batch(spark, idx, _docs_df(spark, BATCH))


def test_incompatible_manifest_rejected(spark, tmp_path):
    from ocr_spark.pipeline.dedup_index import (build_dedup_index,
                                                read_manifest)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    path = os.path.join(idx, "_index_manifest.json")
    with open(path) as f:
        m = json.load(f)
    m["n_minhash"] = 64  # an index built under different params
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError):
        read_manifest(idx)


def test_append_idempotent_by_batch_tag(spark, tmp_path):
    """A RETRIED append of the same tagged batch is a no-op (the resume
    contract): counts don't double, the manifest doesn't re-record it."""
    from ocr_spark.pipeline.dedup_index import append_batch, build_dedup_index
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    b = _docs_df(spark, [(12, CORPUS[1][1])])
    m1 = append_batch(spark, idx, b, batch_tag="crawl-0007")
    assert m1["appends"] == 1 and m1["batch_tags"] == ["crawl-0007"]
    m2 = append_batch(spark, idx, b, batch_tag="crawl-0007")   # retry
    assert m2["appends"] == 1 and m2["n_docs"] == m1["n_docs"]
    rows = (spark.read.parquet(os.path.join(idx, "band_index"))
            .where("canonical_id = 2").collect())
    assert rows and all(r.n_members == 2 for r in rows)   # not 3


def test_swap_crash_window_recovers(spark, tmp_path):
    """Crash INSIDE append's two-rename swap (data renamed away, tmp not
    yet promoted): the next reader rolls the old data back and serves the
    state the committed manifest describes."""
    from ocr_spark.pipeline.dedup_index import build_dedup_index, check_batch
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    data = os.path.join(idx, "band_index")
    os.rename(data, data + ".append-old")      # the mid-swap crash state
    got = {r.doc_id: r for r in
           check_batch(spark, idx, _docs_df(spark, BATCH)).collect()}
    assert got[12].is_dup == 1 and got[12].match_id == 2
    assert os.path.exists(data)
    assert not os.path.exists(data + ".append-old")


def test_rebuild_crash_leaves_no_stale_manifest(spark, tmp_path):
    """Rebuilding over a committed index first invalidates the old
    manifest, so a crash mid-rewrite reads as 'no index', never as a
    readable-but-partial one."""
    from ocr_spark.pipeline.dedup_index import (_MANIFEST, _bands_of,
                                                _bucketize,
                                                build_dedup_index,
                                                check_batch)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    # simulate the crash: manifest removed (the rebuild's first step),
    # data half-rewritten (here: still the old data)
    os.remove(os.path.join(idx, _MANIFEST))
    with pytest.raises(FileNotFoundError):
        check_batch(spark, idx, _docs_df(spark, BATCH))
    # a completed rebuild recommits cleanly
    m = build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    assert m["n_docs"] == 3


def test_append_concurrent_rerun_verdicts_stable(spark, tmp_path):
    """The LOST-UPDATE interleaving of two writers appending the same
    tagged batch (writer B read the manifest before writer A's commit
    recorded the tag, so B's idempotence guard passes and the batch
    merges TWICE — the worst schedule a concurrent re-run can produce,
    and the same state as a crash between swap and manifest write
    followed by a retry). The documented contract: the index stays
    readable and every dedup VERDICT is unchanged — canonical ids are
    MIN-stable and the bucket KEY set is union-stable, so only
    n_members double-counts, and only for that batch's buckets."""
    import json as _json

    from ocr_spark.pipeline.dedup_index import (_MANIFEST, append_batch,
                                                build_dedup_index,
                                                check_batch)
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, _docs_df(spark, CORPUS), idx)
    b = _docs_df(spark, [(12, CORPUS[1][1])])

    verdict_cols = ("doc_id", "n_band_hits", "match_id", "is_dup")

    def verdicts():
        return {tuple(getattr(r, c) for c in verdict_cols)
                for r in check_batch(spark, idx,
                                     _docs_df(spark, BATCH)).collect()}

    append_batch(spark, idx, b, batch_tag="crawl-0042")   # writer A
    after_a = verdicts()

    # writer B holds the PRE-COMMIT manifest (no tag recorded yet):
    # replay its view, then its append proceeds past the guard
    mpath = os.path.join(idx, _MANIFEST)
    m = _json.load(open(mpath))
    m["batch_tags"] = []
    _json.dump(m, open(mpath, "w"))
    m2 = append_batch(spark, idx, b, batch_tag="crawl-0042")  # writer B

    assert verdicts() == after_a                # no verdict flips
    assert m2["appends"] == 2                   # double-applied, visibly
    assert "crawl-0042" in m2["batch_tags"]
    rows = (spark.read.parquet(os.path.join(idx, "band_index"))
            .where("canonical_id = 2").collect())
    # the one documented casualty: member counts for that batch's
    # buckets (1 original + 2 applied appends), never the canonical
    assert rows and all(r.n_members == 3 for r in rows)
    # a THIRD retry with the tag now recorded is a clean no-op
    m3 = append_batch(spark, idx, b, batch_tag="crawl-0042")
    assert m3["appends"] == 2
