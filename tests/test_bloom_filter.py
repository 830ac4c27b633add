"""Persisted Bloom-filter artifact: build/check/append contract,
no-false-negatives guarantee, frozen modulus, fill gauge,
manifest-after-data atomicity and swap crash-safety."""

import json
import os

import pytest

# no testdata skipif: every test here builds its own frames via
# tmp_path — the artifact's crash contracts must run on any machine


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten"),
    (3, "red orange yellow green blue indigo violet pink black white"),
]
BATCH = [
    (11, "one two three four five six seven eight nine ten"),   # exact copy
    (12, "ONE  two three four five six seven eight nine ten"),  # ws/case dup
    (13, "completely unrelated fresh content nothing shared at all ok"),
]


def test_build_check_no_false_negatives(spark, tmp_path):
    from ocr_spark.functions.hashing import BLOOM_K
    from ocr_spark.pipeline.bloom_filter import (build_bloom_filter,
                                                 check_batch, read_manifest)
    d = str(tmp_path / "bloom")
    m = build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    assert m["n_keys"] == 3 and m["k"] == BLOOM_K
    assert 0 < m["n_bits_set"] <= 3 * BLOOM_K
    assert m["fill_bp"] == (m["n_bits_set"] * 10000) // m["m"]
    assert read_manifest(d)["m"] == m["m"]

    got = {r.doc_id: r for r in
           check_batch(spark, d, _docs_df(spark, BATCH)).collect()}
    # inserted content can NEVER miss — including the whitespace/case
    # variant (content_md5 normalizes both)
    assert got[11].n_hits == BLOOM_K and got[11].bloom_dup
    assert got[12].n_hits == BLOOM_K and got[12].bloom_dup
    # novel doc: with 3 keys in an 8n-wide filter a full k-hit is
    # effectively impossible; assert the verdict the fixture exhibits
    assert not got[13].bloom_dup


def test_null_text_never_false_negative(spark, tmp_path):
    """NULL text coalesces to '' on BOTH the build and probe paths (the
    shared bloom_probe_frame): a NULL-text doc folded in is found again,
    and no NULL position row ever pollutes the bits or the fill gauge."""
    from ocr_spark.functions.hashing import BLOOM_K
    from ocr_spark.pipeline.bloom_filter import (_DATA, build_bloom_filter,
                                                 check_batch)
    d = str(tmp_path / "bloom")
    m = build_bloom_filter(
        spark, _docs_df(spark, [(1, None), (2, "hello world")]), d)
    bits = spark.read.parquet(os.path.join(d, _DATA)).collect()
    assert all(r.pos is not None for r in bits)
    assert m["n_bits_set"] == len(bits) <= 2 * BLOOM_K
    got = {r.doc_id: r for r in check_batch(
        spark, d, _docs_df(spark, [(11, None), (12, "Hello\t WORLD"),
                                   (13, "novel content")])).collect()}
    assert got[11].n_hits == BLOOM_K and got[11].bloom_dup
    # case/whitespace variant normalizes to the inserted key
    assert got[12].n_hits == BLOOM_K and got[12].bloom_dup


def test_missing_manifest_is_no_filter(spark, tmp_path):
    from ocr_spark.pipeline.bloom_filter import check_batch
    with pytest.raises(FileNotFoundError):
        check_batch(spark, str(tmp_path / "nope"), _docs_df(spark, BATCH))


def test_append_makes_next_crawl_see_the_batch(spark, tmp_path):
    from ocr_spark.functions.hashing import BLOOM_K
    from ocr_spark.pipeline.bloom_filter import (append_batch,
                                                 build_bloom_filter,
                                                 check_batch)
    d = str(tmp_path / "bloom")
    build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    novel = [(13, "completely unrelated fresh content nothing shared "
                  "at all ok")]
    before = check_batch(spark, d, _docs_df(spark, novel)).collect()[0]
    assert not before.bloom_dup
    m = append_batch(spark, d, _docs_df(spark, novel), batch_tag="crawl-1")
    assert m["appends"] == 1 and m["n_keys"] == 4
    after = check_batch(spark, d, _docs_df(spark, novel)).collect()[0]
    assert after.n_hits == BLOOM_K and after.bloom_dup


def test_append_frozen_modulus_and_fill_monotone(spark, tmp_path):
    """m never changes across appends; the fill gauge only grows and is
    recomputed from the committed bits."""
    from ocr_spark.pipeline.bloom_filter import (append_batch,
                                                 build_bloom_filter)
    d = str(tmp_path / "bloom")
    m0 = build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    m1 = append_batch(spark, d, _docs_df(
        spark, [(21, "brand new content number twenty one")]), "c1")
    m2 = append_batch(spark, d, _docs_df(
        spark, [(22, "brand new content number twenty two")]), "c2")
    assert m0["m"] == m1["m"] == m2["m"]
    assert m0["n_bits_set"] <= m1["n_bits_set"] <= m2["n_bits_set"]
    assert m2["fill_bp"] == (m2["n_bits_set"] * 10000) // m2["m"]


def test_append_idempotent_by_batch_tag_and_set_monotone(spark, tmp_path):
    """Same tag: the retry is a manifest no-op. Even WITHOUT the tag a
    replayed append cannot change the bitset (set union is monotone) —
    only the gauges move."""
    from ocr_spark.pipeline.bloom_filter import (_DATA, append_batch,
                                                 build_bloom_filter)
    d = str(tmp_path / "bloom")
    build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    batch = _docs_df(spark, [(31, "replayed crawl content here")])
    m1 = append_batch(spark, d, batch, batch_tag="crawl-x")
    m2 = append_batch(spark, d, batch, batch_tag="crawl-x")
    assert m2 == m1  # tagged retry: nothing moves
    bits_before = {r.pos for r in
                   spark.read.parquet(os.path.join(d, _DATA)).collect()}
    m3 = append_batch(spark, d, batch)  # untagged replay
    bits_after = {r.pos for r in
                  spark.read.parquet(os.path.join(d, _DATA)).collect()}
    assert bits_after == bits_before
    assert m3["n_bits_set"] == m1["n_bits_set"]


def test_swap_crash_window_recovers(spark, tmp_path):
    from ocr_spark.pipeline.bloom_filter import (_DATA, build_bloom_filter,
                                                 check_batch)
    d = str(tmp_path / "bloom")
    build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    data = os.path.join(d, _DATA)
    os.rename(data, data + ".append-old")      # mid-swap crash state
    got = {r.doc_id: r for r in
           check_batch(spark, d, _docs_df(spark, BATCH)).collect()}
    assert got[11].bloom_dup
    assert os.path.exists(data)
    assert not os.path.exists(data + ".append-old")


def test_rebuild_crash_leaves_no_stale_manifest(spark, tmp_path):
    from ocr_spark.pipeline.bloom_filter import (_MANIFEST,
                                                 build_bloom_filter,
                                                 check_batch)
    d = str(tmp_path / "bloom")
    build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    os.remove(os.path.join(d, _MANIFEST))  # the rebuild's first step
    with pytest.raises(FileNotFoundError):
        check_batch(spark, d, _docs_df(spark, BATCH))
    m = build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    assert m["n_keys"] == 3


def test_incompatible_manifest_rejected(spark, tmp_path):
    from ocr_spark.pipeline.bloom_filter import (_MANIFEST,
                                                 build_bloom_filter,
                                                 read_manifest)
    d = str(tmp_path / "bloom")
    build_bloom_filter(spark, _docs_df(spark, CORPUS), d)
    p = os.path.join(d, _MANIFEST)
    with open(p) as f:
        m = json.load(f)
    m["k"] = 99
    with open(p, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError):
        read_manifest(d)
