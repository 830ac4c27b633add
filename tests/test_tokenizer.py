"""Persisted BPE tokenizer artifact: train/commit/apply contract,
segmentation parity with the trainer's rewrite rule, merge monotonicity,
manifest gating."""

import json
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


DOCS = [
    # 'lo' dominates pairs, then 'low' / 'er' chains — the classic BPE toy
    (1, "low lower lowest low low"),
    (2, "newer newest new lower low"),
    (3, "er er er low lowest newer"),
]


def _docs_df(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_train_apply_matches_reference_segmentation(spark, tmp_path):
    from ocr_spark.pipeline.tokenizer import (apply_tokenizer, load_merges,
                                              segment_word, train_tokenizer)
    tok = str(tmp_path / "tok")
    m = train_tokenizer(spark, _docs_df(spark), tok, n_merges=6)
    assert m["n_merges"] == 6
    merges = load_merges(spark, tok)
    assert len(merges) == 6

    got = {r.doc_id: r for r in
           apply_tokenizer(spark, tok, _docs_df(spark)).collect()}
    for doc_id, text in DOCS:
        words = text.split()
        want = sum(len(segment_word(w, merges)) for w in words)
        assert got[doc_id].n_words == len(words)
        assert got[doc_id].n_bpe_tokens == want
    # merges learned: tokens strictly below raw character counts
    assert got[1].n_bpe_tokens < sum(len(w) for w in DOCS[0][1].split())


def test_zero_merges_is_char_tokenizer(spark, tmp_path):
    from ocr_spark.pipeline.tokenizer import apply_tokenizer, train_tokenizer
    tok = str(tmp_path / "tok0")
    train_tokenizer(spark, _docs_df(spark), tok, n_merges=0)
    got = {r.doc_id: r for r in
           apply_tokenizer(spark, tok, _docs_df(spark)).collect()}
    for doc_id, text in DOCS:
        assert got[doc_id].n_bpe_tokens == sum(len(w) for w in text.split())


def test_more_merges_never_grow_token_counts(spark, tmp_path):
    from ocr_spark.pipeline.tokenizer import apply_tokenizer, train_tokenizer
    small, big = str(tmp_path / "s"), str(tmp_path / "b")
    train_tokenizer(spark, _docs_df(spark), small, n_merges=2)
    train_tokenizer(spark, _docs_df(spark), big, n_merges=8)
    a = {r.doc_id: r.n_bpe_tokens for r in
         apply_tokenizer(spark, small, _docs_df(spark)).collect()}
    b = {r.doc_id: r.n_bpe_tokens for r in
         apply_tokenizer(spark, big, _docs_df(spark)).collect()}
    assert all(b[k] <= a[k] for k in a)


def test_artifact_matches_registry_trainer(spark, tmp_path):
    """The committed merge table must be EXACTLY bpe_train_merges' output
    on the same corpus (shared training core, no drift)."""
    from ocr_spark.operators.corpus import BPE_TRAIN_MERGES, bpe_train_merges
    from ocr_spark.pipeline.tokenizer import train_tokenizer
    tok = str(tmp_path / "tok")
    train_tokenizer(spark, _docs_df(spark), tok,
                    n_merges=BPE_TRAIN_MERGES)
    committed = [(r.merge_rank, r.left, r.right, r.pair_count)
                 for r in (spark.read.parquet(os.path.join(tok, "merges"))
                           .orderBy("merge_rank").collect())]
    d = str(tmp_path / "docs")
    _docs_df(spark).write.parquet(os.path.join(d, "documents.parquet"))
    want = [(r.merge_rank, r.left, r.right, r.pair_count)
            for r in bpe_train_merges(spark, d).orderBy("merge_rank")
            .collect()]
    assert committed == want


def test_manifest_gating(spark, tmp_path):
    from ocr_spark.pipeline.tokenizer import (load_merges, read_manifest,
                                              train_tokenizer)
    with pytest.raises(FileNotFoundError):
        load_merges(spark, str(tmp_path / "nope"))
    tok = str(tmp_path / "tok")
    train_tokenizer(spark, _docs_df(spark), tok, n_merges=2)
    path = os.path.join(tok, "_tokenizer_manifest.json")
    with open(path) as f:
        m = json.load(f)
    m["version"] = 99
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError):
        read_manifest(tok)


def test_pack_with_tokenizer_places_at_bpe_granularity(spark, tmp_path):
    """The two-artifact composition: packing placement over the
    committed tokenizer's counts must equal a driver-side replay —
    per-doc n_tokens_b == segment_word totals, shard keys carried
    through the Arrow stage (no corpus self-join), and the per-shard
    exclusive prefix / sequence arithmetic exact."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.frames import PACK_SEQ_LEN
    from ocr_spark.pipeline.tokenizer import (load_merges,
                                              pack_with_tokenizer,
                                              segment_word, train_tokenizer)
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where(F.col("doc_id").isNotNull())
            .select("doc_id", "text", "lang", "source"))
    # zero-BPE-token docs (NULL / whitespace-only text) are reachable
    # only on this token_col path (the whitespace proxy never emits 0):
    # they must occupy NO sequence wherever they land
    planted = spark.createDataFrame(
        [(10_000_001, None, "de", "crawl-a"),
         (10_000_002, " \t\x0b ", "de", "crawl-a")],
        "doc_id long, text string, lang string, source string")
    docs = docs.unionByName(planted)
    tok = str(tmp_path / "tok")
    train_tokenizer(spark, docs, tok, n_merges=8)
    merges = load_merges(spark, tok)

    rows = {r.doc_id: r for r in pack_with_tokenizer(spark, tok, docs)
            .collect()}
    src = {r.doc_id: r for r in
           docs.select("doc_id", "text", "lang", "source").collect()}
    assert set(rows) == set(src)

    import re
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def n_bpe(text):
        return sum(len(segment_word(w, merges))
                   for w in ws.split((text or "").lower()) if w)

    # per-doc counts + passthrough shard keys
    for i, r in rows.items():
        assert (r.lang, r.source) == (src[i].lang, src[i].source), i
        assert r.n_tokens_b == n_bpe(src[i].text), i

    # placement replay: exclusive prefix in doc_id order per shard
    by_shard = {}
    for i in sorted(src):
        by_shard.setdefault((src[i].lang, src[i].source), []).append(i)
    for ids in by_shard.values():
        cum = 0
        for i in ids:
            r = rows[i]
            assert r.tok_start == cum, i
            assert r.first_seq == cum // PACK_SEQ_LEN, i
            assert r.seq_offset == cum % PACK_SEQ_LEN, i
            if r.n_tokens_b == 0:
                assert r.n_seqs == 0, i
            else:
                assert r.n_seqs == (
                    (cum + r.n_tokens_b - 1) // PACK_SEQ_LEN
                    - cum // PACK_SEQ_LEN + 1), i
            cum += r.n_tokens_b
    assert rows[10_000_001].n_tokens_b == 0
    assert rows[10_000_001].n_seqs == 0
    assert rows[10_000_002].n_seqs == 0
