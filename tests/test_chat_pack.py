"""SFT-grain chat packing: token/mask conservation, the stream-tiling
invariants and the distributed-scan-vs-naive-window pin at the
conversation grain. The sf0.01 oracle compare for
smp_chat_pack / smp_chat_pack_seqs runs via the ALL_QUERIES parametrize
in test_operators.py."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _placement(spark):
    from ocr_spark.operators.quality import chat_pack_placement
    from ocr_spark.sources.synthetic import agent_transcripts
    return chat_pack_placement(
        agent_transcripts(spark, SF_DIR, conv_mod=25))


def test_chat_pack_tiles_the_token_stream(spark):
    """Turn spans tile the global stream exactly: starts begin at 0,
    each turn starts where the previous ended, total == sum of turn
    token counts, and conversations are contiguous (every turn of a
    conversation lies inside [conv_start, conv_start + conv_tokens))."""
    rows = _placement(spark).collect()
    rows.sort(key=lambda r: r.tok_start)
    assert rows[0].tok_start == 0
    for a, b in zip(rows, rows[1:]):
        assert b.tok_start == a.tok_start + a.n_tokens
        assert a.n_tokens >= 1
    # conversation contiguity: per conv, spans are adjacent
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)
    assert len(by_conv) == 25
    for turns in by_conv.values():
        for a, b in zip(turns, turns[1:]):
            assert b.tok_start == a.tok_start + a.n_tokens
        assert turns[0].tok_start == turns[0].conv_start


def test_chat_pack_loss_mask_is_role_derived(spark):
    rows = _placement(spark).collect()
    for r in rows:
        assert r.loss == (1 if r.role == "assistant" else 0)
    # conv_mod=25 mixes roles: trainable AND masked spans both exist
    assert any(r.loss == 1 for r in rows)
    assert any(r.loss == 0 for r in rows)


def test_chat_pack_seqs_conserve_tokens_and_masks(spark):
    """The per-sequence view conserves every token and every loss-mask
    token of the placement, fills every non-tail sequence to
    PACK_SEQ_LEN, and its segment counts match a direct replay of the
    boundary structure."""
    from ocr_spark.functions.frames import PACK_SEQ_LEN
    from ocr_spark.operators.quality import smp_chat_pack_seqs
    turns = _placement(spark).collect()
    seqs = smp_chat_pack_seqs(spark, SF_DIR).collect()

    total = sum(r.n_tokens for r in turns)
    loss_total = sum(r.n_tokens for r in turns if r.loss == 1)
    assert sum(s.n_seq_tokens for s in seqs) == total
    assert sum(s.n_loss_tokens for s in seqs) == loss_total
    assert [s.seq_id for s in seqs] == list(range(len(seqs)))
    for s in seqs[:-1]:
        assert s.n_seq_tokens == PACK_SEQ_LEN
    assert 0 < seqs[-1].n_seq_tokens <= PACK_SEQ_LEN
    for s in seqs:
        assert 0 <= s.n_loss_tokens <= s.n_seq_tokens
        assert 1 <= s.n_segments <= s.n_convs + 1

    # replay the attention segments from the conversation boundaries:
    # segments in seq s = conv starts inside it + 1 if it opens mid-conv
    starts = sorted(r.conv_start for r in turns
                    if r.tok_start == r.conv_start)
    got = {s.seq_id: s.n_segments for s in seqs}
    L = PACK_SEQ_LEN
    for sid in got:
        inside = [c for c in starts if sid * L <= c < (sid + 1) * L]
        want = len(inside) + (0 if sid * L in inside else 1)
        assert got[sid] == want, f"seq {sid}"


def test_chat_pack_conv_scan_matches_naive_window(spark):
    """Conversation starts from the two-level distributed scan must be
    bit-identical to one naive global window over md5-long conv order —
    on the md5-spread keys the production path uses."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ocr_spark.functions.hashing import md5_long
    from ocr_spark.operators.quality import _TURN_TOKENS
    from ocr_spark.sources.synthetic import agent_transcripts

    t = agent_transcripts(spark, SF_DIR, conv_mod=25)
    conv = (t.selectExpr(
        "conv_id", f"CAST(size({_TURN_TOKENS}) AS BIGINT) AS n_tokens")
        .groupBy("conv_id").agg(F.sum("n_tokens").alias("conv_tokens"))
        .withColumn("ckey", md5_long(F.col("conv_id"))))
    w = (W.partitionBy().orderBy("ckey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    naive = {r.conv_id: r.conv_start for r in conv.withColumn(
        "conv_start",
        F.sum("conv_tokens").over(w) - F.col("conv_tokens")).collect()}
    got = {r.conv_id: r.conv_start
           for r in _placement(spark)
           .select("conv_id", "conv_start").distinct().collect()}
    assert got == naive
