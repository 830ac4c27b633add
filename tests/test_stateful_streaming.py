"""Stateful streaming operators: cross-micro-batch first-wins dedup and
running totals via applyInPandasWithState."""

import os

import pytest
from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, dedup_key string") \
        .coalesce(1).write.mode("append").parquet(path)


def _run_available_now(spark, stream_df, out, ckpt):
    """Parquet sink: the memory sink cannot recover from a checkpoint, so
    cross-micro-batch state tests need a durable sink."""
    q = (stream_df.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination(300)
    return spark.read.parquet(out)


def test_dedup_survives_micro_batches(spark, tmp_path):
    from ocr_spark.streaming.stateful import streaming_dedup_first_wins
    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")

    _write_batch(spark, inp, [("c1", 1, "k1"), ("c1", 2, "k2"),
                              ("c1", 3, "k1"),  # dup within batch
                              ("c2", 1, "k1")])  # same key, other conv
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_dedup_first_wins(stream),
                             str(tmp_path / "out"), ckpt)
    got = {(r.conv_id, r.turn_idx): r.first_seen for r in res.collect()}
    assert got[("c1", 1)] == 1
    assert got[("c1", 3)] == 0, "within-batch duplicate must be tagged"
    assert got[("c2", 1)] == 1, "state is per conversation"

    # second micro-batch: duplicate of k2 arrives LATER — state remembers
    _write_batch(spark, inp, [("c1", 4, "k2"), ("c1", 5, "k3")])
    stream = spark.readStream.schema(schema).parquet(inp)
    res2 = _run_available_now(spark, streaming_dedup_first_wins(stream),
                              str(tmp_path / "out"), ckpt)
    # the parquet sink accumulates; keep only pass-2 rows (turn_idx >= 4)
    got2 = {(r.conv_id, r.turn_idx): r.first_seen for r in res2.collect()}
    assert got2[("c1", 4)] == 0, "cross-micro-batch duplicate must be tagged"
    assert got2[("c1", 5)] == 1


def test_running_totals_accumulate(spark, tmp_path):
    from ocr_spark.streaming.stateful import streaming_running_totals
    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")

    def write(rows):
        spark.createDataFrame(
            rows, "conv_id string, n_items int, calc_total double") \
            .coalesce(1).write.mode("append").parquet(inp)

    write([("c1", 2, 10.50), ("c1", 1, 5.25), ("c2", 3, 1.00)])
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_running_totals(stream),
                             str(tmp_path / "out"), ckpt)
    t1 = {r.conv_id: (r.n_turns, r.n_items, r.calc_total_cents)
          for r in res.collect()}
    assert t1["c1"] == (2, 3, 1575)
    assert t1["c2"] == (1, 3, 100)

    write([("c1", 1, 4.25)])
    stream = spark.readStream.schema(schema).parquet(inp)
    res2 = _run_available_now(spark, streaming_running_totals(stream),
                              str(tmp_path / "out"), ckpt)
    # latest emitted row per conversation wins (sink accumulates)
    t2 = {}
    for r in res2.collect():
        cur = t2.get(r.conv_id)
        if cur is None or r.n_turns > cur[0]:
            t2[r.conv_id] = (r.n_turns, r.n_items, r.calc_total_cents)
    assert t2["c1"] == (3, 4, 2000), "totals accumulate across micro-batches"


def test_streaming_neardup_across_micro_batches(spark, tmp_path):
    """A near-duplicate arriving in a LATER micro-batch must still link
    to the canonical document from the earlier batch — the state the
    batch self-join cannot carry."""
    from ocr_spark.streaming.stateful import streaming_minhash_neardup
    inp = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(inp)

    # batch 1: the canonical doc + one unrelated doc
    write([(1, base),
           (50, " ".join(f"unrelated{j}" for j in range(20)))])
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res1 = _run_available_now(spark, streaming_minhash_neardup(stream),
                              out, ckpt)
    got1 = {(r.doc_id, r.band): (r.canonical_id, r.is_first)
            for r in res1.collect()}
    assert all(v == (1, 1) for (d, _), v in got1.items() if d == 1)

    # batch 2: an exact copy of doc 1 (same signature, all bands collide)
    write([(2, base)])
    stream = spark.readStream.schema(schema).parquet(inp)
    res2 = _run_available_now(spark, streaming_minhash_neardup(stream),
                              out, ckpt)
    dup_rows = [r for r in res2.collect() if r.doc_id == 2]
    assert len(dup_rows) == 4  # one per band
    assert all(r.canonical_id == 1 and r.is_first == 0 for r in dup_rows), \
        "cross-batch duplicate must link to the batch-1 canonical"

def test_streaming_conv_stats_matches_batch(spark, tmp_path):
    """streaming_conv_stats over micro-batches must converge to the BATCH
    conv_stats aggregation over the same turns (the latest emitted row
    per conversation equals the batch groupBy), including a conversation
    split ACROSS micro-batches."""
    from ocr_spark.streaming.stateful import streaming_conv_stats

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    schema_str = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")

    import datetime as dt

    def ts(s):
        return dt.datetime(2025, 1, 1, 0, 0, s)

    batch1 = [("c1", 0, "user", "hello there", None, ts(0)),
              ("c1", 1, "tool", "result one", "search", ts(7)),
              ("c2", 0, "assistant", "standalone reply", None, ts(3))]
    batch2 = [("c1", 2, "tool", "result two", "code", ts(21)),
              ("c1", 3, "assistant", "final answer text", None, ts(28))]

    def write(rows):
        spark.createDataFrame(rows, schema_str).coalesce(1) \
            .write.mode("append").parquet(inp)

    write(batch1)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    _run_available_now(spark, streaming_conv_stats(stream), out, ckpt)
    write(batch2)
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_conv_stats(stream), out, ckpt)

    latest = {}
    for r in res.collect():
        cur = latest.get(r.conv_id)
        if cur is None or r.n_turns > cur.n_turns:
            latest[r.conv_id] = r

    # batch reference over ALL turns
    batch = {r.conv_id: r for r in (
        spark.read.parquet(inp).groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum((F.col("role") == "user").cast("bigint")).alias("n_user"),
             F.sum((F.col("role") == "assistant").cast("bigint"))
             .alias("n_assistant"),
             F.sum((F.col("role") == "tool").cast("bigint"))
             .alias("n_tool_turns"),
             F.count_distinct("tool").alias("n_distinct_tools"),
             F.sum(F.length("text").cast("bigint")).alias("total_chars"),
             F.max(F.length("text").cast("bigint")).alias("max_turn_chars"),
             F.expr("CAST(timestampdiff(SECOND, min(ts), max(ts)) AS BIGINT)")
             .alias("span_seconds"))).collect()}
    for conv_id, b in batch.items():
        s = latest[conv_id]
        got = (s.n_turns, s.n_user, s.n_assistant, s.n_tool_turns,
               s.n_distinct_tools, s.total_chars, s.max_turn_chars,
               s.span_seconds)
        want = (b.n_turns, b.n_user, b.n_assistant, b.n_tool_turns,
                b.n_distinct_tools, b.total_chars, b.max_turn_chars,
                b.span_seconds)
        assert got == want, f"{conv_id}: {got} != {want}"
    # c1's span (28s) straddles the micro-batch boundary — the state, not
    # the batch window, carried min_ts across
    assert latest["c1"].span_seconds == 28


def test_streaming_conv_quality_matches_batch_gate(spark, tmp_path):
    """streaming_conv_quality must converge to the batch conv-grain
    quality verdict (conv_curation_flags' drop_reason == 'quality') at
    ANY micro-batch split, and a conversation crossing the char floor in
    a LATER batch must flip fail -> pass (monotone gate)."""
    import datetime as dt

    from ocr_spark.pipeline.curate_convs import conv_curation_flags
    from ocr_spark.streaming.stateful import streaming_conv_quality

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    schema_str = ("conv_id string, turn_idx int, role string, text string, "
                  "ts timestamp")

    def ts(s):
        return dt.datetime(2025, 1, 1, 0, 0, s)

    pad60 = "x" * 55  # 55 chars/turn: two turns cross the 100-char floor
    # c1: user turn + 55 chars in batch 1 (fails char floor), crosses it
    # in batch 2. c2: assistant-only forever (fails user floor). c3:
    # passes outright in batch 1.
    batch1 = [("c1", 0, "user", pad60, ts(0)),
              ("c2", 0, "assistant", pad60 + pad60, ts(1)),
              ("c3", 0, "user", pad60 + "different words here padpadpad"
                                + pad60, ts(2))]
    batch2 = [("c1", 1, "assistant", pad60 + " more reply body", ts(9))]

    def write(rows):
        spark.createDataFrame(rows, schema_str).coalesce(1) \
            .write.mode("append").parquet(inp)

    write(batch1)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res1 = _run_available_now(spark, streaming_conv_quality(stream),
                              out, ckpt)
    first = {r.conv_id: r for r in res1.collect()}
    assert first["c1"].quality_ok == 0, "below char floor in batch 1"
    assert first["c2"].quality_ok == 0, "no user turn"
    assert first["c3"].quality_ok == 1

    write(batch2)
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_conv_quality(stream),
                             out, ckpt)
    latest = {}
    for r in res.collect():
        cur = latest.get(r.conv_id)
        if cur is None or r.n_turns > cur.n_turns:
            latest[r.conv_id] = r
    assert latest["c1"].quality_ok == 1, "state carried chars across batches"
    assert latest["c1"].total_chars == first["c1"].total_chars + len(
        pad60 + " more reply body")

    # batch reference: the conv-grain funnel's quality gate over ALL turns
    flags = {r.conv_id: r.drop_reason
             for r in conv_curation_flags(
                 spark.read.parquet(inp)).collect()}
    for cid, r in latest.items():
        assert r.quality_ok == int(flags[cid] != "quality"), \
            f"{cid}: streaming {r.quality_ok} vs batch {flags[cid]}"


def test_streaming_tool_chains_matches_hand_batch(spark, tmp_path):
    """streaming_conv_tool_chains must keep a tool run alive ACROSS a
    micro-batch split (turns 1-2 in batch 1, turn 3 in batch 2 = ONE
    run of 3), skip duplicate turn_idx rows for run structure while
    counting them at row grain for tool usage, and tie-break the top
    tool by name — the exact batch-op semantics."""
    from ocr_spark.streaming.stateful import streaming_conv_tool_chains

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    schema_str = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")

    import datetime as dt

    def ts(s):
        return dt.datetime(2025, 1, 1, 0, 0, s)

    batch1 = [("c1", 0, "user", "q", None, ts(0)),
              ("c1", 1, "tool", "r1", "search", ts(1)),
              ("c1", 2, "tool", "r2", "code", ts(2)),
              ("c2", 0, "assistant", "a", None, ts(0))]
    batch2 = [("c1", 3, "tool", "r3", "search", ts(3)),
              ("c1", 4, "user", "q2", None, ts(4)),
              ("c1", 5, "tool", "r4", "browser", ts(5)),
              ("c1", 5, "tool", "r4-dup", "code", ts(5))]

    def write(rows):
        spark.createDataFrame(rows, schema_str).coalesce(1) \
            .write.mode("append").parquet(inp)

    write(batch1)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    _run_available_now(spark, streaming_conv_tool_chains(stream), out, ckpt)
    write(batch2)
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_conv_tool_chains(stream),
                             out, ckpt)

    latest = {}
    for r in res.collect():
        cur = latest.get(r.conv_id)
        if cur is None or r.n_tool_turns >= cur.n_tool_turns:
            latest[r.conv_id] = r

    c1 = latest["c1"]
    assert c1.n_tool_turns == 4          # turns 1,2,3,5 (tie skipped)
    assert c1.n_tool_runs == 2           # [1,2,3] and [5]
    assert c1.max_tool_run == 3          # run survived the batch split
    assert c1.top_tool == "code"         # search 2, code 2 -> name tie-break
    assert c1.top_tool_calls == 2
    c2 = latest["c2"]
    assert c2.n_tool_turns == 0 and c2.n_tool_runs == 0
    assert c2.top_tool is None and c2.top_tool_calls == 0


def test_streaming_refusal_matches_batch_scan(spark, tmp_path):
    """streaming_conv_refusal must converge to conv_refusal_scan's exact
    rows at ANY micro-batch split: the synthesized transcript turns are
    replayed in two batches split mid-conversation, and the LATEST
    emitted row per conversation must equal the batch operator's."""
    import os

    from ocr_spark.operators.extraction import conv_refusal_scan
    from ocr_spark.sources.synthetic import agent_transcripts
    from ocr_spark.streaming.stateful import streaming_conv_refusal

    d = str(tmp_path / "docs")
    docs = [(i, f"reply body {i}" + "x" * (i % 7), "en", "s", 10)
            for i in range(1, 120)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    want = {r.conv_id: tuple(r)
            for r in conv_refusal_scan(spark, d).collect()}
    assert any(v[2] > 0 for v in want.values()), \
        "fixture must reach the refusal class"

    turns = agent_transcripts(spark, d).collect()
    inp = str(tmp_path / "in")
    schema_str = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")
    half = len(turns) // 2
    for batch in (turns[:half], turns[half:]):
        spark.createDataFrame(batch, schema_str).coalesce(1) \
            .write.mode("append").parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_conv_refusal(stream),
                             str(tmp_path / "out"), str(tmp_path / "ck"))
    latest = {}
    for r in res.collect():
        cur = latest.get(r.conv_id)
        if cur is None or r.n_assistant > cur.n_assistant:
            latest[r.conv_id] = r
    got = {c: tuple(r) for c, r in latest.items()}
    assert got == want


def test_streaming_degenerate_matches_batch_scan(spark, tmp_path):
    """streaming_conv_degenerate must converge to conv_degenerate_scan's
    exact rows at ANY micro-batch split: turns replayed in two batches
    split mid-conversation; the LATEST emitted row per conversation
    (highest n_checked) must equal the batch operator's."""
    import os

    from ocr_spark.operators.extraction import conv_degenerate_scan
    from ocr_spark.sources.synthetic import agent_transcripts
    from ocr_spark.streaming.stateful import streaming_conv_degenerate

    d = str(tmp_path / "docs")
    clean = " ".join(f"tok{j}" for j in range(25))
    docs = []
    for i in range(1, 120):
        if i == 13:
            # trailing whitespace: Spark's split KEEPS the trailing empty
            # field, so 19 tokens + ' ' crosses the 20-field floor — the
            # stream must tokenize identically (a trim would skip it)
            text = " ".join(f"w{j}" for j in range(19)) + " "
        elif i % 5 == 0:
            text = "short reply"              # below the token floor
        elif i % 3 == 0:
            text = "loop " * 29 + "loop"      # 30 tokens, one bigram
        else:
            text = f"prefix{i} " + clean      # 26 distinct tokens
        docs.append((i, text, "en", "s", len(text)))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    want = {r.conv_id: tuple(r)
            for r in conv_degenerate_scan(spark, d).collect()}
    assert any(v[2] > 0 for v in want.values()), \
        "fixture must reach the degenerate class"
    assert any(v[2] == 0 for v in want.values()), \
        "fixture must include clean checked conversations"

    turns = agent_transcripts(spark, d).collect()
    inp = str(tmp_path / "in")
    schema_str = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")
    half = len(turns) // 2
    for batch in (turns[:half], turns[half:]):
        spark.createDataFrame(batch, schema_str).coalesce(1) \
            .write.mode("append").parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_conv_degenerate(stream),
                             str(tmp_path / "out"), str(tmp_path / "ck"))
    latest = {}
    for r in res.collect():
        cur = latest.get(r.conv_id)
        if cur is None or r.n_checked > cur.n_checked:
            latest[r.conv_id] = r
    got = {c: tuple(r) for c, r in latest.items()}
    assert got == want


def test_streaming_lang_mix_matches_batch_scan(spark, tmp_path):
    """streaming_conv_lang_mix must converge to conv_lang_mix's exact
    rows at ANY micro-batch split (dominant-language tie order included)."""
    import os

    from ocr_spark.operators.extraction import conv_lang_mix
    from ocr_spark.sources.synthetic import agent_transcripts
    from ocr_spark.streaming.stateful import streaming_conv_lang_mix

    d = str(tmp_path / "docs")
    texts = ["the and of market report", "der und die bericht",
             "le et les rapport", "el y los informe",
             "no markers anywhere here", "", "the der le el y of und"]
    docs = [(i, texts[i % len(texts)], "en", "s", 10)
            for i in range(1, 140)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    want = {r.conv_id: tuple(r) for r in conv_lang_mix(spark, d).collect()}
    assert any(v[2] >= 2 for v in want.values()), \
        "fixture must include multilingual conversations"

    turns = agent_transcripts(spark, d).collect()
    inp = str(tmp_path / "in")
    schema_str = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")
    half = len(turns) // 2
    for batch in (turns[:half], turns[half:]):
        spark.createDataFrame(batch, schema_str).coalesce(1) \
            .write.mode("append").parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    res = _run_available_now(spark, streaming_conv_lang_mix(stream),
                             str(tmp_path / "out"), str(tmp_path / "ck"))
    latest = {}
    for r in res.collect():
        cur = latest.get(r.conv_id)
        if cur is None or r.n_turns > cur.n_turns:
            latest[r.conv_id] = r
    got = {c: tuple(r) for c, r in latest.items()}
    assert got == want
