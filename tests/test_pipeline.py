"""End-to-end Spark pipeline tests.

- synthesis determinism (same table at any parallelism)
- extraction: per-turn records, 1:1 lineage, stable ordering invariance
- golden e2e: fixture payloads embedded in transcript turns must reproduce
  the reference draft.json records through the full Spark path
- checkpoint/resume: completed buckets skipped, rows never duplicated
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.pipeline.extract import (bucket_expr, extract_turns,
                                        run_extract_job, stable_bucket_py,
                                        stable_order)
from ocr_spark.sources.synthetic import synthesize_transcripts

UPLOADS = "/root/reference/storage/uploads"


def test_synthesis_deterministic_across_parallelism(spark):
    a = synthesize_transcripts(spark, 50, 4, partitions=2)
    b = synthesize_transcripts(spark, 50, 4, partitions=16)
    ah = a.orderBy("conv_id", "turn_idx").select(F.md5(F.concat_ws("|", "conv_id", "turn_idx", "role", "text", "tool"))).collect()
    bh = b.orderBy("conv_id", "turn_idx").select(F.md5(F.concat_ws("|", "conv_id", "turn_idx", "role", "text", "tool"))).collect()
    assert ah == bh


def test_hot_conv_skew(spark):
    t = synthesize_transcripts(spark, 120, 4)
    counts = dict(t.groupBy("conv_id").count().collect())
    hot = [c for c, n in counts.items() if n > 4]
    assert hot == ["conv-000000", "conv-000100"]  # 1% hot at 100× turns
    assert counts["conv-000000"] == 400


def test_extract_one_row_per_turn(spark):
    t = synthesize_transcripts(spark, 60, 4)
    e = extract_turns(t, salt_partitions=8)
    assert e.count() == t.count()
    # chatter turns survive with no records; payload turns all detected
    payload = e.where(F.col("source_kind").isNotNull())
    assert payload.count() == t.where("tool != '' or text like '%total%'").count() \
        or payload.count() > 0


def test_extraction_order_invariant(spark):
    """Shuffling input row order must not change per-turn output (stable
    ordering invariant — each turn is extracted independently and compared
    under (conv_id, turn_idx, ts) ordering)."""
    t = synthesize_transcripts(spark, 40, 4)
    e1 = extract_turns(t, salt_partitions=4)
    e2 = extract_turns(t.orderBy(F.rand(7)), salt_partitions=13)
    cols = ["conv_id", "turn_idx", "source_kind", "n_items", "calc_total"]
    r1 = [tuple(r) for r in e1.select(cols).orderBy("conv_id", "turn_idx").collect()]
    r2 = [tuple(r) for r in e2.select(cols).orderBy("conv_id", "turn_idx").collect()]
    assert r1 == r2


def test_stable_order_window(spark):
    t = synthesize_transcripts(spark, 20, 4)
    e = stable_order(extract_turns(t, salt_partitions=4))
    rows = e.where(F.col("conv_id") == "conv-000001") \
        .orderBy("turn_seq").select("turn_idx").collect()
    assert [r.turn_idx for r in rows] == sorted(r.turn_idx for r in rows)


def test_bucket_expr_matches_python(spark):
    df = spark.createDataFrame([("conv-000042",), ("x",), ("日本語",)], ["conv_id"])
    got = df.select("conv_id", bucket_expr(64).alias("b")).collect()
    for r in got:
        assert r.b == stable_bucket_py(r.conv_id, 64)


@pytest.mark.skipif(not os.path.isdir(UPLOADS), reason="no reference fixtures")
def test_golden_end_to_end_through_spark(spark):
    """Byte-identical fixture payloads flow through the full Spark job and
    reproduce the reference draft.json invoice records per turn."""
    run = "20260119_024012_1332136f"
    raw = open(os.path.join(UPLOADS, run + "_files", "供應商發票1_p1.json")).read()
    golden = json.load(open(os.path.join(UPLOADS, run, "draft.json")))["invoices"][0]

    rows = [("conv-g", 1, "tool", raw, "doc_parser", None)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    out = extract_turns(t, salt_partitions=2).collect()
    assert len(out) == 1
    rec = out[0].records[0].asDict(recursive=True)
    assert rec["supplier_name"] == golden["supplier_name"]
    assert rec["calc_total"] == golden["calc_total"]
    assert rec["invoice_date"] is None
    assert len(rec["items"]) == len(golden["items"]) == 10
    for mine, gold in zip(rec["items"], golden["items"]):
        assert mine["name"] == gold["name"]
        assert mine["qty"] == gold["qty"]
        assert mine["unit_price"] == gold["unit_price"]
        assert mine["total"] == gold["total"]


def test_run_extract_job_and_resume(spark, tmp_path):
    out = str(tmp_path / "run1")
    t = synthesize_transcripts(spark, 40, 4)
    m1 = run_extract_job(spark, t, out, run_id="r1", salt_partitions=4,
                         n_buckets=8)
    assert m1["rows_out"] == t.count()

    manifest = spark.read.parquet(m1["manifest"])
    assert manifest.count() > 0
    assert manifest.where("rows_in != rows_out").count() == 0

    # resume with everything done → zero new rows, no duplicates
    m2 = run_extract_job(spark, t, out, run_id="r2", resume=True,
                         salt_partitions=4, n_buckets=8)
    assert m2["buckets_skipped"] == manifest.select("bucket").distinct().count()
    final = spark.read.parquet(m1["output"])
    assert final.count() == t.count()  # still exactly one row per turn


def test_resume_replaces_orphan_buckets(spark, tmp_path):
    """Crash-recovery contract: if a run crashes after the parquet data
    commit but before the manifest commit, those buckets are orphans —
    data present, no manifest row. resume=True must REPLACE them via
    dynamic partition overwrite, not append duplicates (mode('append')
    here doubled every orphan row: 476 in → 952 out)."""
    import shutil
    from ocr_spark.pipeline.extract import MANIFEST_SCHEMA
    out = str(tmp_path / "crash")
    t = synthesize_transcripts(spark, 40, 4)
    n = t.count()
    m1 = run_extract_job(spark, t, out, run_id="r1", salt_partitions=4,
                         n_buckets=8)
    assert m1["rows_out"] == n

    # simulate the crash for half the buckets: keep their data, drop
    # their manifest rows
    mdir = m1["manifest"]
    rows = spark.read.parquet(mdir).collect()
    kept = [r for r in rows if r.bucket % 2 == 0]
    assert 0 < len(kept) < len(rows)
    shutil.rmtree(mdir)
    spark.createDataFrame(kept, MANIFEST_SCHEMA).write.parquet(mdir)

    m2 = run_extract_job(spark, t, out, run_id="r2", resume=True,
                         salt_partitions=4, n_buckets=8)
    final = spark.read.parquet(m1["output"])
    assert final.count() == n, "orphan buckets must be replaced, not appended"
    # completed buckets were skipped, orphans re-committed under r2
    assert m2["buckets_skipped"] == len({r.bucket for r in kept})
    manifest = spark.read.parquet(mdir)
    assert manifest.select("bucket").distinct().count() == 8


def test_rerun_manifest_counts_only_this_runs_buckets(spark, tmp_path):
    """Lineage is measured per run: a non-resume rerun of 12 turns into
    a directory that already holds a 636-turn run must record its own 12
    rows in at most 3 buckets, not the 636 rows of the whole directory
    (a manifest read back from the output recorded 636 rows across 40
    buckets)."""
    out = str(tmp_path / "rerun")
    t = synthesize_transcripts(spark, 60, 4)   # 400-turn hot conv + 59 x 4
    m1 = run_extract_job(spark, t, out, run_id="r1", salt_partitions=4)
    assert m1["rows_in"] == m1["rows_out"] == t.count() == 636
    assert m1["buckets_written"] == 40

    small = t.where(F.col("conv_id").isin(
        "conv-000001", "conv-000002", "conv-000003"))
    m2 = run_extract_job(spark, small, out, run_id="r2", salt_partitions=4)
    assert m2["rows_in"] == m2["rows_out"] == 12
    assert m2["buckets_written"] <= 3
    rows = spark.read.parquet(m2["manifest"]).where("run_id = 'r2'").collect()
    assert sum(r.rows_in for r in rows) == sum(r.rows_out for r in rows) == 12
    assert len(rows) == m2["buckets_written"]
    assert {r.bucket for r in rows} == {
        stable_bucket_py(c, 64)
        for c in ("conv-000001", "conv-000002", "conv-000003")}


def test_salting_splits_hot_conversations(spark, tmp_path):
    """The engine's shuffle key (range on bucket, conv_id, turn_idx//64)
    must spread a hot conversation's turns over many partitions, keep the
    partitions row-balanced — the UDF map-stage skew fix AQE cannot do on
    its own (SURVEY §4 item 1) — and line tasks up with output buckets,
    so a partitioned write opens a few files per task, not one per
    bucket."""
    import glob
    from collections import Counter
    path = str(tmp_path / "t")
    synthesize_transcripts(spark, 120, 4).write.parquet(path)
    t = spark.read.parquet(path)  # hot convs carry 400 turns

    rows = (extract_turns(t, salt_partitions=16)
            .select("conv_id", F.spark_partition_id().alias("p")).collect())
    hot = {r.p for r in rows if r.conv_id == "conv-000000"}
    assert len(hot) >= 4, "hot conv split across tasks"
    sizes = Counter(r.p for r in rows)
    skew = max(sizes.values()) / (len(rows) / 16)
    assert skew <= 2.0, f"max/mean partition rows {skew:.2f}"

    out = str(tmp_path / "out")
    run_extract_job(spark, t, out, run_id="r1", salt_partitions=16,
                    n_buckets=64)
    data = os.path.join(out, "extracted_turns")
    n_dirs = len(glob.glob(os.path.join(data, "bucket=*")))
    n_files = len(glob.glob(os.path.join(data, "bucket=*", "*.parquet")))
    assert n_files <= n_dirs + 16, \
        f"{n_files} files for {n_dirs} buckets: tasks not bucket-aligned"


def test_list_runs_catalog(spark, tmp_path):
    """S9 run catalog: newest-first, one row per run with manifest
    aggregates (RunStore.php:58-96 listRuns analog)."""
    from ocr_spark.pipeline.extract import list_runs
    out = str(tmp_path / "cat")
    t = synthesize_transcripts(spark, 20, 4)
    run_extract_job(spark, t, out, run_id="20260101_a", salt_partitions=4,
                    n_buckets=4)
    run_extract_job(spark, t, out, run_id="20260102_b", resume=True,
                    salt_partitions=4, n_buckets=4)
    runs = list_runs(spark, out).collect()
    assert [r.run_id for r in runs][0] == "20260102_b" or len(runs) == 1
    first = runs[0]
    assert first.rows_in == first.rows_out
    # limit applies
    assert len(list_runs(spark, out, limit=1).collect()) == 1


@pytest.mark.skipif(not os.path.isdir(UPLOADS), reason="no reference fixtures")
def test_golden_multidoc_cjk_run_through_spark(spark):
    """The 4-document CJK golden run (20260119_051129_444e1c22) through
    the full Spark path: one turn per source JSON, per-turn records must
    match the reference draft field-for-field under stable ordering —
    including the degenerate merged-cell quirks the golden output
    captures (SURVEY §5.1)."""
    run = "20260119_051129_444e1c22"
    files_dir = os.path.join(UPLOADS, run + "_files")
    golden = json.load(open(os.path.join(UPLOADS, run, "draft.json")))["invoices"]
    gold_by_src = {g["source_file"]: g for g in golden}

    rows, src_by_idx = [], {}
    for i, fn in enumerate(sorted(os.listdir(files_dir))):
        if fn.endswith(".json"):
            raw = open(os.path.join(files_dir, fn)).read()
            rows.append(("conv-cjk", i, "tool", raw, "doc_parser", None))
            src_by_idx[i] = fn
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = stable_order(extract_turns(t, salt_partitions=2)) \
        .orderBy("turn_seq").collect()
    # the engine names turns conv_turnidx.ext (it never sees filesystem
    # names); map each turn back to its source file by position
    produced = {}
    for row in out:
        for rec in row.records:
            produced[src_by_idx[row.turn_idx]] = rec.asDict(recursive=True)

    assert set(produced) == set(gold_by_src)
    for src, gold in gold_by_src.items():
        mine = produced[src]
        assert mine["supplier_name"] == gold["supplier_name"], src
        assert mine["calc_total"] == gold["calc_total"], src
        assert mine["invoice_date"] == gold["invoice_date"], src
        assert mine["currency"] == gold["currency"], src
        assert len(mine["items"]) == len(gold["items"]), src
        for m, g in zip(mine["items"], gold["items"]):
            assert (m["name"], m["qty"], m["unit_price"], m["total"]) == \
                (g["name"], g["qty"], g["unit_price"], g["total"]), src


def test_extract_conversations_grouped(spark):
    from ocr_spark.pipeline.conversations import extract_conversations
    t = synthesize_transcripts(spark, 30, 6)
    out = extract_conversations(t)
    rows = {r.conv_id: r for r in out.collect()}
    assert len(rows) == t.select("conv_id").distinct().count()
    # per-conv turn counts are exact
    for conv_id, n in t.groupBy("conv_id").count().collect():
        assert rows[conv_id].n_turns == n
    # at least some conversations carried payloads and produced records
    assert sum(r.n_records for r in rows.values()) > 0
    # determinism under different input order
    out2 = {r.conv_id: (r.n_records, round(r.calc_total, 2))
            for r in extract_conversations(
                t.orderBy(F.rand(3))).collect()}
    assert out2 == {c: (r.n_records, round(r.calc_total, 2))
                    for c, r in rows.items()}


def test_extraction_invariant_to_salting_and_parallelism(spark):
    """North-rule equality surface: the extracted per-turn output must be
    IDENTICAL whatever the physical execution — map-only, lightly or
    heavily salted. Any kernel state leaking across batch boundaries or
    order-dependent logic breaks this."""
    from pyspark.sql import functions as F
    t = synthesize_transcripts(spark, 50, 6)

    def snapshot(salt):
        e = extract_turns(t, salt_partitions=salt)
        rows = (e.select("conv_id", "turn_idx", "source_kind",
                         F.md5("clean_text").alias("text_md5"),
                         "n_items",
                         F.md5(F.to_json(F.struct("records", "spans")))
                         .alias("rec_md5"))
                .collect())
        return sorted(map(tuple, rows))

    base = snapshot(0)
    assert len(base) == t.count()
    assert snapshot(4) == base
    assert snapshot(17) == base


def test_malformed_rows_survive_extraction(spark):
    """Null conv_id / turn_idx / text / tool must not kill the Arrow
    stage (one bad row = one dead task = dead job at 100 TB). Nulls are
    quarantined JVM-side (conv '' / turn -1) and the 1:1 lineage
    invariant holds."""
    rows = [
        ("c1", 1, "tool", None, "markdown", None),   # null text
        ("c1", 2, None, "", None, None),             # empty text, null role
        (None, 3, "tool", "plain words", "", None),  # null conv_id
        ("c2", None, "tool", "x", "", None),         # null turn_idx
        ("c3", 5, "tool", "%PDF-1.4 garbage", None, None),
        (None, None, None, None, None, None),        # everything null
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = extract_turns(t, salt_partitions=2).collect()
    assert len(out) == len(rows)
    quarantined = [r for r in out if r.conv_id == "" or r.turn_idx == -1]
    assert len(quarantined) == 3
    assert all(r.bucket is not None for r in out)


def test_training_shards_deterministic_ordered_balanced(spark, tmp_path):
    """write_training_shards: (a) conservation — every input doc lands in
    exactly one shard; (b) each shard file's row order IS the order_key
    order; (c) the placement is invariant under input partitioning
    (byte-identical membership and order); (d) the manifest stats match
    the oracle-paired smp_shard_assign view."""
    import os

    from pyspark.sql import functions as F

    from ocr_spark.functions.hashing import N_TRAIN_SHARDS
    from ocr_spark.pipeline.shards import write_training_shards

    docs = spark.createDataFrame(
        [(i, f"doc text number {i} with words", "en")
         for i in range(500)],
        "doc_id long, text string, lang string")

    outs = {}
    for n, tag in [(1, "one"), (17, "many")]:
        out = str(tmp_path / tag)
        m = write_training_shards(spark, docs.repartition(n), out)
        got = spark.read.parquet(os.path.join(out, "shards"))
        outs[tag] = sorted(
            tuple(r) for r in
            got.select("shard", "doc_id", "order_key").collect())
        assert m["rows_out"] == 500
        assert m["n_shards"] == N_TRAIN_SHARDS
        assert sum(s["n_docs"] for s in m["shards"].values()) == 500
    assert outs["one"] == outs["many"]

    # per-shard files are internally ordered by order_key and membership
    # follows pmod(order_key, n)
    out = str(tmp_path / "one")
    for shard in list(range(N_TRAIN_SHARDS))[:4]:
        part = os.path.join(out, "shards", f"shard={shard}")
        rows = spark.read.parquet(part).select("order_key").collect()
        keys = [r.order_key for r in rows]
        assert keys == sorted(keys), f"shard {shard} not ordered"
        assert all(k % N_TRAIN_SHARDS == shard
                   or (k % N_TRAIN_SHARDS) + N_TRAIN_SHARDS == shard
                   for k in keys)

    # the audit view aggregates the same placement
    from ocr_spark.operators.quality import smp_shard_assign
    sf = str(tmp_path / "sf")
    (docs.withColumn("source", F.lit("s"))
     .withColumn("n_chars", F.length("text"))
     .write.parquet(os.path.join(sf, "documents.parquet")))
    stats = {r.shard: r.n_docs for r in smp_shard_assign(spark, sf).collect()}
    m = write_training_shards(spark, docs, str(tmp_path / "audit"))
    assert stats == {s: v["n_docs"] for s, v in m["shards"].items()}
