"""One crash schedule for every persisted artifact — the atomicity
contract of pipeline/artifact.py, checked against each of the seven
artifacts wherever a case applies:

- rebuild: a rebuild that dies after its first step (the manifest
  invalidation) reads as "no artifact", never as the old manifest over
  half-rewritten data;
- swap: a crash inside an append's or compaction's two-rename swap
  self-heals on the next read or compaction;
- torn manifest: a manifest write that raises part-way leaves the
  previous manifest readable (an append) or none at all (a rebuild,
  which invalidated it first) — never a truncated file.

Plus the plain-manifest writers' rerun contract (shards), and the
extraction job's per-run manifest part: a crash before its rename, parts
of both writers mixed in one `_checkpoints/`, and the pyarrow
manifest reads that refuse an unreadable part or a reused run id."""

import json
import os

import pytest
from pyspark.sql import functions as F


class _Crash(Exception):
    pass


def _docs(spark):
    rows = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(10 + i % 5)),
             "en", f"src{i % 2}", 60) for i in range(1, 13)]
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")


def _batch(spark):
    return _docs(spark).withColumn("doc_id", F.col("doc_id") + 100)


def _embeddings(spark):
    rows = [(i, [float((i * 31 + j * 17) % 13 - 6) for j in range(64)])
            for i in range(1, 25)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _labeled(spark):
    good = "a clear well formed sentence about the weather and the sea"
    bad = "buy buy buy click click click now now now"
    rows = [(f"{good} {i}", 1) for i in range(6)] + \
           [(f"{bad} {i}", 0) for i in range(6)]
    return spark.createDataFrame(rows, "text string, label int")


def _poisoned(df, col):
    """The same frame, but any job that evaluates `col` fails — the
    crash a rebuild meets after its first step."""
    return df.withColumn(
        col, F.when(F.raise_error(F.lit("simulated crash")).isNull(),
                    F.col(col)))


def _spec(name):
    """(module, build(spark, d, poison), append(spark, d) or None)."""
    if name == "ann_index":
        from ocr_spark.pipeline import ann_index as m
        return m, lambda s, d, p=False: m.build_lsh_index(
            s, _poisoned(_embeddings(s), "embedding") if p
            else _embeddings(s), d), None
    if name == "classifier":
        from ocr_spark.pipeline import classifier as m
        return m, lambda s, d, p=False: m.train_classifier(
            s, _poisoned(_labeled(s), "text") if p else _labeled(s), d), None
    if name == "tokenizer":
        from ocr_spark.pipeline import tokenizer as m
        return m, lambda s, d, p=False: m.train_tokenizer(
            s, _poisoned(_docs(s), "text") if p else _docs(s), d,
            n_merges=4), None
    if name == "bloom_filter":
        from ocr_spark.pipeline import bloom_filter as m
        return (m, lambda s, d, p=False: m.build_bloom_filter(
            s, _poisoned(_docs(s), "text") if p else _docs(s), d),
            lambda s, d: m.append_batch(s, d, _batch(s)))
    if name == "dedup_index":
        from ocr_spark.pipeline import dedup_index as m
        return (m, lambda s, d, p=False: m.build_dedup_index(
            s, _poisoned(_docs(s), "text") if p else _docs(s), d),
            lambda s, d: m.append_batch(s, d, _batch(s)))
    if name == "corpus_stats":
        from ocr_spark.pipeline import corpus_stats as m
        return (m, lambda s, d, p=False: m.build_stats(
            s, _poisoned(_docs(s), "text") if p else _docs(s), d),
            lambda s, d: m.append_stats(s, d, _batch(s), batch_tag="b1"))
    raise KeyError(name)


def _committed(module, d):
    """The artifact's manifest, or None for 'no artifact' (corpus_stats
    says None, the others raise FileNotFoundError)."""
    try:
        return module.read_manifest(d)
    except FileNotFoundError:
        return None


MANIFEST_ARTIFACTS = ["ann_index", "classifier", "tokenizer",
                      "bloom_filter", "dedup_index", "corpus_stats"]
SWAP_ARTIFACTS = ["bloom_filter", "dedup_index", "corpus_stats"]


@pytest.mark.parametrize("name", MANIFEST_ARTIFACTS)
def test_rebuild_crash_after_first_step_reads_as_no_artifact(spark, tmp_path,
                                                             name):
    module, build, _append = _spec(name)
    d = str(tmp_path / name)
    build(spark, d)
    assert _committed(module, d) is not None
    with pytest.raises(Exception, match="simulated crash"):
        build(spark, d, True)
    assert _committed(module, d) is None


def _crash_promoting_tmp(monkeypatch):
    """Make the swap's second rename (tmp -> data) crash once."""
    real = os.replace

    def replace(src, dst):
        if str(src).endswith("-tmp"):
            monkeypatch.setattr(os, "replace", real)
            raise _Crash("simulated crash inside the swap window")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize("name", SWAP_ARTIFACTS)
def test_swap_crash_self_heals_on_next_read(spark, tmp_path, monkeypatch,
                                            name):
    module, build, append = _spec(name)
    d = str(tmp_path / name)
    build(spark, d)
    before = module.read_manifest(d)
    data = os.path.join(d, module._DATA)
    n_before = spark.read.parquet(data).count()
    _crash_promoting_tmp(monkeypatch)
    with pytest.raises(_Crash):
        append(spark, d)
    assert not os.path.exists(data)             # inside the window
    assert module.read_manifest(d) == before    # the read heals it
    assert not os.path.exists(data + ".append-old")
    assert spark.read.parquet(data).count() == n_before
    append(spark, d)                            # and the retry commits
    assert module.read_manifest(d) != before


def test_compaction_swap_crash_self_heals_on_next_compaction(
        spark, tmp_path, monkeypatch):
    from ocr_spark.pipeline.maintenance import compact_parquet
    path = str(tmp_path / "t")
    spark.range(300).repartition(6).write.parquet(path)
    _crash_promoting_tmp(monkeypatch)
    with pytest.raises(_Crash):
        compact_parquet(spark, path, target_mb=128)
    assert not os.path.exists(path)
    stats = compact_parquet(spark, path, target_mb=128)
    assert stats["rows"] == 300 and stats["files_after"] == 1
    assert not os.path.exists(path + ".compact-old")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == \
        list(range(300))


def _tear_manifest_writes(monkeypatch, manifest_name):
    """json.dump into the named manifest writes a prefix, then raises —
    a full disk or a killed process half-way through the write."""
    real = json.dump

    def dump(obj, f, **kw):
        if manifest_name not in os.path.basename(getattr(f, "name", "")):
            return real(obj, f, **kw)
        f.write(json.dumps(obj, **kw)[:7])
        f.flush()
        raise _Crash("simulated crash inside the manifest write")

    monkeypatch.setattr(json, "dump", dump)


@pytest.mark.parametrize("name", MANIFEST_ARTIFACTS)
def test_torn_manifest_write_leaves_a_whole_manifest(spark, tmp_path,
                                                     monkeypatch, name):
    module, build, append = _spec(name)
    d = str(tmp_path / name)
    build(spark, d)
    before = module.read_manifest(d)
    _tear_manifest_writes(monkeypatch, module._MANIFEST)
    if append is not None:
        with pytest.raises(_Crash):
            append(spark, d)
        monkeypatch.undo()
        assert module.read_manifest(d) == before
    else:
        with pytest.raises(_Crash):
            build(spark, d)
        monkeypatch.undo()
        # the rebuild invalidated the old manifest before its data write
        assert _committed(module, d) is None
    build(spark, d)                             # and a rerun recommits
    assert _committed(module, d) is not None


def test_shards_rerun_crashing_in_data_write_leaves_no_manifest(spark,
                                                                tmp_path):
    """A rerun over a committed shard export that dies while writing
    data must not leave the old manifest describing the new, partial
    shard files."""
    from ocr_spark.pipeline.shards import write_training_shards
    out = str(tmp_path / "export")
    docs = _docs(spark).select("doc_id", "lang", "text")
    write_training_shards(spark, docs, out, n_shards=4)
    assert os.path.exists(os.path.join(out, "manifest.json"))
    with pytest.raises(Exception, match="simulated crash"):
        write_training_shards(spark, _poisoned(docs, "text"), out,
                              n_shards=4)
    assert not os.path.exists(os.path.join(out, "manifest.json"))


def _part_files(d):
    """The readable (not `_`/`.`-prefixed) parquet part files under d."""
    return [f for f in os.listdir(d) if not f.startswith(("_", "."))
            and f.endswith(".parquet")] if os.path.isdir(d) else []


def test_extract_manifest_part_crash_before_rename_then_resume(
        spark, tmp_path, monkeypatch):
    """run_extract_job commits its per-bucket manifest as one parquet part
    (artifact.commit_part). A crash before the part's rename leaves no
    readable manifest row, only orphan data; a resume then replaces those
    buckets' data instead of appending to it."""
    from ocr_spark.pipeline.extract import run_extract_job
    from ocr_spark.sources.synthetic import synthesize_transcripts
    out = str(tmp_path / "extract")
    t = synthesize_transcripts(spark, 12, 4).where(
        "conv_id != 'conv-000000'")   # no hot conversation: 44 turns
    n = t.count()
    real = os.replace

    def replace(src, dst):
        if str(src).endswith(".parquet.tmp"):
            raise _Crash("simulated crash before the manifest part rename")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(_Crash):
        run_extract_job(spark, t, out, run_id="r1", salt_partitions=2,
                        n_buckets=4)
    monkeypatch.undo()
    mdir = os.path.join(out, "_checkpoints")
    assert _part_files(mdir) == []
    data = os.path.join(out, "extracted_turns")
    assert spark.read.parquet(data).count() == n   # orphan data

    m = run_extract_job(spark, t, out, run_id="r2", resume=True,
                        salt_partitions=2, n_buckets=4)
    assert m["buckets_skipped"] == 0
    assert m["rows_in"] == m["rows_out"] == n
    assert spark.read.parquet(data).count() == n, \
        "orphan buckets must be replaced, not appended"
    assert len(_part_files(mdir)) == 1
    manifest = spark.read.parquet(mdir).collect()
    assert {r.run_id for r in manifest} == {"r2"}
    assert sum(r.rows_out for r in manifest) == n


def test_extract_manifest_mixes_spark_written_and_committed_parts(
        spark, tmp_path):
    """A `_checkpoints/` holding parts an older Spark append wrote and
    parts artifact.commit_part wrote reads back as MANIFEST_SCHEMA, and
    the run catalog aggregates both."""
    from datetime import datetime

    from ocr_spark.pipeline.extract import (MANIFEST_SCHEMA, list_runs,
                                            run_extract_job)
    from ocr_spark.sources.synthetic import synthesize_transcripts
    out = str(tmp_path / "mixed")
    mdir = os.path.join(out, "_checkpoints")
    spark.createDataFrame(
        [("20260101_old", "", b, 5, 5, 1, "0.0.9", 10, datetime(2026, 1, 1))
         for b in range(2)], MANIFEST_SCHEMA).write.mode("append").parquet(mdir)
    t = synthesize_transcripts(spark, 12, 4).where(
        "conv_id != 'conv-000000'")
    m = run_extract_job(spark, t, out, run_id="20260102_new",
                        salt_partitions=2, n_buckets=4)
    assert len(_part_files(mdir)) > 1
    assert spark.read.parquet(mdir).schema == MANIFEST_SCHEMA
    runs = list_runs(spark, out).collect()
    assert [r.run_id for r in runs] == ["20260102_new", "20260101_old"]
    assert (runs[0].n_buckets, runs[0].rows_in, runs[0].rows_out) == \
        (m["buckets_written"], m["rows_in"], m["rows_out"])
    assert (runs[1].n_buckets, runs[1].rows_in, runs[1].rows_rejected) == \
        (2, 10, 2)


def _jobs_in(spark, group, fn):
    """Run fn under a fresh Spark job group; the group's job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_extract_resume_raises_on_unreadable_manifest_part(spark, tmp_path):
    """resume=True reads the committed buckets with pyarrow: a part it
    cannot read raises an error naming the file instead of silently
    redoing every bucket."""
    from ocr_spark.pipeline.extract import run_extract_job
    from ocr_spark.sources.synthetic import synthesize_transcripts
    out = str(tmp_path / "extract")
    mdir = os.path.join(out, "_checkpoints")
    os.makedirs(mdir)
    with open(os.path.join(mdir, "part-x.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    t = synthesize_transcripts(spark, 12, 4)

    def resume():
        with pytest.raises(ValueError, match="part-x.parquet"):
            run_extract_job(spark, t, out, run_id="r2", resume=True,
                            salt_partitions=2, n_buckets=4)

    assert _jobs_in(spark, "resume-unreadable", resume) == []


def test_extract_rejects_a_reused_run_id(spark, tmp_path):
    """A non-resume run whose run_id already has manifest rows raises
    before any Spark job; a resume keeps the id and still runs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocr_spark.pipeline import artifact
    from ocr_spark.pipeline.extract import MANIFEST_SCHEMA, run_extract_job
    from ocr_spark.sources.synthetic import synthesize_transcripts
    out = str(tmp_path / "extract")
    mdir = os.path.join(out, "_checkpoints")
    artifact.commit_part(mdir, pa.Table.from_pylist(
        [{"run_id": "r1", "source_snapshot_id": "", "bucket": 0,
          "rows_in": 1, "rows_out": 1, "rows_rejected": 0,
          "extractor_version": "0.0.9", "wall_ms": 1,
          "committed_at": None}],
        schema=to_arrow_schema(MANIFEST_SCHEMA)))
    t = synthesize_transcripts(spark, 12, 4).where(
        "conv_id != 'conv-000000'")

    def rerun():
        with pytest.raises(ValueError, match="r1"):
            run_extract_job(spark, t, out, run_id="r1", salt_partitions=2,
                            n_buckets=4)

    assert _jobs_in(spark, "reused-run-id", rerun) == []
    m = run_extract_job(spark, t, out, run_id="r1", resume=True,
                        salt_partitions=2, n_buckets=4)
    assert m["run_id"] == "r1" and m["buckets_skipped"] == 1

