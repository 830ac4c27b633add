"""Parquet compaction: file-count reduction, row preservation,
partition-layout preservation, and keep-original-on-failure."""

import os

import pytest
from pyspark.sql import functions as F


def _small_files(spark, path, n_files=40, rows=4000):
    (spark.range(rows)
     .withColumn("lang", F.expr("CASE WHEN id % 3 = 0 THEN 'en' "
                                "WHEN id % 3 = 1 THEN 'de' ELSE 'zh' END"))
     .withColumn("payload", F.expr("repeat(uuid(), 8)"))
     .repartition(n_files)
     .write.parquet(path))


def test_compact_reduces_files_and_keeps_rows(spark, tmp_path):
    from ocr_spark.pipeline.maintenance import _dir_stats, compact_parquet
    path = str(tmp_path / "t")
    _small_files(spark, path)
    before = spark.read.parquet(path)
    rows_before = sorted(r.id for r in before.select("id").collect())
    stats = compact_parquet(spark, path, target_mb=128)
    assert stats["files_before"] >= 40
    assert stats["files_after"] == stats["target_files"] < 40
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.select("id").collect()) == rows_before
    # tmp/old dirs cleaned up
    assert not os.path.exists(path + ".compact-tmp")
    assert not os.path.exists(path + ".compact-old")
    assert _dir_stats(path)[0] == stats["files_after"]


def test_compact_preserves_partition_layout(spark, tmp_path):
    from ocr_spark.pipeline.maintenance import compact_parquet
    path = str(tmp_path / "p")
    (spark.range(3000)
     .withColumn("lang", F.expr("CASE WHEN id % 3 = 0 THEN 'en' "
                                "WHEN id % 3 = 1 THEN 'de' ELSE 'zh' END"))
     .repartition(20)
     .write.partitionBy("lang").parquet(path))
    stats = compact_parquet(spark, path, target_mb=128,
                            partition_by=["lang"])
    for lang in ("en", "de", "zh"):
        assert os.path.isdir(os.path.join(path, f"lang={lang}"))
    after = spark.read.parquet(path)
    assert after.count() == stats["rows"] == 3000
    # partition pruning still works on the compacted layout
    assert after.where("lang = 'en'").count() == 1000


def test_compaction_swap_crash_recovers(spark, tmp_path):
    """Crash inside the compaction's two-rename swap (data renamed away,
    tmp not yet promoted): the next compact_parquet call rolls the
    original back and proceeds; rows are preserved end to end."""
    import shutil

    from ocr_spark.pipeline.maintenance import (compact_parquet,
                                                recover_compaction)
    path = str(tmp_path / "t")
    _small_files(spark, path, n_files=10, rows=500)
    rows = sorted(r.id for r in spark.read.parquet(path).collect())
    # simulate the mid-swap crash state
    shutil.move(path, path + ".compact-old")
    assert recover_compaction(path) is True
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == rows
    # and the retried compaction self-heals from the same state
    shutil.move(path, path + ".compact-old")
    stats = compact_parquet(spark, path, target_mb=128)
    assert stats["rows"] == 500
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == rows
