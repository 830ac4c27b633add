"""Output-layout maintenance: parquet compaction (the small-files
problem) without a table format.

A long-running extraction/curation pipeline accretes small files: every
micro-batch, resume increment, and skewed partition write adds a few.
At 100 TB the file count — not the byte count — becomes the scan
bottleneck (driver-side file-listing latency, per-file open cost, tiny
row groups defeating column-chunk skipping). Table formats fix this with
a rewrite action (Iceberg `rewriteDataFiles`); this module is the same
action for plain parquet directories, matching the repo's documented
parquet + manifest degradation (SURVEY §7.1 step 7 — swap for the
Iceberg action when the runtime jar exists).

Atomicity on a rename-capable filesystem: compact into `<dir>.compact-
tmp`, then the two-rename swap of pipeline/artifact.py (its atomicity
contract, `kind="compact"`). A crash before the swap leaves the original
untouched; the tmp dir is re-created on retry. (On object stores the
swap becomes a manifest flip — the bucket-manifest pattern
pipeline/extract.py already uses.)
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from . import artifact

DEFAULT_TARGET_MB = 128


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet dir tree (local FS —
    at cluster scale you'd ask the FileIndex / table metadata)."""
    n = b = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, fn))
    return n, b


def compact_parquet(spark: SparkSession, path: str,
                    target_mb: int = DEFAULT_TARGET_MB,
                    partition_by: list[str] | None = None) -> dict:
    """Bin-pack a parquet directory into ~target_mb files, atomically.

    File count = ceil(total_bytes / target). The rewrite is one
    repartition(n) — a single round-robin shuffle that also heals skewed
    file sizes (coalesce() would merge without rebalancing and keeps the
    skew). With partition_by, the layout is preserved and files pack
    within each partition via repartition(n, partition_cols) so rows
    never cross partition directories.

    Returns {files_before, files_after, bytes, target_files}.
    """
    recover_compaction(path)
    files_before, total_bytes = _dir_stats(path)
    target_files = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = artifact.tmp_dir(path, "compact")
    if partition_by:
        (df.repartition(target_files, *partition_by)
         .write.mode("overwrite").partitionBy(*partition_by).parquet(tmp))
    else:
        df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    # verify before the swap: a failed rewrite must never replace data
    n_in = df.count()
    n_out = spark.read.parquet(tmp).count()
    if n_out != n_in:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row mismatch ({n_in} -> {n_out}); original kept")
    artifact.swap_in(path, "compact")
    files_after, _ = _dir_stats(path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total_bytes, "target_files": target_files,
            "rows": n_in}


def recover_compaction(path: str) -> bool:
    """Roll back a crash inside compact_parquet's swap window. Called
    automatically by compact_parquet, so a retried compaction self-heals;
    readers hitting a missing dir next to a .compact-old can call it
    directly. Returns True if it recovered."""
    return artifact.recover_swap(path, "compact")
