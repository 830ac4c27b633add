"""The commit protocol of every persisted artifact — the one place that
knows it. Each artifact module (ann_index, dedup_index, tokenizer,
classifier, bloom_filter, corpus_stats, maintenance's compaction) and
each plain-manifest writer (curate, curate_convs, shards,
corpus_pipeline, and extract's per-run parquet manifest parts) keeps only
its data layout and manifest fields, and commits through these functions.

Atomicity contract — the reference's single commit rule, data first and
then an atomic tmp+rename manifest (RunStore.php:20-31):

- a rebuild INVALIDATES the previous manifest before it overwrites any
  data, so a crash mid-rebuild reads as "no artifact", never as an old
  manifest pointing at half-rewritten data;
- the manifest is committed only AFTER the data commit or swap, and
  atomically (tmp + os.replace): a reader sees the previous manifest or
  the new one, never a torn file; a missing manifest means "no
  artifact";
- an in-place rewrite (an append, a compaction) writes a fresh sibling
  `<data>.<kind>-tmp` dir and swaps it in with two renames through
  `<data>.<kind>-old`; a crash between the renames is rolled back by
  recover_swap on the next read or compaction — the manifest was not yet
  rewritten, so the restored data is exactly what it describes.

A crashed build, append or compaction leaves orphan files, never a
readable-but-partial artifact.
"""
from __future__ import annotations

import json
import os
import shutil
import uuid

MANIFEST = "manifest.json"


def invalidate(out_dir: str, name: str = MANIFEST) -> None:
    """Remove the previous manifest before an overwrite starts writing."""
    try:
        os.remove(os.path.join(out_dir, name))
    except FileNotFoundError:
        pass


def commit(out_dir: str, manifest, name: str = MANIFEST) -> None:
    """Atomically (re)write a JSON manifest: tmp file + os.replace."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f"_{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, name))


def commit_part(out_dir: str, table) -> None:
    """Atomically add one parquet part file (a pyarrow Table) to the
    parquet dataset at out_dir: write `_part-<uuid>.parquet.tmp`, which
    Spark and pyarrow readers skip, then os.replace it to
    `part-<uuid>.parquet`."""
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(out_dir, f"_{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, name))


def read_part_column(out_dir: str, column: str) -> set:
    """The distinct values of one column over the committed parquet parts
    at out_dir, read with pyarrow (no Spark job). Empty when nothing is
    committed: no directory, or only `_`/`.`-prefixed files (a crashed
    commit_part's tmp). An unreadable part raises pyarrow's ArrowInvalid,
    a ValueError naming the file."""
    if not os.path.isdir(out_dir):
        return set()
    import pyarrow.dataset as ds
    parts = ds.dataset(out_dir, format="parquet")
    if not parts.files:
        return set()
    return set(parts.to_table(columns=[column]).column(column).to_pylist())


def read(out_dir: str, name: str = MANIFEST):
    """The committed manifest, or None when there is none."""
    path = os.path.join(out_dir, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def require(out_dir: str, name: str, what: str, **expect) -> dict:
    """The committed manifest; FileNotFoundError when there is none,
    ValueError when any `expect` key (version, k, n_bands, ...) differs."""
    m = read(out_dir, name)
    if m is None:
        raise FileNotFoundError(
            f"no committed {what} at {out_dir} (missing {name})")
    if any(m.get(k) != v for k, v in expect.items()):
        raise ValueError(f"incompatible {what} manifest: {m}")
    return m


def tmp_dir(data_dir: str, kind: str) -> str:
    """A fresh (emptied) `<data_dir>.<kind>-tmp` to rewrite into."""
    tmp = f"{data_dir.rstrip('/')}.{kind}-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def swap_in(data_dir: str, kind: str) -> None:
    """Promote tmp_dir(data_dir, kind) over data_dir with two renames."""
    data_dir = data_dir.rstrip("/")
    old = f"{data_dir}.{kind}-old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(data_dir, old)
    # a crash here is rolled back by recover_swap
    os.replace(f"{data_dir}.{kind}-tmp", data_dir)
    shutil.rmtree(old, ignore_errors=True)


def recover_swap(data_dir: str, kind: str) -> bool:
    """Roll back a crash inside swap_in's two-rename window (data renamed
    to `.<kind>-old`, tmp not yet promoted). True if it restored data."""
    data_dir = data_dir.rstrip("/")
    old = f"{data_dir}.{kind}-old"
    if not os.path.exists(data_dir) and os.path.exists(old):
        os.replace(old, data_dir)
        return True
    return False
