"""Training-shard export — the last mile from a curated corpus to
training input: a deterministic global shuffle into N balanced shard
files, each internally ordered by the shuffle key.

Why a pipeline stage and not a `.orderBy(rand())`: training-data order
must be (a) decorrelated from crawl/source order (adjacent documents
from one site poison a data-parallel batch), (b) reproducible run to
run (resume, audits, ablations), and (c) balanced across shards so
data-parallel readers finish together. The md5 bridge gives all three:
`shard = pmod(md5(doc_id || ':shard'), n)` and the same md5 long as the
within-shard sort key — any engine, any partitioning, any cluster size
reproduces the identical shard membership and order (the same
determinism contract as the repo's sampling ops).

Scale shape: ONE hash repartition of the corpus (rows of a shard land
on exactly one task) with shard files written by `partitionBy` — there
is no global sort; each task sorts only its own shard slice
(`sortWithinPartitions`), which is the distributed-safe way to get
per-file order. `n_shards` must scale with the cluster (one task per
shard at write time): thousands at 100 TB, so a shard stays
executor-memory-sized; uniform md5 keys make the balance automatic
(binomial spread, no planned skew).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import N_TRAIN_SHARDS, shard_key_column
from . import artifact

SHARDS_VERSION = "shards-v1"
DEFAULT_N_SHARDS = N_TRAIN_SHARDS


def shard_assignment(docs: DataFrame, n_shards: int = DEFAULT_N_SHARDS
                     ) -> DataFrame:
    """Map-only projection: every doc gets its (shard, order_key) under
    the deterministic global shuffle. No shuffle here — assignment is a
    pure column expression (the SAME key column the oracle-paired
    smp_shard_assign stats view aggregates), so any consumer derives the
    identical placement."""
    key = shard_key_column()
    return (docs.withColumn("order_key", key)
            .withColumn("shard",
                        F.pmod(F.col("order_key"),
                               F.lit(n_shards)).cast("int")))


def write_training_shards(spark, docs: DataFrame, out_dir: str,
                          n_shards: int = DEFAULT_N_SHARDS) -> dict:
    """Export the corpus as n_shards ordered shard files + manifest.

    One hash repartition on the shard id (all rows of a shard reach one
    task), per-task sort on (shard, order_key), `partitionBy("shard")`
    write — each shard directory holds ONE file whose row order IS the
    training order. Deterministic end to end, so re-running after a
    crash reproduces byte-identical shards (committed under
    pipeline/artifact.py's atomicity contract)."""
    t0 = time.time()
    artifact.invalidate(out_dir)
    assigned = shard_assignment(docs, n_shards)
    data_dir = os.path.join(out_dir, "shards")
    (assigned
     .repartition(n_shards, "shard")
     .sortWithinPartitions("shard", "order_key")
     .write.mode("overwrite").partitionBy("shard").parquet(data_dir))
    stats = (spark.read.parquet(data_dir)
             .groupBy("shard")
             .agg(F.count("*").alias("n_docs"),
                  F.sum(F.length("text")).alias("n_chars"))
             .orderBy("shard")
             .collect())  # bounded: one row per shard
    manifest = {
        "version": SHARDS_VERSION,
        "n_shards": n_shards,
        "rows_out": int(sum(r.n_docs for r in stats)),
        "shards": {int(r.shard): {"n_docs": int(r.n_docs),
                                  "n_chars": int(r.n_chars or 0)}
                   for r in stats},
        "output": data_dir,
        "wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(out_dir, manifest)
    return manifest

