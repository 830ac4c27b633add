"""Persisted LSH ANN index: build the bucket index ONCE as a parquet
artifact, then serve top-k queries from it with partition pruning.

The direct operator (operators/corpus.sim_lsh_topk) codes the corpus on
every call — right for a one-shot analytic, wrong for a serving or
repeated-batch workload. At 100 TB the index build is the expensive pass
(one map-only Arrow code stage over every vector), so a real pipeline
materializes it: this module writes the coded frame partitioned BY THE
BUCKET CODE, which turns every multiprobe query into a partition-pruned
scan — a query probing 22 of 64 codes reads 22/64 of the files and the
planner proves it (PartitionFilters, pinned in tests/test_ann_index.py).
Commits follow pipeline/artifact.py's atomicity contract.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.frames import (N_LSH_MULTIPROBE, N_LSH_TOPK_PLANES,
                                array_dot, lsh_code_frame)
from . import artifact

INDEX_VERSION = 1
MAX_QUERY_BATCH = 10_000  # driver-side probe-code union stays bounded

_MANIFEST = "_index_manifest.json"
_DATA = "lsh_index"


def build_lsh_index(spark: SparkSession, emb: DataFrame,
                    output_dir: str) -> dict:
    """Code every vector (shared map-only Arrow stage) and persist the
    index partitioned by bucket code. Returns the manifest."""
    t0 = time.time()
    data_dir = os.path.join(output_dir, _DATA)
    artifact.invalidate(output_dir, _MANIFEST)
    coded = lsh_code_frame(emb)
    (coded.write.mode("overwrite").partitionBy("code").parquet(data_dir))
    n = spark.read.parquet(data_dir).count()
    manifest = {
        "version": INDEX_VERSION,
        "n_vectors": n,
        "n_planes": N_LSH_TOPK_PLANES,
        "plane_seed": 7,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(output_dir, manifest, _MANIFEST)
    return manifest


def read_manifest(index_dir: str) -> dict:
    return artifact.require(index_dir, _MANIFEST, "index",
                            version=INDEX_VERSION,
                            n_planes=N_LSH_TOPK_PLANES)


def query_lsh_index(spark: SparkSession, index_dir: str,
                    queries: DataFrame, k: int = 10,
                    multiprobe: int = N_LSH_MULTIPROBE) -> DataFrame:
    """Top-k cosine neighbors for each query row (query_id, embedding)
    against a committed index.

    The query batch is the SMALL side by definition (a serving batch or
    evaluation set, capped at MAX_QUERY_BATCH): its codes are computed
    by the same Arrow stage, collected driver-side, and the UNION of all
    probe codes becomes an isin() partition filter on the index read —
    the scan provably skips every unprobed bucket. Candidates then join
    the (tiny, broadcast) probe table on the code and rank by exact
    cosine."""
    read_manifest(index_dir)
    index = spark.read.parquet(os.path.join(index_dir, _DATA))

    qcoded = lsh_code_frame(queries.select(
        F.col("query_id").alias("vec_id"), "embedding"))
    qrows = qcoded.collect()
    if len(qrows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch {len(qrows)} exceeds {MAX_QUERY_BATCH}; "
            "split the batch (the probe union must stay driver-sized)")

    masks = [m for m in range(1 << N_LSH_TOPK_PLANES)
             if bin(m).count("1") <= multiprobe]
    probes = [(r.vec_id, r.code ^ m, r.vec, r.norm)
              for r in qrows for m in masks]
    probe_codes = sorted({p[1] for p in probes})
    probe_df = spark.createDataFrame(
        probes, "query_id long, code long, qvec array<double>, qnorm double")

    pruned = index.where(F.col("code").isin(probe_codes))
    cos = (array_dot(F.col("qvec"), F.col("vec"))
           / (F.col("qnorm") * F.col("norm")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("cand_id"))
    return (F.broadcast(probe_df).join(pruned, "code")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", F.round(cos, 4))
            .withColumn("cand_id", F.col("vec_id"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "cand_id", "cosine")
            .orderBy("query_id", "rank"))
