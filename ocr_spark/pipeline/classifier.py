"""Persisted quality-classifier artifact: train once, gate every crawl.

The registry query (operators/classifier.txt_classifier_score) scores
with the shipped model (functions/classifier.py), trained on the
deterministic built-in corpus; this module is the artifact around the
same trainer — the shape a real deployment runs: train integer
averaged-perceptron weights on ITS OWN bounded labeled sample
(driver-side, like the IVF/PQ codebooks), commit the weight table +
manifest, then score any corpus with a map-only projection GENERATED
from the committed constants by the exact expression builder the
oracle-paired query uses
(functions/classifier.classifier_score_expr — shared provenance, so an
artifact score is engine-exact by the same argument).

Scoring is the 100 TB side: the weights ride into one foldable literal
array (a few KB) and the corpus never shuffles. Commits follow
pipeline/artifact.py's atomicity contract.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.classifier import (CLS_DIM, CLS_EPOCHS, CLS_THRESHOLD,
                                    featurize, score_frame,
                                    train_quality_classifier)
from . import artifact

CLASSIFIER_VERSION = 1

_MANIFEST = "_classifier_manifest.json"
_DATA = "weights"

# Driver-side training bounds (the IVF-codebook pattern): the labeled
# sample is capped by md5-smallest-first selection — deterministic under
# any partitioning, unbiased over the corpus — and each text is clipped,
# so the collected sample is <= ~40 MB by construction.
CLS_MAX_TRAIN_ROWS = 10_000
CLS_TRAIN_MAX_CHARS = 4_096


def train_classifier(spark: SparkSession, labeled: DataFrame,
                     output_dir: str, dim: int = CLS_DIM,
                     epochs: int = CLS_EPOCHS,
                     threshold: int = CLS_THRESHOLD) -> dict:
    """Train on a labeled (text, label) frame — label 1 = keep — and
    commit the integer weight table + manifest. The sample order is the
    md5 order of the text (ties by label), so retraining on the same
    labels reproduces the same weights bit for bit regardless of input
    partitioning."""
    t0 = time.time()
    data_dir = os.path.join(output_dir, _DATA)
    artifact.invalidate(output_dir, _MANIFEST)

    rows = (labeled
            .select(F.substring(F.coalesce(F.col("text"), F.lit("")), 1,
                                CLS_TRAIN_MAX_CHARS).alias("text"),
                    F.col("label").cast("int").alias("label"))
            .withColumn("_h", F.md5(F.col("text")))
            .orderBy("_h", "label")
            .limit(CLS_MAX_TRAIN_ROWS)
            .collect())
    samples = [(r.text, r.label) for r in rows]
    weights, bias, div_w = train_quality_classifier(samples, dim=dim,
                                                    epochs=epochs)

    def _score(text: str) -> int:
        x = featurize(text, dim)
        return (bias + div_w * sum(x.values())
                + sum(weights[k] * v for k, v in x.items()))

    acc = sum((_score(t) > threshold) == (y == 1) for t, y in samples)

    (spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "bucket INT, weight BIGINT")
     .coalesce(1).write.mode("overwrite").parquet(data_dir))
    manifest = {
        "version": CLASSIFIER_VERSION,
        "dim": dim,
        "bias": bias,
        "div_w": div_w,
        "threshold": threshold,
        "epochs": epochs,
        "n_train": len(samples),
        "train_acc_bp": (acc * 10000) // len(samples) if samples else 0,
        "built_unix": int(time.time()),
        "build_wall_ms": int((time.time() - t0) * 1000),
    }
    artifact.commit(output_dir, manifest, _MANIFEST)
    return manifest


def read_manifest(model_dir: str) -> dict:
    return artifact.require(model_dir, _MANIFEST, "classifier",
                            version=CLASSIFIER_VERSION)


def load_model(spark: SparkSession, model_dir: str
               ) -> tuple[list[int], int, int, int]:
    """(weights, bias, div_w, threshold) of a committed classifier."""
    m = read_manifest(model_dir)
    rows = (spark.read.parquet(os.path.join(model_dir, _DATA))
            .orderBy("bucket").collect())
    weights = [r.weight for r in rows]
    if len(weights) != m["dim"]:
        raise ValueError(
            f"classifier weight table has {len(weights)} buckets, "
            f"manifest says {m['dim']}")
    return weights, m["bias"], m["div_w"], m["threshold"]


def score_with_model(spark: SparkSession, model_dir: str,
                     docs: DataFrame) -> DataFrame:
    """Score a documents frame with a committed classifier: the same
    map-only (doc_id, n_feats, score_sum, pred) projection as the
    oracle-paired query — literally the same builder
    (functions/classifier.score_frame), generated from the ARTIFACT's
    constants."""
    weights, bias, div_w, threshold = load_model(spark, model_dir)
    return score_frame(docs, weights, bias, div_w, threshold)
