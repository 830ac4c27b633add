"""MinHash-LSH near-dup machinery shared by the dedup operators, the
conversation curation funnel, the persisted dedup index and the streaming
near-dedup state: the numpy signature stage, banding, bounded candidate
pairs, and the DuckDB CTE chain that replays all three exactly.

The signature stage is a plain Arrow-batch generator (no Spark in its
body), so it can be run and profiled on pandas batches outside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import md5_long


N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
MAX_LSH_BUCKET = 64  # all-pairs above this degrades to the star pattern


MINHASH_P = (1 << 61) - 1
# fixed universal-hash coefficients, shared verbatim by the numpy stage
# and the generated oracle SQL (VALUES literals)
MINHASH_A = [(2 * k + 1) * 0x9E3779B97F4A7C15 % MINHASH_P
             for k in range(N_MINHASH)]
MINHASH_B = [(k * 0xC2B2AE3D27D4EB4F + 1) % MINHASH_P
             for k in range(N_MINHASH)]


def minhash_sig_stage(emit_shingles: bool = False):
    """MinHash signatures in one Arrow batch stage: md5-first-8-bytes per
    shingle (engine-agnostic — DuckDB reproduces it as
    ('0x'||substr(md5(s),1,16))::UBIGINT, which makes the whole operator
    oracle-checkable), then K universal-hash permutations
    h_k(x) = ((a_k·x + b_k) mod 2^64) mod p vectorized over the whole
    shingle array with numpy (the expression-tree version — nested
    transform per (shingle, k) — is interpreted, not codegen'd, and ~6x
    slower). The mod-2^64 is numpy's native uint64 wraparound, mirrored
    explicitly in HUGEINT on the oracle side. Deterministic: fixed
    (a_k, b_k) derived from k.

    emit_shingles=True additionally yields each doc's distinct shingle
    hashes as a sorted array (the dd_minhash_verified input) — ONE
    parameterized body, because the verified-dedup oracle assumes the
    candidate and verify stages share the exact shingle universe; two
    copies of the tokenize/permutation arithmetic could drift apart."""
    import numpy as np
    import pandas as pd

    P = MINHASH_P
    A = np.array(MINHASH_A, dtype=np.uint64)
    B = np.array(MINHASH_B, dtype=np.uint64)

    def _sigs(batches):
        import hashlib
        for pdf in batches:
            out_ids, out_sigs, out_sets = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = " ".join((text or "").lower().split()).split(" ")
                if len(words) < 3:
                    continue
                shingles = {" ".join(words[i:i + 3])
                            for i in range(len(words) - 2)}
                h = np.fromiter(
                    (int.from_bytes(hashlib.md5(s.encode()).digest()[:8],
                                    "big") for s in shingles),
                    dtype=np.uint64, count=len(shingles))
                # (K, n) permuted values via broadcasting (uint64 wraps
                # mod 2^64 before the mod-p); min per row
                sig = ((A[:, None] * h[None, :] + B[:, None]) % P).min(axis=1)
                out_ids.append(int(doc_id))
                out_sigs.append(sig.astype(np.int64).tolist())
                if emit_shingles:
                    out_sets.append(np.sort(h.astype(np.int64)).tolist())
            # a batch whose docs are ALL sub-3-words yields no rows; an
            # empty DataFrame's columns default to float64 and Arrow
            # refuses float64 -> array<long> (real at scale: a partition
            # of short docs), so yield nothing instead
            if not out_ids:
                continue
            cols = {"doc_id": out_ids, "sig": out_sigs}
            if emit_shingles:
                cols["shingles"] = out_sets
            yield pd.DataFrame(cols)

    return _sigs


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """Explode K-value signatures into (doc_id, band, band_hash) rows —
    shared by every batch candidate generator and the persisted dedup
    index (pipeline/dedup_index.py). The band hash is md5 over the
    comma-joined band values folded to a signed long (compact 8-byte
    shuffle key at 100 TB, vs a 32-char hex string), engine-agnostic so
    the DuckDB oracle reproduces the buckets exactly."""
    rows_per_band = N_MINHASH // N_BANDS
    return sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                md5_long(F.concat_ws(",", *[
                    F.col("sig")[b * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)])).alias("band_hash"))
            for b in range(N_BANDS)
        ])).alias("bh")
    ).select("doc_id", "bh.band", "bh.band_hash")


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) → candidate pairs; every row, list, and
    task bounded.

    Two passes over the compact (24-byte) band rows instead of one
    unbounded collect: a count/min aggregation per bucket first (pure
    map-side-combinable scalars), then a join back on the bucket key.
    Buckets up to MAX_LSH_BUCKET members collect their (pre-bounded)
    member list and explode all pairs (O(k²), k capped); a DEGENERATE
    bucket — empty/boilerplate docs collapsing to one signature,
    unbounded at 100 TB — emits the star pattern (min_doc, other) as a
    MAP-ONLY projection of the joined rows: no collect_list row ever
    holds more than MAX_LSH_BUCKET ids (the previous shape collected the
    full bucket before deciding — a 10⁸-doc boilerplate cluster was one
    multi-GB array in one aggregation task). O(n) star pairs preserve the
    cluster's connectivity (a connected-components pass groups it
    identically). The stats side is one row per non-singleton bucket;
    AQE broadcasts it when small and skew-splits the join when a
    degenerate key dominates."""
    stats = (bands.groupBy("band", "band_hash")
             .agg(F.count("*").alias("n"), F.min("doc_id").alias("mind"))
             .where(F.col("n") >= 2))
    joined = bands.join(stats, ["band", "band_hash"])
    star = (joined.where((F.col("n") > MAX_LSH_BUCKET)
                         & (F.col("doc_id") != F.col("mind")))
            .select(F.col("mind").alias("doc_a"),
                    F.col("doc_id").alias("doc_b")))
    small = (joined.where(F.col("n") <= MAX_LSH_BUCKET)
             .groupBy("band", "band_hash")
             .agg(F.sort_array(F.collect_list("doc_id")).alias("docs")))
    all_pairs = F.flatten(F.transform(
        F.col("docs"),
        lambda a, i: F.transform(
            F.slice(F.col("docs"), i + 2, F.size("docs")),
            lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")))
    ))
    pairs = (small.select(F.explode(all_pairs).alias("p"))
             .select("p.doc_a", "p.doc_b")
             .unionByName(star))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_band_collisions"))
        .orderBy("doc_a", "doc_b")
    )



# ---- generated oracle SQL for the MinHash/LSH family -----------------------
# The (k, a, b) coefficients are embedded as VALUES literals from the same
# Python constants the numpy stage uses; every hash step is reproduced
# exactly (md5-first-8-bytes shingle hash, HUGEINT mod-2^64 wraparound for
# the universal-hash permutations, md5 band hash, star cap on degenerate
# buckets).

_MINHASH_ROWS_PER_BAND = N_MINHASH // N_BANDS
_MINHASH_KS_VALUES = ", ".join(
    f"({k}, {MINHASH_A[k]}::HUGEINT, {MINHASH_B[k]}::HUGEINT)"
    for k in range(N_MINHASH))

# CTE chain from a (doc_id, text) source named {src} to cand_pairs
MINHASH_CTES = f"""
shingled AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
    FROM (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ') AS words
      FROM {{src}}
    ), UNNEST(range(1, len(words) - 1)) AS t(i)
    WHERE len(words) >= 3
  )
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 16))::UBIGINT::HUGEINT AS h
  FROM shingled
),
ks(k, a, b) AS (VALUES {_MINHASH_KS_VALUES}),
sigs AS (
  SELECT doc_id, k,
         MIN(CAST(((a * h + b) % 18446744073709551616) % {MINHASH_P} AS BIGINT)) AS sigv
  FROM hashed CROSS JOIN ks
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, band,
         CAST(('0x' || substr(md5(string_agg(CAST(sigv AS VARCHAR), ',' ORDER BY k)), 1, 16))::UBIGINT::HUGEINT
              - 9223372036854775808 AS BIGINT) AS band_hash
  FROM (SELECT doc_id, k, sigv, CAST(k // {_MINHASH_ROWS_PER_BAND} AS INT) AS band FROM sigs)
  GROUP BY doc_id, band
),
bsz AS (
  SELECT band, band_hash, COUNT(*) AS n, MIN(doc_id) AS mind
  FROM bands GROUP BY 1, 2
),
cand_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  JOIN bsz s ON s.band = a.band AND s.band_hash = a.band_hash
  WHERE s.n <= {MAX_LSH_BUCKET} OR a.doc_id = s.mind
)"""
