"""The engine-agnostic 64-bit hash and every key and decision built on md5.

md5_long is the md5 bridge every oracle-paired hash decision rides on:
DuckDB reproduces it bit for bit, so bucket ids, surrogate doc ids and
sampling decisions agree across engines without a shared hash library.
Built on it here: the exact-dedup content key, the Bloom probe
positions, the training-shard key and the stratified-sampling decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def md5_long(col):
    """First 8 bytes of md5(col) as a signed int64 — the engine-agnostic
    64-bit hash: DuckDB writes the identical value as
    CAST(('0x'||substr(md5(x),1,16))::UBIGINT AS HUGEINT) - 2^63."""
    # 2^63 exceeds a Java long, so it rides over py4j as a string literal
    return (F.conv(F.substring(F.md5(col), 1, 16), 16, 10)
            .cast("decimal(20,0)")
            - F.lit("9223372036854775808").cast("decimal(20,0)")
            ).cast("long")


def smp_threshold_u64(rate: float) -> int:
    """Keep-rate as an unsigned 64-bit threshold on the md5 bridge: a row
    samples in iff its unsigned md5 fold is below it (subtract 2^63 to
    compare against md5_long's signed value)."""
    return min(int(rate * 2**64), 2**64 - 1)


# per-language keep rates (downsample the head language, keep the tail) —
# the thresholds are embedded as exact integer literals in BOTH engines,
# so the sampling decision is bit-identical regardless of float handling
SMP_RATES = {"en": 0.3, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 0.5}


def stratified_keep(rates: dict[str, float]):
    """Boolean keep column of deterministic stratified sampling over
    (doc_id, lang): a doc is kept iff its salted md5 fold falls under its
    language's keep-rate threshold; a language absent from `rates` is
    never kept."""
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":strat")))
    kept = F.lit(False)
    for lang, rate in rates.items():
        thr = smp_threshold_u64(rate) - 2**63  # signed-space threshold
        kept = F.when(F.col("lang") == lang,
                      h < F.lit(thr)).otherwise(kept)
    return kept


def content_md5(c):
    """Whitespace-normalized lowercase content hash (md5 hex) — THE
    exact-dedup key: the exact-dedup queries, both curation pipelines
    and the Bloom filter all hash with it."""
    return F.md5(F.regexp_replace(F.lower(c), r"[ \t\n\x0b\f\r]+", " "))


BLOOM_K = 4           # hash functions per inserted key
BLOOM_EXTRA_BITS = 3  # m = 2^(bit_length(n)+3)  →  8n < m ≤ 16n bits


def bloom_pos_explode():
    """Explode column yielding the BLOOM_K probe positions of one
    content hash; expects columns `text_hash` (md5 hex) and `m`
    (BIGINT) in scope. Positions are pmod(md5_long(hash||':'||j), m) —
    the repo's ONE md5-to-int64 bridge composed with the sign-safe mod,
    identical on DuckDB via the UBIGINT bridge and `((x % m) + m) % m`.
    j rides as a literal suffix so the Spark concat and the SQL
    `|| ':' || CAST(j AS VARCHAR)` render the same preimage bytes."""
    return F.explode(F.array(*[
        F.pmod(md5_long(F.concat(F.col("text_hash"), F.lit(f":{j}"))),
               F.col("m"))
        for j in range(BLOOM_K)]))


def bloom_probe_frame(docs: DataFrame, m: int) -> DataFrame:
    """(doc_id, pos) probe positions of a documents frame against an
    m-bit filter — THE shared probe projection of the Bloom artifact's
    build, batch-check and append paths (one builder, so a preimage
    change cannot drift between them). NULL text is coalesced to ''
    (the sim_bm25 discipline): hashing NULL would probe NULL positions
    that join nothing and break the artifact's no-false-negatives
    contract."""
    return (docs.select(
                "doc_id",
                content_md5(F.coalesce(F.col("text"), F.lit("")))
                .alias("text_hash"),
                F.lit(int(m)).cast("long").alias("m"))
            .select("doc_id", bloom_pos_explode().alias("pos")))


N_TRAIN_SHARDS = 16


def shard_key_column():
    """The canonical training-shuffle key: md5 long of doc_id||':shard'.
    pipeline/shards.py derives shard membership AND within-shard order
    from this same column, so the smp_shard_assign stats view audits
    exactly the placement the export writes."""
    return md5_long(F.concat(F.col("doc_id").cast("string"),
                             F.lit(":shard")))
