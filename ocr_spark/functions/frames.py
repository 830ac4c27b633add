"""DataFrame and array-column helpers shared by operators and pipelines:
Arrow-stage spreading, array dot products, the hyperplane LSH code stage,
connected components over pair frames, the distributed prefix sum behind
sequence packing, and the floor-log2 length bucket."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import TOKENS_EXPR


def spread_partitions(df: DataFrame) -> DataFrame:
    """Redistribute a narrow input across the session's parallelism
    before an Arrow stage. A small corpus arrives as ONE parquet file =
    one row group = one scan task (row groups are the split unit, so
    file-split tuning can't help), and the Python stage downstream then
    runs single-core — measured 3.4 s single-task vs sub-second spread
    for the sf0.1 shingle stage. At real scale the scan already plans at
    least as many splits as cores and this is a NO-OP: no shuffle is
    added at 100 TB; the small-input repartition moves only the rows the
    Python stage was about to eat anyway."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def array_dot(a, b):
    """Dot product of two array<double> columns, JVM-side (zip_with +
    aggregate: no Python worker)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


N_LSH_TOPK_PLANES = 6   # 64 buckets
N_LSH_MULTIPROBE = 2    # probe all codes within hamming<=2 (22/64 buckets)


def lsh_topk_planes():
    """The 64 × N_LSH_TOPK_PLANES hyperplane matrix for sim_lsh_topk —
    fixed-seed PCG64, shared by the numpy code stage and (as repr-exact
    float literals) the generated oracle SQL."""
    import numpy as np
    return np.random.default_rng(7).standard_normal((64, N_LSH_TOPK_PLANES))


def lsh_code_frame(emb):
    """(vec_id, embedding) → (vec_id, code, vec, norm): the shared 6-bit
    hyperplane sign-code stage behind sim_lsh_topk AND the persisted
    index build (pipeline/ann_index.py). Map-only numpy Arrow stage;
    the dot products accumulate dimension-sequentially (strict
    left-to-right fold, vectorized over rows) so the sign bits match the
    oracle SQL's `+` chain bit-for-bit — BLAS `m @ planes` pairwise-sums
    in a different order, which could flip a sign bit at |dot| ~ 1e-13."""
    import numpy as np
    import pandas as pd

    e = (emb.select("vec_id",
                    F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("norm", F.sqrt(array_dot(F.col("vec"), F.col("vec")))))
    planes = lsh_topk_planes()
    weights = (1 << np.arange(N_LSH_TOPK_PLANES)).astype(np.int64)

    def _code_stage(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["vec"]])
            acc = np.zeros((m.shape[0], N_LSH_TOPK_PLANES))
            for j in range(m.shape[1]):
                acc += m[:, j:j + 1] * planes[j]
            code = (acc >= 0) @ weights
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "code": code,
                                "vec": pdf["vec"], "norm": pdf["norm"]})

    return spread_partitions(e).mapInPandas(
        _code_stage, "vec_id long, code long, vec array<double>, norm double")


# candidate-pair graphs at or below this many pairs are finished on the
# driver with union-find instead of the distributed label loop: the
# collect is ~16 bytes/pair (bounded by construction), and it replaces
# 2*log(diameter) shuffle rounds with one action. At 100 TB the pair
# set from banded LSH + exact dedup is still far smaller than the
# corpus but can exceed this, so the distributed loop stays the
# general path.
SMALL_GRAPH_MAX_PAIRS = 200_000


def _union_find_min_labels(pairs):
    """Driver-side connected components over an iterable of (a, b) pairs:
    union-find with union-by-min root + path compression, so each
    component's root IS its minimum doc_id — the same fixpoint
    _propagate_min_labels converges to (equivalence pinned in
    tests/test_operators.py::test_dup_clusters_match_union_find).
    Returns [(doc_id, label)] over every edge-touched vertex."""
    parent = {}
    vertices = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        vertices.add(a)
        vertices.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(v, find(v)) for v in sorted(vertices)]


def _propagate_min_labels(edges, max_rounds=50):
    """Connected components over a symmetric, persisted (src, dst) edge
    frame: iterative min-label propagation with pointer doubling.
    Returns (labels DataFrame (doc_id, label), rounds, converged).

    Each round: (1) neighbor-min — propagate min(label) across edges,
    one keyed shuffle; (2) pointer doubling — label <- label of label,
    one keyed self-join — so convergence is O(log diameter) rounds, not
    O(diameter). Every label value is itself an edge-touched doc_id
    (labels start as self-ids and only ever take on other vertices'
    ids), so the label->label-of-label lookup is total. Labels only
    ever decrease, so an unchanged SUM(label) (one aggregate action per
    round) certifies the fixpoint, which equals per-vertex MIN over the
    transitive closure. Lineage is truncated with localCheckpoint each
    round: the plan references the previous frame several times, so
    persist() alone leaves the logical plan growing exponentially with
    rounds and deep iterations OOM the driver in plan analysis before
    any task runs."""
    # only edge-touched vertices can ever change label: singleton docs
    # (the overwhelming majority of a real corpus) never enter the loop
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id")).persist())
    prev_sum = None
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        prop = (edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("nbr_label")))
        step = (labels.join(prop, "doc_id", "left")
                .select("doc_id",
                        F.least(F.col("label"),
                                F.coalesce("nbr_label", "label"))
                        .alias("label")))
        hop = step.select(F.col("doc_id").alias("label"),
                          F.col("label").alias("label2"))
        new_labels = (step.join(hop, "label", "left")
                      .select("doc_id",
                              F.least(F.col("label"),
                                      F.coalesce("label2", "label"))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    return labels, rounds, converged


def min_label_components(spark, pairs: DataFrame,
                         warn_tag: str = "min_label_components") -> DataFrame:
    """Connected components over a (src, dst) pair frame → (doc_id,
    label) for every edge-touched vertex, label = the component's MIN
    vertex. Works for any orderable vertex type (long doc_ids, string
    conv_ids). Two paths on the same fixpoint: pair sets that fit on the
    driver (<= SMALL_GRAPH_MAX_PAIRS — dedup pair sets are bounded by
    the star-capped LSH buckets and orders of magnitude smaller than the
    corpus) finish with one collect + union-find; larger graphs run
    distributed min-label propagation with pointer doubling
    (_propagate_min_labels). Shared by dd_dup_clusters (doc grain) and
    the conversation-grain near-dup gate (pipeline/curate_convs.py)."""
    pairs = pairs.persist()
    n_pairs = pairs.count()

    if n_pairs <= SMALL_GRAPH_MAX_PAIRS:
        vtype = pairs.schema["src"].dataType.simpleString()
        labels = spark.createDataFrame(
            _union_find_min_labels(
                (r.src, r.dst) for r in pairs.collect()),
            f"doc_id {vtype}, label {vtype}")
        pairs.unpersist()
        return labels

    # symmetrize with a single-pass explode, NOT a self-union: a union
    # with the transpose references each pair source twice, and before
    # the persist materializes that recomputes the whole upstream
    # pipeline a second time (measured 2x the edge-build wall)
    edges = (pairs.select(F.explode(F.array(
                 F.struct(F.col("src"), F.col("dst")),
                 F.struct(F.col("dst").alias("src"),
                          F.col("src").alias("dst")))).alias("e"))
             .select("e.src", "e.dst")
             .distinct()
             .persist())
    # materialize edges BEFORE releasing pairs: persist() is lazy, and
    # dropping the pair cache first would make edges' first action
    # recompute the whole upstream pair pipeline (MinHash banding +
    # candidate join) a second time
    edges.count()
    pairs.unpersist()

    # hard safety cap only — iterate to the FIXPOINT. With pointer
    # doubling the cap is ~2^50 diameter, unreachable; stopping early
    # would silently split one real cluster into several.
    labels, _rounds, converged = _propagate_min_labels(edges, max_rounds=50)
    edges.unpersist()
    if not converged:
        import warnings
        warnings.warn(f"{warn_tag}: label propagation hit the 50-round "
                      "safety cap before the fixpoint — clusters may be "
                      "split; raise the cap for this corpus")
    return labels


PACK_SEQ_LEN = 512  # tokens per packed training sequence


# coarse-bucket width for the distributed prefix sum: doc_id >> 52 is a
# MONOTONE bucketing (arithmetic shift == floor-div by 2^52) cutting the
# signed-64 id space into 4096 ordered buckets. Production doc ids are
# md5-long surrogates (uniform over int64), so the stream splits evenly
# across all 4096 buckets and the big per-shard windows parallelize
# 4096-way; tiny dense test ids collapse into one bucket, degrading
# gracefully to the single-window plan.
PACK_BUCKET_SHIFT = 52


def sharded_prefix_sum(df: DataFrame, shard_cols: list[str],
                       value_col: str, out_col: str) -> DataFrame:
    """Inclusive running sum of value_col over doc_id order within each
    shard, as the classic DISTRIBUTED two-level scan — not one window per
    shard (a shard is a whole language at 100 TB; a single window
    partition would serialize it through one task):
      1. per-(shard, coarse id bucket) subtotals — one keyed aggregation
         with map-side combine;
      2. running offsets across the ≤4096 buckets of each shard — a
         window over the tiny subtotal frame;
      3. intra-bucket running sums — windows keyed by (shard, bucket),
         parallel across buckets;
      4. out = bucket offset + intra-bucket prefix.
    Bit-identical to the naive per-shard window (pinned in tests), so
    window-form SQL oracles are unchanged."""
    bucketed = df.withColumn(
        "_id_bucket", F.shiftright(F.col("doc_id"), PACK_BUCKET_SHIFT))
    wb = (Window.partitionBy(*shard_cols).orderBy("_id_bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # the offsets join keys are NULL-SAFE: a NULL shard value (e.g. a
    # null lang) is one partition to the window-form oracle's PARTITION
    # BY, so an equi-join here would silently drop those rows
    o_cols = [F.col(c).alias(f"_o_{c}") for c in shard_cols]
    offsets = (bucketed.groupBy(*shard_cols, "_id_bucket")
               .agg(F.sum(value_col).alias("_bucket_total"))
               .withColumn("_bucket_offset",
                           F.sum("_bucket_total").over(wb)
                           - F.col("_bucket_total"))
               .select(*o_cols, F.col("_id_bucket").alias("_o_bucket"),
                       "_bucket_offset"))
    cond = F.col("_id_bucket").eqNullSafe(F.col("_o_bucket"))
    for c in shard_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    wi = (Window.partitionBy(*shard_cols, "_id_bucket")
          .orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (bucketed
            .withColumn("_intra", F.sum(value_col).over(wi))
            .join(offsets, cond)
            .withColumn(out_col, F.col("_bucket_offset") + F.col("_intra"))
            .drop("_id_bucket", "_intra", "_bucket_offset", "_o_bucket",
                  *[f"_o_{c}" for c in shard_cols]))


def pack_placement_from(docs: DataFrame,
                        token_col: str | None = None) -> DataFrame:
    """Packing placement over any (doc_id, lang, source, text) frame:
    where each document lands in its (lang, source) shard's fixed-length
    token stream (tok_start = exclusive prefix via the distributed
    sharded_prefix_sum). The shared core of smp_pack_sequences /
    smp_pack_assembly and the end-to-end corpus pipeline's pack stage.

    token_col: pack on a precomputed per-doc token count (e.g. the
    persisted BPE tokenizer's n_bpe_tokens — pipeline/tokenizer.
    pack_with_tokenizer) instead of the whitespace proxy."""
    if token_col is None:
        docs = docs.selectExpr(
            "doc_id", "lang", "source",
            f"CAST(size({TOKENS_EXPR}) AS BIGINT) AS n_tokens_b")
    else:
        docs = docs.selectExpr(
            "doc_id", "lang", "source",
            f"CAST({token_col} AS BIGINT) AS n_tokens_b")
    return (sharded_prefix_sum(docs, ["lang", "source"], "n_tokens_b",
                               "_cum")
            .withColumn("tok_start", F.col("_cum") - F.col("n_tokens_b"))
            .withColumn("first_seq",
                        F.expr(f"tok_start DIV {PACK_SEQ_LEN}"))
            .withColumn("seq_offset",
                        F.expr(f"tok_start % {PACK_SEQ_LEN}"))
            # a zero-token doc (reachable only via token_col — the
            # whitespace path's split('') = [''] guarantees >= 1)
            # occupies NO sequence; the raw formula would claim 1 or 0
            # depending on position (DIV truncates toward zero, so
            # (tok_start - 1) DIV L != floor division at tok_start = 0)
            .withColumn("n_seqs", F.expr(
                f"CASE WHEN n_tokens_b = 0 THEN CAST(0 AS BIGINT) ELSE "
                f"(tok_start + n_tokens_b - 1) DIV {PACK_SEQ_LEN}"
                f" - first_seq + 1 END"))
            .drop("_cum"))


def len_bucket(n_tok):
    """Floor-log2 token-length bucket — length(bin(n)), exact integer on
    both engines, 0 for empty docs. THE shared bucket definition across
    dd_dup_rate_by_length, len_bucket_frame (txt_drift_tvd) and
    the corpus-stats snapshot artifact: a snapshot built yesterday must
    bucket exactly like a profile computed today."""
    return (F.when(n_tok > 0, F.length(F.bin(n_tok)))
            .otherwise(F.lit(0)).cast("int"))


def len_bucket_frame(docs):
    """Per-doc (doc_id, source, bucket, n_tok) where bucket is the
    floor-log2 token-length bucket (length(bin(n)) — exact integer on
    both engines; 0 for empty docs). ONE shared definition for the
    txt_drift_tvd read and the persisted corpus-stats snapshot artifact
    (pipeline/corpus_stats.py), so a snapshot built yesterday stays
    comparable to a profile computed today."""
    tok_arr = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                r"[ \t\n\x0b\f\r]+"),
        lambda x: x != "")
    n_tok = F.size(tok_arr).cast("long")
    return docs.select(
        "doc_id", "source",
        len_bucket(n_tok).alias("bucket"),
        n_tok.alias("n_tok"))
