"""Physical-plan regression pins: pushdown, pruning, broadcast, shuffle
count, codegen. A change that silently de-optimizes a headline plan
fails here even while results stay correct."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def test_q1_filter_pushed_and_columns_pruned(spark):
    from ocr_spark.operators.relational import q1_pricing_summary
    from ocr_spark.plans import pushed_filters, scan_read_schema
    df = q1_pricing_summary(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"
    cols = scan_read_schema(df)
    assert "l_comment" not in cols, "scan reads columns the query never uses"
    assert set(cols) <= {"l_returnflag", "l_linestatus", "l_quantity",
                         "l_extendedprice", "l_discount", "l_shipdate"}


def test_j1_small_dim_broadcasts(spark):
    from ocr_spark.operators.relational import j1_dim_lookup_join
    from ocr_spark.plans import (has_broadcast_hash_join,
                                 has_sort_merge_join)
    df = j1_dim_lookup_join(spark, SF_DIR)
    assert has_broadcast_hash_join(df), "dim join must broadcast"
    assert not has_sort_merge_join(df), "no sort-merge for a tiny dim"


def test_sim_cosine_broadcasts_query_side(spark):
    from ocr_spark.operators.corpus import sim_cosine_topk
    from ocr_spark.plans import formatted_plan
    df = sim_cosine_topk(spark, SF_DIR)
    assert "BroadcastNestedLoopJoin" in formatted_plan(df) or \
        "BroadcastHashJoin" in formatted_plan(df)


def test_extraction_shuffles_at_most_once(spark, tmp_path):
    import re

    from ocr_spark.pipeline.extract import extract_turns
    from ocr_spark.plans import exchange_count, formatted_plan
    from ocr_spark.sources.synthetic import synthesize_transcripts
    # parquet input so the plan under audit is scan → [salt] → extract,
    # without the synthetic generator's own repartition
    path = str(tmp_path / "t")
    synthesize_transcripts(spark, n_convs=10).write.parquet(path)
    t = spark.read.parquet(path)
    salted = extract_turns(t, salt_partitions=32)
    assert exchange_count(salted) == 1, \
        "salted path: exactly the one explicit repartition"
    keys = set(re.findall(r"rangepartitioning\((\w+)", formatted_plan(salted)))
    assert keys == {"bucket"}, \
        f"the one exchange must range-partition on bucket first: {keys}"
    assert exchange_count(extract_turns(t, salt_partitions=0)) == 0, \
        "map-only path: no shuffle at all"


def test_scan_filter_prunes_at_source(spark):
    from ocr_spark.operators.relational import s1_scan_filter_sort
    from ocr_spark.plans import pushed_filters
    pushed = " ".join(pushed_filters(s1_scan_filter_sort(spark, SF_DIR)))
    assert "p_size" in pushed


def test_relational_queries_have_codegen_spans(spark):
    from ocr_spark.operators.relational import (f4_tolerance_gate,
                                                q1_pricing_summary)
    from ocr_spark.plans import codegen_stage_count
    assert codegen_stage_count(q1_pricing_summary(spark, SF_DIR)) >= 1
    assert codegen_stage_count(f4_tolerance_gate(spark, SF_DIR)) >= 2


def test_partitioned_output_prunes_on_bucket(spark, tmp_path):
    """The extraction output is partitioned by the stable bucket; a
    bucket-filtered read must prune at the scan (PartitionFilters), which
    is what makes manifest-driven resume O(pending) not O(all)."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline.extract import run_extract_job
    from ocr_spark.plans import formatted_plan
    from ocr_spark.sources.synthetic import synthesize_transcripts
    out = str(tmp_path / "run")
    t = synthesize_transcripts(spark, n_convs=20)
    m = run_extract_job(spark, t, out, run_id="p1", salt_partitions=4,
                        n_buckets=8)
    scan = spark.read.parquet(m["output"]).where(F.col("bucket") == 3)
    plan = formatted_plan(scan)
    import re as _re
    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "bucket" in pf.group(1), f"no partition pruning: {plan[:500]}"


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Same-bucketed tables must join with ZERO exchanges (co-located
    join — the bucketing checkbox of the scale posture). Broadcast is
    disabled for the assertion so the planner can't hide the shuffle
    question behind a broadcast."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline.bucketing import colocated_join, write_bucketed
    from ocr_spark.plans import exchange_count

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(li, "t_li_b", "l_orderkey", 8)
        write_bucketed(orders, "t_ord_b", "l_orderkey", 8)
        joined = colocated_join(spark, "t_li_b", "t_ord_b", "l_orderkey")
        n_ex = exchange_count(joined)
        assert n_ex == 0, f"bucketed join must not shuffle, saw {n_ex}"
        # and the result is right
        plain = li.join(orders, "l_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_sale_import_facts_join_free(spark):
    """The sale import plan (like the purchase plan) must contain ZERO
    joins in dims and facts: foreign keys are hashes of natural keys and
    invoice columns ride the item explode, so the whole import is
    distincts + aggregations — no join shuffle to skew at 100 TB."""
    from ocr_spark.pipeline.extract import extract_turns
    from ocr_spark.pipeline.importer import plan_sale_import
    from ocr_spark.plans import formatted_plan
    from ocr_spark.sources.synthetic import synthesize_transcripts
    t = synthesize_transcripts(spark, n_convs=10)
    tables = plan_sale_import(extract_turns(t, salt_partitions=0))
    for name in ("customers", "products", "sales", "product_sales"):
        plan = formatted_plan(tables[name])
        assert "Join" not in plan, f"{name} plan contains a join:\n{plan}"


def test_repetition_signals_shuffle_only_for_the_sort(spark):
    """Per-doc repetition stats are doc-local: the sort-run fold form
    must plan ZERO shuffles beyond txt_repetition's final orderBy (a
    range exchange). A reappearing hash-aggregate exchange means someone
    reintroduced the corpus-wide explode+groupBy for a per-doc answer."""
    from ocr_spark.operators.quality import txt_repetition
    from ocr_spark.plans import exchange_count
    assert exchange_count(txt_repetition(spark, SF_DIR)) == 1


def test_pack_prefix_sum_windows_are_bucketed(spark):
    """The packing placement's DOC-GRAIN window must partition by
    (shard, _id_bucket) — a window partitioned by the shard alone over
    doc rows would serialize a whole language through one task at scale.
    The only shard-only window allowed is the tiny bucket-offsets one
    (it aggregates _bucket_total, not doc rows)."""
    from ocr_spark.operators.quality import smp_pack_sequences

    df = smp_pack_sequences(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    doc_grain = [ln for ln in plan.splitlines()
                 if "windowspecdefinition" in ln and "n_tokens_b" in ln]
    assert doc_grain, "doc-grain window missing from the plan"
    for ln in doc_grain:
        assert "_id_bucket" in ln, \
            f"doc-grain window not bucket-partitioned: {ln.strip()[:160]}"


def test_source_mix_corpus_side_stays_mapside(spark):
    """smp_source_mix must attach the per-source rates by BROADCAST: the
    corpus side is projected map-only and never shuffles before the
    final per-source aggregation (whose map-side partial combine makes
    the exchange carry per-partition scalars only)."""
    from ocr_spark.operators.quality import smp_source_mix
    from ocr_spark.plans import formatted_plan
    df = smp_source_mix(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only sort-merge-join candidate would be rates x corpus — banned
    assert "SortMergeJoin" not in plan


def test_minhash_verified_tokenizes_corpus_once(spark):
    """dd_minhash_verified's combined Arrow stage feeds BOTH the banding
    branch and the two shingle-set attach branches through the persisted
    frame — the plan must read the cache (InMemoryTableScan), not plan
    the mapInPandas stage per branch."""
    from ocr_spark.operators.corpus import dd_minhash_verified
    df = dd_minhash_verified(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3


def test_temperature_mix_corpus_side_stays_mapside(spark):
    """smp_temperature_mix (like smp_source_mix) must attach rates by
    BROADCAST: the corpus projection never shuffles before the final
    per-source aggregation."""
    from ocr_spark.operators.quality import smp_temperature_mix
    from ocr_spark.plans import formatted_plan
    df = smp_temperature_mix(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lm_unigram_partial_aggregates(spark):
    """txt_lm_unigram_score's wordcount must partially aggregate map-side
    (HashAggregate pairs around the exchange) — the shuffle carries
    per-partition (word, count) rows, never the raw token stream — and
    the single-row total must attach by broadcast, not a shuffle."""
    from ocr_spark.operators.quality import txt_lm_unigram_score
    from ocr_spark.plans import formatted_plan
    df = txt_lm_unigram_score(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan  # single-row total crossJoin


def test_chunk_windows_is_map_only(spark):
    """txt_chunk_windows must stay a map-only projection + explode: the
    ONLY exchange in its plan is the final presentation sort. A shuffle
    before the explode would move the full corpus text for no reason."""
    from ocr_spark.operators.quality import txt_chunk_windows
    df = txt_chunk_windows(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_quality_weighted_single_agg_exchange(spark):
    """smp_quality_weighted: per-doc scoring and the admission draw are
    map-only; the plan's only exchanges are the per-band aggregation
    (with map-side partial combine) and the presentation sort."""
    from ocr_spark.operators.quality import smp_quality_weighted
    df = smp_quality_weighted(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_chunk_dedup_strip_two_shuffles(spark):
    """dd_chunk_dedup_strip pays exactly the two shuffles inherent to
    global line dedup (content-keyed window + doc reassembly) plus the
    presentation sort — never more."""
    from ocr_spark.operators.quality import dd_chunk_dedup_strip
    df = dd_chunk_dedup_strip(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 3, plan


def test_conv_tool_chains_single_exchange_runs_branch(spark):
    """The tool-episode analysis must hang everything in its runs branch
    off ONE hash(conv_id) exchange (tie dedup, run flags, segment and
    per-conv aggregations all reuse the partitioning); the row-grain
    top-tool branch adds its own groupBy + window pair. Total: 3 hash
    exchanges, and none keyed on turn_idx."""
    import re

    from ocr_spark.operators.extraction import conv_tool_chains
    df = conv_tool_chains(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) <= 3, f"expected <=3 hash exchanges, got {ex}"
    assert not any("turn_idx" in e for e in ex), \
        f"an exchange keyed on turn_idx crept in: {ex}"


def test_domain_cap_single_window_shuffle(spark):
    """smp_domain_cap: one hash exchange for the per-host window plus
    the presentation sort — the cap must never add a second corpus
    shuffle (the host key IS the window key)."""
    from ocr_spark.operators.quality import smp_domain_cap
    from ocr_spark.plans.audit import exchange_count, has_sort_merge_join
    df = smp_domain_cap(spark, SF_DIR)
    assert exchange_count(df) <= 2
    assert not has_sort_merge_join(df)


def test_len_quantiles_targets_broadcast(spark):
    """txt_len_quantiles: the sources×4 target table joins back as a
    BROADCAST — a sort-merge join here would re-shuffle the ranked
    corpus for an 80-row probe side."""
    from ocr_spark.operators.quality import txt_len_quantiles
    from ocr_spark.plans.audit import (has_broadcast_hash_join,
                                       has_sort_merge_join)
    df = txt_len_quantiles(spark, SF_DIR)
    assert has_broadcast_hash_join(df)
    assert not has_sort_merge_join(df)


def test_emb_outliers_centroids_broadcast(spark):
    """emb_outliers: the labels×dims centroid table must broadcast onto
    the exploded corpus (map-only distance pass); a sort-merge join
    would shuffle every (vec, dim) row a second time."""
    from ocr_spark.operators.corpus import emb_outliers
    from ocr_spark.plans.audit import (has_broadcast_hash_join,
                                       has_sort_merge_join)
    df = emb_outliers(spark, SF_DIR)
    assert has_broadcast_hash_join(df)
    assert not has_sort_merge_join(df)


def test_url_density_one_agg_shuffle_and_pruned_scan(spark):
    """txt_url_density is one map-only projection into a per-source
    aggregate: exactly the agg exchange + the final sort's range
    exchange, and the scan reads only (source, text)."""
    from ocr_spark.operators.quality import txt_url_density
    from ocr_spark.plans import exchange_count, scan_read_schema
    df = txt_url_density(spark, SF_DIR)
    assert exchange_count(df) == 2
    assert set(scan_read_schema(df)) <= {"doc_id", "source", "text"}


def test_degenerate_scan_fold_is_map_only(spark):
    """conv_degenerate_scan's dup-bigram fold is turn-local: the plan is
    scan → project → one keyed aggregation (+ the final sort) — the
    corpus never shuffles to compute a per-turn number."""
    from ocr_spark.operators.extraction import conv_degenerate_scan
    from ocr_spark.plans import exchange_count, scan_read_schema
    df = conv_degenerate_scan(spark, SF_DIR)
    assert exchange_count(df) == 2
    assert set(scan_read_schema(df)) <= {"doc_id", "text"}


def test_lang_mix_scores_corpus_once(spark):
    """conv_lang_mix persists the tiny (conv, lang) count frame; the
    dominant-pick branch and the totals branch must both read the cache
    (InMemoryTableScan), never re-plan the langid HOF scan."""
    from ocr_spark.operators.extraction import conv_lang_mix
    df = conv_lang_mix(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2


def test_est_error_tokenizes_corpus_once(spark):
    """dd_minhash_est_error shares dd_minhash_verified's combined Arrow
    stage through the persisted frame: banding + the two sig/shingle
    attach branches all read the cache."""
    from ocr_spark.operators.corpus import dd_minhash_est_error
    df = dd_minhash_est_error(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3


def test_classifier_score_is_map_only_pruned_scan(spark):
    """txt_classifier_score is ONE map-only projection (tokenize →
    hash → foldable-literal weight sum): no exchange except the final
    sort's range partition, and the scan reads only (doc_id, text) —
    the 100 TB contract of the learned gate."""
    from ocr_spark.operators.classifier import txt_classifier_score
    from ocr_spark.plans import exchange_count, scan_read_schema
    df = txt_classifier_score(spark, SF_DIR)
    assert exchange_count(df) == 1
    assert set(scan_read_schema(df)) <= {"doc_id", "text"}


def test_chat_render_single_agg_shuffle(spark):
    """conv_chat_render orders turns INSIDE the aggregation (sort_array
    over structs): exactly the keyed-agg exchange + the final sort —
    no window, no second shuffle for ordering."""
    from ocr_spark.operators.extraction import conv_chat_render
    from ocr_spark.plans import exchange_count, scan_read_schema
    df = conv_chat_render(spark, SF_DIR)
    assert exchange_count(df) == 2
    assert set(scan_read_schema(df)) <= {"doc_id", "text"}
