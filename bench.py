#!/usr/bin/env python3
"""Benchmark harness (driver contract + scaling evidence).

Default mode (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "extraction": {...}}
and writes the full per-query record to $OCR_BENCH_RECORD (default
BENCH/last_run.json, relative to this file).

--scaling mode: runs the same extraction job at local[N] and local[4N]
(N=$SPARK_GRAFT_SCALE_N, default 8) over the same deterministic synthetic
transcripts and writes BENCH/BASELINE.md with throughput at both plus
scaling efficiency = (tput_4N / tput_N) / 4 (target ≥ 0.8 per north_rule —
no real cluster in this sandbox, so parallelism levels stand in for
cluster sizes).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


# the round-1 headline set (kept stable so cross-round walls compare
# like-for-like; the driver's r01 JSON summed exactly these + extraction)
HEADLINE_R1 = [
    "q1_pricing_summary", "a1_a2_invoice_totals", "f4_tolerance_gate",
    "j1_dim_lookup_join", "j2_product_join", "a7_topk_per_group",
    "w3_gap_sessionize", "w3b_session_window", "u4_fallback_chain",
    "t18_imputation", "dd_exact_dup", "dd_ngram_jaccard", "dd_minhash_lsh",
    "dd_embedding_neardup", "sim_cosine_topk", "sim_ivf_topk",
    "txt_quality", "txt_langid", "qr_asof_join", "mm_frame_plan",
    "conv_assemble", "extract_documents", "import_star_schema",
]

HEADLINE = HEADLINE_R1 + [
    "import_sales", "extract_html_readability", "extract_pdf_layout",
    "extract_quality_gate", "t26_llm_json_cascade",
    "txt_repetition", "txt_pii_scrub", "txt_contamination",
    "smp_stratified", "smp_token_budget", "dd_chunk_dup",
    "curate_funnel",
    # round-2 continuation: packing, incremental dedup, transcript-native
    # screening + conversation-grain curation
    "smp_pack_sequences", "dd_incremental", "conv_stats",
    "conv_curate_funnel",
    # round 3: source-mixture sampling, gate-threshold calibration,
    # two-stage verified fuzzy dedup
    "smp_source_mix", "txt_quality_hist", "dd_minhash_verified",
    # round 4: URL dedup, unigram-LM quality scoring, temperature-scaled
    # source mixing, BPE merge statistics, dialogue-shape screening
    "dd_url_dup", "txt_lm_unigram_score", "smp_temperature_mix",
    "txt_bpe_pair_counts", "conv_dialogue_balance", "smp_shard_assign",
    # round 4 continuation: full Gopher rule gate, epoch up-sampling,
    # product-quantization ANN (codes-only ADC scan + exact re-rank)
    "txt_gopher_gate", "smp_epoch_mix", "sim_pq_topk",
    # round 4 continuation: RAG chunking, quality-proportional sampling,
    # canonical-per-cluster dedup, iterative BPE merge training
    "txt_chunk_windows", "smp_quality_weighted", "dd_cluster_canonical",
    "bpe_train_merges", "dd_chunk_dedup_strip", "txt_blocklist_filter",
    "dd_semantic_dup", "dd_effective_tokens",
    # round 4 continuation: transcript tool-chain/turn-dedup analytics,
    # bigram LM scoring, domain accounting, prefix dedup
    "conv_tool_chains", "conv_turn_dedup", "txt_lm_bigram_score",
    "dd_domain_stats", "dd_prefix_dup", "txt_ttr", "conv_context_growth",
    "conv_reply_latency", "txt_code_detect", "emb_norm_stats",
    "conv_role_transitions", "txt_char_class_mix", "txt_sentence_stats",
    "emb_label_centroids", "conv_refusal_scan", "dd_dup_rate_by_source",
    "conv_verbosity_drift", "emb_dim_variance", "emb_outliers",
    "dd_novelty_by_source", "smp_domain_cap", "txt_len_quantiles",
    "dd_syndication_matrix", "dd_boilerplate_topk", "conv_tool_latency",
    "conv_lang_mix", "conv_degenerate_scan", "txt_url_density",
    "dd_minhash_est_error", "extract_yield", "qr_retry_collapse",
    "qr_conversion_cohorts",
    # round 5: learned hashed-feature quality gate, SFT-grain chat
    # packing (fixed-length sequences + loss masks), chat-template
    # rendering
    "txt_classifier_score", "smp_chat_pack_seqs", "conv_chat_render",
    "dd_containment", "mm_phash_neardup", "txt_gate_agreement",
    # round 5 continuation: lexical BM25 retrieval (broadcast query-term
    # set, map-only corpus touch), batch-over-batch drift monitoring,
    # padding-waste bucket ladder, soft-dedup weighting
    "sim_bm25_topk", "txt_drift_tvd", "smp_length_buckets",
    "dd_soft_dedup", "tok_fertility", "qr_retention_matrix",
    "dd_dup_rate_by_length", "sim_hybrid_topk", "mm_blob_dedup",
    "smp_soft_budget", "qr_stickiness",
    # round 5 continuation: Bloom-filter incremental dedup with
    # false-positive calibration, ANN recall evaluation, integer-bits
    # entropy, co-occurrence lift, vocab coverage curve, daily volume
    # anomalies
    "dd_bloom_check", "sim_recall_eval", "txt_entropy", "txt_cooc_pmi",
    "txt_vocab_coverage", "qr_daily_anomaly", "txt_zipf_slope",
    "qr_event_funnel", "smp_mix_report", "emb_cosine_hist",
    "conv_loss_mass", "dd_dup_rate_by_gate", "qr_bot_detection",
    "dd_jaccard_threshold_sweep", "sim_hard_negatives",
    "conv_system_templates", "qr_cohort_value",
    "dd_bloom_fpr_curve", "conv_turn_profile",
    "dd_dup_cluster_hist", "qr_interarrival_hist",
    "smp_eval_holdout", "txt_hapax_by_source",
]


def _run_queries(spark, sf_dir: str) -> dict[str, float]:
    from ocr_spark.operators import ALL_QUERIES
    timings = {}
    for name in HEADLINE:
        fn, _sql = ALL_QUERIES[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)
        print(f"  {name}: {timings[name]:.2f}s ({n} rows)", file=sys.stderr)
        # Several operators persist() intermediates that must stay cached
        # through the caller's action and therefore cannot unpersist
        # themselves (posting lists, MinHash signatures, tokenized docs,
        # the importers' extracted frame). Left alone they accumulate in
        # the shared session and squeeze execution memory for every later
        # query — measured: curate_funnel (last in the list) took 46 s in
        # the leaky session vs 18 s cold standalone. Drop them so each
        # timing is the query, not its predecessors' leftovers.
        spark.catalog.clearCache()
        # ...and make Spark's ContextCleaner actually reclaim the dropped
        # blocks plus dead broadcasts/shuffles NOW: cleanup is triggered
        # by JVM GC noticing unreferenced refs, and with a large
        # ParallelGC heap full GCs are rare enough that 40+ queries of
        # state pile up and squeeze later queries (the round-3 driver
        # bench recorded sim_ivf_topk at 7.8 s in-suite vs a stable
        # ~2.2 s hermetic/alternating — zero code diff). The GC tick sits
        # OUTSIDE the timed window.
        spark.sparkContext._jvm.System.gc()
    return timings


def _extraction_bench(spark, n_convs: int, salt_partitions=None) -> dict:
    """Extraction throughput over the deterministic synthetic transcripts.
    Payload synthesis is excluded from the timed window (cached input)."""
    from pyspark import StorageLevel

    from ocr_spark.pipeline.extract import extract_turns
    from ocr_spark.sources.synthetic import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=n_convs)
    t = t.persist(StorageLevel.MEMORY_AND_DISK)
    n_turns = t.count()  # materialize input before timing
    t0 = time.time()
    e = extract_turns(t, salt_partitions=salt_partitions)
    out_rows = e.count()
    wall = time.time() - t0
    t.unpersist()
    assert out_rows == n_turns
    return {
        "n_turns": n_turns,
        "wall_sec": round(wall, 3),
        "turns_per_sec": round(n_turns / wall, 1),
    }


UPLOADS = "/root/reference/storage/uploads"
# the reference runs whose draft.json matches current-parser semantics
# (FIXTURES.md §2e; same list as tests/test_golden_fixtures.py)
GOLDEN_RUNS = [
    "20260119_024012_1332136f",
    "20260119_051129_444e1c22",
    "20260119_050713_b3505b7a",
    "20260119_024439_c9a1e3c5",
    "20260119_050627_655afba4",
]


def _canon_invoice(inv: dict) -> tuple:
    """Canonical comparable projection of one invoice record — every
    scalar field plus per-item tuples. metadata maps are excluded here
    (our Arrow schema stringifies their values; byte-exact metadata
    parity is pinned separately by tests/test_golden_fixtures.py)."""
    items = tuple(
        (it.get("code"), it.get("name"), it.get("description"),
         float(it.get("qty") or 0.0), it.get("unit"),
         float(it.get("unit_price") or 0.0), float(it.get("total") or 0.0))
        for it in (inv.get("items") or []))
    dt = inv.get("declared_total")
    return (inv.get("format_detected"), inv.get("supplier_name"),
            inv.get("customer_name"), inv.get("invoice_date"),
            inv.get("invoice_number"),
            None if dt is None else float(dt),
            float(inv.get("calc_total") or 0.0), inv.get("currency"), items)


def _golden_parity(spark) -> dict | None:
    """Per-record exact-match rate vs the reference's OWN draft.json
    outputs (the north-star 'per-turn text exact-match rate' evidence),
    measured through the FULL distributed path: binaryFile dir ingest →
    transcripts shape → mapInPandas extraction — not the bare kernel.
    Multiset compare, so file naming inside the pipeline is irrelevant."""
    if not os.path.isdir(UPLOADS):
        return None
    from collections import Counter

    from ocr_spark.pipeline.extract import extract_turns
    from ocr_spark.sources.ingest import files_to_transcripts, ingest_files

    expected = matched = 0
    for run in GOLDEN_RUNS:
        golden = json.load(
            open(os.path.join(UPLOADS, run, "draft.json")))["invoices"]
        files = ingest_files(spark, os.path.join(UPLOADS, run + "_files"))
        rows = (extract_turns(files_to_transcripts(files), salt_partitions=0)
                .selectExpr("explode(records) AS r").collect())
        produced = Counter(
            _canon_invoice(r.r.asDict(recursive=True)) for r in rows)
        want = Counter(_canon_invoice(g) for g in golden)
        expected += sum(want.values())
        matched += sum(min(produced[k], c) for k, c in want.items())
    return {"runs": len(GOLDEN_RUNS), "invoices_expected": expected,
            "invoices_matched": matched,
            "rate": round(matched / expected, 4) if expected else None}


def _machine_canary(spark) -> dict:
    """Fixed-work speed probe so cross-round walls are normalizable.

    This shared VM's absolute speed drifts (observed 2.1x between the
    round-1 bench and a round-2 rerun of the IDENTICAL round-1 code —
    see BENCH/BASELINE.md 'Cross-round drift evidence'; the round-4 A/B
    then caught the numpy canary swinging 3-5x WITHIN one 15-minute
    session). The canary measures the same machine the query walls were
    taken on:
      - numpy_mm_s: single-thread 1500^2 float64 matmul (median of 3)
      - spark_range_s: sum over range(200M) on all cores (median of 3)
      - spark_stages_s: a fixed two-shuffle groupBy+join+window probe
        (median of 3) — multi-stage Spark queries stress shuffle,
        codegen, and memory bandwidth that a range-sum never touches,
        so this is the number to normalize multi-stage query walls by
    Divide another round's wall by (its canary / this round's canary)
    to compare like-for-like — and even then prefer a same-session
    alternating A/B (BENCH/BASELINE.md round-4 section): intra-session
    drift makes single-point normalization ±30% at best."""
    import numpy as np
    rng = np.random.default_rng(7)
    a = rng.random((1500, 1500))
    b = rng.random((1500, 1500))
    a @ b  # warm
    mm = sorted(_timed(lambda: a @ b) for _ in range(3))[1]
    q = "sum(id * 2 + 1) AS s"
    spark.range(200_000_000).selectExpr(q).collect()  # warm
    rg = sorted(
        _timed(lambda: spark.range(200_000_000).selectExpr(q).collect())
        for _ in range(3))[1]

    def _stages():
        df = (spark.range(4_000_000)
              .selectExpr("id % 9973 AS k", "id % 101 AS v"))
        agg = df.groupBy("k").agg({"v": "sum"})
        j = df.join(agg, "k").selectExpr("k", "v", "`sum(v)` AS sv")
        j.selectExpr("k", "v + sv AS w").groupBy("k").count() \
            .orderBy("count", "k").limit(5).collect()

    _stages()  # warm (codegen compile)
    st = sorted(_timed(_stages) for _ in range(3))[1]
    return {"numpy_mm_s": round(mm, 4), "spark_range_s": round(rg, 4),
            "spark_stages_s": round(st, 4)}


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main_bench() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)

    from ocr_spark.pipeline.session import build_session
    spark = build_session(app_name="ocr-spark-bench", cores=cpus)
    try:
        # warm-up: JVM codegen + file-index caches + the Python worker
        # pool (each worker imports the kernel tree once — several
        # seconds across 32 workers that would otherwise land on the
        # first Arrow-stage query), so each timing is the query, not
        # session startup
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        from ocr_spark.pipeline.extract import extract_turns
        from ocr_spark.sources.synthetic import synthesize_transcripts
        extract_turns(synthesize_transcripts(spark, n_convs=64)
                      .repartition(cpus),  # one task per worker slot
                      salt_partitions=None).count()
        # two-point canary: the VM's speed drifts WITHIN a session (3-5x
        # numpy swing observed inside 15 minutes) — pre+post bounds the
        # weather the query walls were taken in
        canary_pre = _machine_canary(spark)
        print(f"  machine canary (pre): {canary_pre}", file=sys.stderr)
        timings = _run_queries(spark, sf_dir)
        # extraction throughput at a turn count scaled to sf
        n_convs = max(200, int(20000 * sf))
        ext = _extraction_bench(spark, n_convs=n_convs)
        parity = _golden_parity(spark)
        if parity:
            print(f"  golden parity: {parity}", file=sys.stderr)
        canary = _machine_canary(spark)
        print(f"  machine canary (post): {canary}", file=sys.stderr)
        total = round(sum(timings.values()) + ext["wall_sec"], 3)
        r1_subtotal = round(
            sum(timings[n] for n in HEADLINE_R1) + ext["wall_sec"], 3)
        result = {
            "metric": "headline queries + extraction wall time",
            "value": total,
            "unit": "sec",
            "queries": {**timings, "extract_synthetic_bench": ext["wall_sec"]},
            # like-for-like cross-round comparison: the headline set grew
            # after round 1, so the r01-comparable subtotal rides along
            "r1_comparable_subtotal": r1_subtotal,
            "n_headline_queries": len(HEADLINE),
            "sf": sf,
            "extraction": ext,
            "golden_parity": parity,
            "machine_canary": canary,
            "machine_canary_pre": canary_pre,
            "cpus": cpus,
        }
        # FULL per-query record -> repo file. The driver keeps only the
        # last 2,000 chars of stdout; round 4's 3,057-char line (91
        # per-query walls) overflowed the window and BENCH_r04.json
        # recorded parsed=null. The stdout line therefore carries only
        # the stable r01-comparable query subset and the summary
        # scalars, budgeted well under the window; everything else is
        # in BENCH/last_run.json ($OCR_BENCH_RECORD overrides the path, so
        # a smoke run never replaces the tracked record).
        root = os.path.dirname(os.path.abspath(__file__))
        record = os.environ.get("OCR_BENCH_RECORD", "BENCH/last_run.json")
        record_path = os.path.join(root, record)
        os.makedirs(os.path.dirname(record_path), exist_ok=True)
        with open(record_path, "w") as f:
            json.dump(result, f, indent=1)
        compact = {
            "metric": result["metric"],
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in HEADLINE_R1},
            "r1_comparable_subtotal": r1_subtotal,
            "n_headline_queries": len(HEADLINE),
            "sf": sf,
            "extraction": ext,
            "golden_parity": parity,
            "canary": canary,
            "canary_pre": canary_pre,
            "cpus": cpus,
            "full_queries_file": record,
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1500:  # defensive: never overflow the driver tail
            compact.pop("queries")
            compact.pop("canary_pre")
            line = json.dumps(compact, separators=(",", ":"))
        print(line)
    finally:
        spark.stop()


def _build_pyfiles_zip() -> str:
    """Package ocr_spark into dist/ocr_spark.zip for --py-files."""
    import zipfile
    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, "dist"), exist_ok=True)
    zpath = os.path.join(root, "dist", "ocr_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(root, "ocr_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return zpath


def _spark_submit_extract(cores: int, n_convs: int, zpath: str,
                          input_parquet: str | None = None,
                          salt: int | None = None,
                          repeats: int = 3,
                          pinned: bool = True,
                          pin_offset: int = 0,
                          background: bool = False):
    """Run jobs/extract_job.py via spark-submit --py-files at local[cores],
    CPU-PINNED to exactly `cores` cores with taskset (the north_rule deploy
    shape; a pinned parallelism level stands in for a cluster size in this
    sandbox — without pinning, local[N] Python workers borrow the
    machine's idle cores and the N-size baseline is inflated)."""
    import shutil
    import subprocess
    root = os.path.dirname(os.path.abspath(__file__))
    cmd = []
    if pinned and shutil.which("taskset") and cores <= (os.cpu_count() or cores):
        first = pin_offset
        cmd += ["taskset", "-c", f"{first}-{first + cores - 1}"]
    cmd += [
        "spark-submit", "--master", f"local[{cores}]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=16g",
        # G1's concurrent cycles stall 32 task threads measurably on this
        # workload (~20% throughput); the parallel collector does not
        "--conf", "spark.driver.extraJavaOptions=-XX:+UseParallelGC",
        "--conf", f"spark.sql.shuffle.partitions={max(2 * cores, 8)}",
        "--py-files", zpath,
        os.path.join(root, "jobs", "extract_job.py"),
        "--n-convs", str(n_convs),
        "--warmup-convs", str(max(100, n_convs // 15)),
        "--repeats", str(repeats),
    ]
    if input_parquet:
        cmd += ["--input-parquet", input_parquet]
    if salt is not None:
        cmd += ["--salt", str(salt)]
    if background:
        return subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True,
                                cwd=root)
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=root,
                         timeout=1800)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"spark-submit local[{cores}] failed")
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def _collect(proc, label: str) -> dict:
    out, _ = proc.communicate(timeout=1800)
    if proc.returncode != 0:
        raise RuntimeError(f"spark-submit {label} failed")
    line = [ln for ln in out.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main_scaling() -> None:
    import shutil
    import tempfile
    n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    n_large = 4 * n_small
    n_convs = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "30000"))
    machine = os.cpu_count() or 32

    zpath = _build_pyfiles_zip()
    staged = os.path.join(tempfile.gettempdir(), "ocr_spark_scale_input")
    shutil.rmtree(staged, ignore_errors=True)
    # stage the bucketed input once (unpinned, untimed) so every timed run
    # reads the identical parquet layout
    _spark_submit_extract(machine, n_convs, zpath,
                          input_parquet=staged, salt=0, repeats=1,
                          pinned=False)
    # The N and 4N configs run SIMULTANEOUSLY on disjoint pinned core sets
    # (N on cores 0..N-1, 4N on cores N..5N-1): this VM's absolute speed
    # drifts up to ~1.7x between sessions hours apart, which makes
    # sequential cross-session efficiency arithmetic meaningless (we
    # observed 0.28..1.36 for the same config pair). Concurrent runs see
    # identical machine weather; the small side runs fewer, longer repeats
    # so both timed windows overlap. Requires 5N <= machine cores.
    if 5 * n_small > machine:
        raise SystemExit(f"need {5 * n_small} cores for concurrent "
                         f"N={n_small} vs 4N={n_large}; have {machine}")

    # repeats sized so both timed windows overlap AND each median has
    # enough samples: the 4N side's wall spread within a run reaches
    # ~25% (python-worker spawn storms + memory-bandwidth weather), so
    # medians over 3/9 are the noise floor this box allows
    reps_n = int(os.environ.get("SPARK_GRAFT_SCALE_REPS_N", "3"))
    reps_4n = int(os.environ.get("SPARK_GRAFT_SCALE_REPS_4N", "9"))

    def _pair(salt):
        p_small = _spark_submit_extract(
            n_small, n_convs, zpath, input_parquet=staged, salt=salt,
            repeats=reps_n, pin_offset=0, background=True)
        p_large = _spark_submit_extract(
            n_large, n_convs, zpath, input_parquet=staged, salt=salt,
            repeats=reps_4n, pin_offset=n_small, background=True)
        small = _collect(p_small, f"local[{n_small}]")
        large = _collect(p_large, f"local[{n_large}]")
        return {n_small: small, n_large: large}

    salted = _pair(None)
    print(f"salted concurrent: {salted}", file=sys.stderr)
    maponly = _pair(0)
    print(f"map-only concurrent: {maponly}", file=sys.stderr)

    # saturation datapoint (sequential, context only): the same salted job
    # at quarter-box vs FULL box — shows where 100% occupancy, not the
    # job, caps scaling
    sat = {}
    for cores in (machine // 4, machine):
        sat[cores] = _spark_submit_extract(cores, n_convs, zpath,
                                           input_parquet=staged,
                                           repeats=3)
        print(f"saturation local[{cores}]: {sat[cores]}", file=sys.stderr)

    def _eff(res, lo, hi):
        return round(res[hi]["turns_per_sec"]
                     / res[lo]["turns_per_sec"] / (hi / lo), 3)

    eff_salted = _eff(salted, n_small, n_large)
    eff_map = _eff(maponly, n_small, n_large)
    eff_sat = _eff(sat, machine // 4, machine)

    def _row(shape, res, cores, tag):
        r = res[cores]
        return (f"| {shape} | local[{cores}] ({tag}) | {r['n_turns']} | "
                f"{r['wall_sec']} | {r['turns_per_sec']} |")

    os.makedirs("BENCH", exist_ok=True)
    # hand-maintained evidence (multi-run spread history, complementary
    # throughput datapoints) lives below the marker and survives regens
    preserved = ""
    marker = "<!-- hand-maintained sections below survive --scaling regens -->"
    try:
        old = open("BENCH/BASELINE.md").read()
        if marker in old:
            preserved = old.split(marker, 1)[1]
    except FileNotFoundError:
        pass
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH — measured extraction throughput + scaling efficiency

Same deterministic synthetic transcripts input ({salted[n_small]['n_turns']}
turns, 1% hot convs at 100x turns) extracted at two CLUSTER-SIZE stand-ins on
one machine, deployed exactly as the north_rule specifies:
`spark-submit --py-files dist/ocr_spark.zip jobs/extract_job.py` at
`--master local[{n_small}]` and `local[{n_large}]`. The two configs run
SIMULTANEOUSLY on disjoint taskset-pinned core sets (N on cores
0..{n_small - 1}, 4N on cores {n_small}..{5 * n_small - 1}) so both see
identical machine conditions — this shared VM's absolute speed drifts up to
~1.7x between sessions (fixed 2.1 GHz, no turbo; the drift is neighbor
noise), which makes sequential cross-session efficiency arithmetic
meaningless (observed 0.28..1.36 for the same pair). Pinning matters too:
unpinned local[N] lets Python workers spill onto idle cores and inflates
the small baseline ~1.5x. The bucketed parquet input is staged ONCE and
shared; a warm-up pass amortizes JVM + Python-worker startup; each config
reports the median of its timed repetitions ({reps_n} long ones at N,
{reps_4n} short ones at 4N, overlapping windows). JVM uses the parallel
collector (G1's concurrent cycles cost ~20% at 32 task threads on this
workload). Residual run-to-run spread of the pair efficiency on this box
is ~±0.06 (python-worker spawn storms + memory-bandwidth weather survive
pinning); the round-2 kernels do strictly more python-side work per turn
(generic HTML + PDF payload kinds joined the mix), which raises that
contention relative to round 1.

Two job shapes over the identical staged input:
- **salted** (the default job): scan → bucket-aligned range shuffle on
  (bucket, conv_id, turn_idx block) → mapInPandas extraction. Timing
  includes the one shuffle.
- **map-only** (`--salt 0`): scan → mapInPandas, zero shuffles — the shape
  of an input already bucketed by the table layout (Iceberg).

| Shape | Config | Turns | Wall (s) | Throughput (turns/s) |
|---|---|---|---|---|
{_row('salted', salted, n_small, 'N')}
{_row('salted', salted, n_large, '4N')}
{_row('map-only', maponly, n_small, 'N')}
{_row('map-only', maponly, n_large, '4N')}
{_row('salted', sat, machine // 4, 'sat-N')}
{_row('salted', sat, machine, 'sat-4N')}

**Scaling efficiency N→4N = (tput_4N / tput_N) / 4:
salted = {eff_salted}, map-only = {eff_map}** (target ≥ 0.8, north_rule).

Saturation context: the same pair run at local[{machine // 4}] vs
local[{machine}] (the FULL machine) yields {eff_sat} — at 100% box
occupancy the OS, GC threads, Python daemons, and memory bandwidth compete
with task threads, which is a single-box artifact, not a property of the
job: on a real multi-executor cluster each executor keeps this headroom.
The extraction stage is embarrassingly parallel after the salt shuffle, so
efficiency tracks CPU scaling wherever cores are genuinely available.

{marker}{preserved}""")
    print(json.dumps({
        "metric": "scaling efficiency N->4N",
        "value": eff_salted,
        "unit": "ratio",
        "queries": {f"salted_local[{n_small}]": salted[n_small]["wall_sec"],
                    f"salted_local[{n_large}]": salted[n_large]["wall_sec"],
                    f"maponly_local[{n_small}]": maponly[n_small]["wall_sec"],
                    f"maponly_local[{n_large}]": maponly[n_large]["wall_sec"]},
        "efficiency": {"salted": eff_salted, "map_only": eff_map,
                       "full_machine_saturation": eff_sat},
        "throughput": {
            f"salted_local[{n_small}]": salted[n_small]["turns_per_sec"],
            f"salted_local[{n_large}]": salted[n_large]["turns_per_sec"],
            f"maponly_local[{n_small}]": maponly[n_small]["turns_per_sec"],
            f"maponly_local[{n_large}]": maponly[n_large]["turns_per_sec"]},
    }))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        main_scaling()
    else:
        main_bench()
