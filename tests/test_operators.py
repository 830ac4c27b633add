"""Operator-layer correctness: every Spark query vs its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01). Order-insensitive:
rows are compared as sorted tuples with doubles rounded."""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not available")


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    # DESCRIBE gives real DuckDB type names (BIGINT / HUGEINT / DOUBLE ...);
    # the DBAPI cursor description only exposes generic NUMBER/STRING codes.
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    dtypes = {r[0]: r[1] for r in desc}
    res = con.execute(sql)
    rows = res.fetchall()
    cols = [d[0] for d in res.description]
    return rows, cols, [dtypes.get(c, "?") for c in cols]


def _duck_type_tag(duck_type: str) -> str:
    """Coarse type family for the oracle-vs-spark dtype check. HUGEINT is
    deliberately its own tag: the driver's value hash distinguishes DuckDB
    HUGEINT (int128, from a bare SUM(integer)) from Spark bigint even when
    every value is identical — the round-1 failure class. Oracle SQLs must
    CAST integer sums to BIGINT."""
    t = duck_type.upper()
    if t == "HUGEINT":
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") or t.startswith("UINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    return "other"


def _spark_type_tag(spark_type: str) -> str:
    t = spark_type.lower()
    if t in ("tinyint", "smallint", "int", "bigint", "byte", "short", "integer", "long"):
        return "int"
    if t in ("float", "double") or t.startswith("decimal"):
        return "float"
    return "other"


def _canon(rows, cols):
    """Column-name-sorted, value-normalized, order-insensitive row set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr), [cols[i] for i in order]


def _all_queries():
    from ocr_spark.operators import ALL_QUERIES
    return ALL_QUERIES


QUERY_ITEMS = sorted(_all_queries().items())


@pytest.mark.parametrize("name", [n for n, (f, s) in QUERY_ITEMS if s])
def test_query_matches_oracle(spark, name):
    fn, sql = _all_queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    drows, dcols, ddtypes = _duck(sql)
    sc, scol_names = _canon(srows, scols)
    dc, dcol_names = _canon(drows, dcols)
    assert scol_names == dcol_names, f"{name}: column mismatch {scol_names} != {dcol_names}"
    # dtype-family check: catches DuckDB HUGEINT (bare SUM(int)) vs Spark
    # bigint, which the driver's value hash flags even with identical values
    sdtypes = dict(sdf.dtypes)
    for col, dtype in zip(dcols, ddtypes):
        dt, st = _duck_type_tag(dtype), _spark_type_tag(sdtypes[col])
        assert dt == st, (
            f"{name}.{col}: oracle type {dtype} ({dt}) vs spark "
            f"{sdtypes[col]} ({st}) — cast the oracle SUM to BIGINT")
    assert len(sc) == len(dc), f"{name}: row count {len(sc)} != {len(dc)}"
    mismatches = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row diffs; first: "
        f"{sc[mismatches[0]]} != {dc[mismatches[0]]}")


@pytest.mark.parametrize("name", [n for n, (f, s) in QUERY_ITEMS if not s])
def test_rows_only_queries_run(spark, name):
    fn, _ = _all_queries()[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as E
    df = E.entry(spark)
    assert df.count() > 0
    assert set(E.oracle_sql()) <= set(E.queries())


def test_ivf_recall_vs_bruteforce(spark):
    """IVF ANN must recover most of the brute-force top-10 (it probes
    4/16 cells, so it is approximate — recall, not equality). The floor
    is 0.8, reachable since the Lloyd-refined centroids (N_IVF_ITERS
    k-means steps over the deterministic seed) replaced raw seeding."""
    from ocr_spark.operators.corpus import sim_cosine_topk, sim_ivf_topk
    bf = {(r.query_id, r.cand_id) for r in sim_cosine_topk(spark, SF_DIR).collect()}
    ivf = {(r.query_id, r.cand_id) for r in sim_ivf_topk(spark, SF_DIR).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.8, f"IVF recall {recall:.2f} below floor"


def test_lsh_degenerate_bucket_bounded_fanout(spark):
    """A degenerate LSH bucket (here: 200 identical docs, one signature)
    must NOT explode O(n²) pairs: above MAX_LSH_BUCKET the star pattern
    emits exactly n-1 pairs per band, preserving cluster connectivity
    with bounded fan-out. A small bucket still emits all pairs."""
    from ocr_spark.functions.minhash import N_BANDS
    from ocr_spark.operators import corpus as C

    rows = ([(i, "the same boilerplate text repeated again and again here")
             for i in range(200)]
            + [(1000 + i, f"unique document number {i} with its own words "
                          f"entirely distinct content {i * 7}")
               for i in range(3)])
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        pairs = C.dd_minhash_lsh(spark, d).collect()
    degenerate = [p for p in pairs if p.doc_a < 1000 and p.doc_b < 1000]
    # star: every member pairs with doc 0 only -> n-1 pairs, all bands agree
    assert len(degenerate) == 199
    assert all(p.doc_a == 0 for p in degenerate)
    assert all(p.n_band_collisions == N_BANDS for p in degenerate)


def test_ivf_deterministic_under_partitioning(spark, tmp_path):
    """The IVF quantizer trains on a driver-side sample sorted by vec_id
    (corpus._ivf_centroids), so centroids — and therefore the returned
    top-k — must not depend on the input partition layout."""
    import os

    from ocr_spark.operators.corpus import sim_ivf_topk
    a = [tuple(r) for r in sim_ivf_topk(spark, SF_DIR).collect()]
    d = str(tmp_path / "ivf_clone")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb.repartition(11).write.parquet(os.path.join(d, "embeddings.parquet"))
    b = [tuple(r) for r in sim_ivf_topk(spark, d).collect()]
    assert a == b


def test_f4_gate_stable_under_partitioning(spark):
    """The integer-cents tolerance gate must be bit-stable across
    partition counts — the failure mode ROUND-of-double-sums has
    (summation order flips the cent at edges under parallel partials)."""
    from ocr_spark.operators.relational import f4_tolerance_gate
    base = None
    for parts in (1, 7, 32):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            got = sorted(map(tuple, f4_tolerance_gate(spark, SF_DIR).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        if base is None:
            base = got
        assert got == base, f"gate flipped at shuffle.partitions={parts}"


def test_w3_microsecond_gap_boundary(spark):
    """Sub-second gap straddles must sessionize identically to the oracle:
    299.9999s is one session, exactly 300.000000s splits (>= boundary)."""
    import datetime as dt
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 1, "a", 0.0, "{}"),
        (2, t0 + dt.timedelta(seconds=299, microseconds=999999), 1, "a", 0.0, "{}"),
        (3, t0 + dt.timedelta(seconds=600), 1, "a", 0.0, "{}"),  # +300.000001
        (4, t0 + dt.timedelta(seconds=900), 2, "a", 0.0, "{}"),
        (5, t0 + dt.timedelta(seconds=1200), 2, "a", 0.0, "{}"),  # exactly 300
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    import os
    import tempfile
    from ocr_spark.operators.relational import w3_gap_sessionize
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {r.user_id: (r.n_sessions, r.n_events)
               for r in w3_gap_sessionize(spark, d).collect()}
    assert got[1] == (2, 3)  # 299.9999 merges, 300.000001 splits
    assert got[2] == (2, 2)  # exactly 300 splits (>= boundary)


def test_dup_clusters_match_union_find(spark):
    """dd_dup_clusters (iterative min-label propagation) must produce the
    same components as a driver-side union-find over the same edge set —
    planted duplicate groups included."""
    from ocr_spark.functions import frames
    from ocr_spark.operators import corpus as C

    rows = []
    # three planted duplicate groups of sizes 2, 3, 4 + unique docs
    for g, size in ((0, 2), (1, 3), (2, 4)):
        for k in range(size):
            rows.append((100 * g + k,
                         f"identical group {g} payload words repeated here "
                         f"for everyone in the group to share"))
    rows += [(900 + i, f"completely unique text number {i} nothing shared "
                       f"with anything else at all {i * 13}")
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        # small-graph (driver union-find) path — the default at this size
        clusters = C.dd_dup_clusters(spark, d).collect()
        # force the distributed min-label loop and require the identical
        # result: both paths must converge to the same fixpoint
        small = frames.SMALL_GRAPH_MAX_PAIRS
        frames.SMALL_GRAPH_MAX_PAIRS = -1
        try:
            clusters_dist = C.dd_dup_clusters(spark, d).collect()
        finally:
            frames.SMALL_GRAPH_MAX_PAIRS = small
        assert sorted(map(tuple, clusters)) == sorted(map(tuple,
                                                          clusters_dist))
        lsh = C.dd_minhash_lsh(spark, d).collect()

    # union-find over the identical edge set (exact edges are implied by
    # identical text; lsh pairs collected above)
    parent = {r[0]: r[0] for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_text = {}
    for doc_id, text in rows:
        by_text.setdefault(text, []).append(doc_id)
    for ids in by_text.values():
        for other in ids[1:]:
            union(ids[0], other)
    for p in lsh:
        union(p.doc_a, p.doc_b)

    expected = {}
    for doc_id, _ in rows:
        expected.setdefault(find(doc_id), []).append(doc_id)
    expected = {root: sorted(m) for root, m in expected.items() if len(m) > 1}

    got = {r.cluster_id: (r.n_docs, r.keep_id) for r in clusters}
    assert set(got) == set(expected)
    for root, members in expected.items():
        assert got[root] == (len(members), members[0])


def test_semantic_dup_planted_copies(spark):
    """dd_semantic_dup on sf0.001: the planted exact copies (identical
    vectors — same k-means cell by construction) must each lose exactly
    one member, the dropped one must be the planted +1000000 id (cd2
    ties -> min vec_id keeps the original), and no organic vector may be
    dropped (the corpus tops out at cosine ~0.47)."""
    from ocr_spark.operators import corpus as C

    sf = "/root/testdata/sf0.001"
    planted_src = {r.vec_id for r in
                   spark.read.parquet(f"{sf}/embeddings.parquet")
                   .where("vec_id % 10 = 0").select("vec_id").collect()}
    got = {r.vec_id: r.keep_id
           for r in C.dd_semantic_dup(spark, sf).collect()}
    assert set(got) == {v + 1000000 for v in planted_src}
    for v in planted_src:
        assert got[v + 1000000] == v


def _ref_bpe(texts, k):
    """Pure-Python BPE trainer: word-frequency table, then k rounds of
    most-frequent-adjacent-pair argmax (count desc, lexicographic (l, r)
    tie order) + greedy left-to-right merge — the semantics
    bpe_train_merges must reproduce exactly."""
    from collections import Counter
    wf = Counter()
    for t in texts:
        for w in (t or "").lower().split():
            wf[w] += 1
    vocab = [(list(w), f) for w, f in wf.items()]
    merges = []
    for rank in range(1, k + 1):
        pc = Counter()
        for syms, f in vocab:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, n))
        new_vocab = []
        for syms, f in vocab:
            i, acc = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left \
                        and syms[i + 1] == right:
                    acc.append(left + right)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            new_vocab.append((acc, f))
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    """bpe_train_merges must learn the exact merge list (order, pairs,
    counts) a pure-Python BPE trainer learns on the same corpus —
    including merges of previously-merged symbols (multi-round
    dependencies) and the lexicographic tie order."""
    from ocr_spark.operators import corpus as C

    texts = [
        "the theater there is thebest thething",
        "the the the banana bandana ananas",
        "low lower lowest newest newer new",
        "aaaa aaa aa baaab",  # overlapping-pair greedy-merge edges
    ] * 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = [(r.merge_rank, r.left, r.right, r.pair_count)
               for r in C.bpe_train_merges(spark, d).collect()]
    expected = _ref_bpe(texts, C.BPE_TRAIN_MERGES)
    assert got == expected
    assert len(got) == C.BPE_TRAIN_MERGES  # corpus is rich enough for all k


def test_cluster_canonical_keeps_longest(spark):
    """dd_cluster_canonical must keep the LONGEST member of each cluster
    (ties -> min doc_id), distinguishing it from dd_dup_clusters' min-id
    rule: a cluster whose longest member has the HIGHEST doc_id must
    still elect it."""
    from ocr_spark.operators import corpus as C

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen")
    rows = [
        # near-dup cluster: 101 and 105 are exact copies (after
        # whitespace normalization), 109 is the same text with a tail
        # appended — longest, and the max doc_id
        (101, base),
        (105, base.replace(" beta ", "  beta ")),
        (109, base + " plus six extra boilerplate tail words"),
        # exact-dup cluster of equal lengths: tie-break -> min id
        (200, "identical short duplicate payload shared by this pair "
              "of documents exactly word for word"),
        (201, "identical short duplicate payload shared by this pair "
              "of documents exactly word for word"),
        # singletons — must not appear
        (900, " ".join(f"unique{j}stuff" for j in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.cluster_id: (r.n_docs, r.keep_id, r.keep_tokens)
               for r in C.dd_cluster_canonical(spark, d).collect()}
    assert got[101] == (3, 109, 38 + 6)   # longest wins over min id
    assert got[200] == (2, 200, 14)       # equal lengths -> min id
    assert 900 not in got


def test_simhash_recovers_planted_mutations(spark):
    """Banded-Hamming SimHash must pair a document with its lightly
    mutated copy (one token changed out of ~40) and must NOT pair
    unrelated documents."""
    from ocr_spark.operators import corpus as C

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen")
    rows = []
    for g in range(5):
        text = base.replace("alpha", f"prefix{g}")
        rows.append((10 * g, text))
        rows.append((10 * g + 1, text.replace("seven", "modified")))
    rows += [(900 + i,
              " ".join(f"unrelated{i}word{j}" for j in range(40)))
             for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        pairs = {(p.doc_a, p.doc_b) for p in C.dd_simhash(spark, d).collect()}
    # the 4×16 banding guarantees collision for hamming <= 3; these three
    # groups measure hamming 3/2/2 for the one-token mutation (the other
    # two land at 4 — past the threshold, legitimately not reported)
    for g in (1, 2, 3):
        assert (10 * g, 10 * g + 1) in pairs, f"mutated pair {g} missed"
    assert all(a < 900 and b < 900 for a, b in pairs), \
        "unrelated docs must not pair"


def test_simhash_degenerate_bucket_pair_complete(spark):
    """Signature-collapse regression: 100 byte-identical docs blow past
    MAX_LSH_BUCKET members per band bucket, but because grouping is at
    the signature level the bucket holds ONE group — identity pairs come
    out as the (first, other) star and the near-mutation still cross-
    pairs against EVERY member (old member-level star-cap emitted only
    docs[0] edges and silently dropped the rest)."""
    from ocr_spark.operators import corpus as C

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, base) for i in range(100)]
    rows.append((500, base.replace("tok7", "changed")))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = C.dd_simhash(spark, d).collect()
    pairs = {(p.doc_a, p.doc_b): p.hamming for p in out}
    for i in range(1, 100):
        assert pairs.get((0, i)) == 0, f"identity star edge (0,{i}) missing"
    cross = {p for p in pairs if p[1] == 500}
    if cross:  # mutation within hamming<=3 of the base signature
        assert cross == {(i, 500) for i in range(100)}, \
            "verified cross-signature pair must expand to every member"
        assert len({pairs[p] for p in cross}) == 1


def test_lsh_topk_recall_and_lift(spark):
    """Multiprobe LSH ANN on the near-uniform testdata (angular-LSH worst
    case): recall must clear 0.5 AND beat random sampling of the same
    probed fraction by >= 1.3x — the evidence it exploits angular
    structure rather than just reading 34% of the corpus."""
    from ocr_spark.functions.frames import N_LSH_MULTIPROBE, N_LSH_TOPK_PLANES
    from ocr_spark.operators import corpus as C
    bf = {(r.query_id, r.cand_id)
          for r in C.sim_cosine_topk(spark, SF_DIR).collect()}
    lsh = {(r.query_id, r.cand_id)
           for r in C.sim_lsh_topk(spark, SF_DIR).collect()}
    recall = len(bf & lsh) / len(bf)
    n_buckets = 1 << N_LSH_TOPK_PLANES
    probed = sum(1 for m in range(n_buckets)
                 if bin(m).count("1") <= N_LSH_MULTIPROBE) / n_buckets
    assert recall >= 0.5, f"LSH recall {recall:.2f} below floor"
    assert recall >= 1.3 * probed, \
        f"no lift over random: recall {recall:.2f} vs probed {probed:.2f}"


def test_conv_neardup_recovers_planted_duplicate_conversations(spark):
    """Conversation-grain near-dup must pair conversations whose ASSEMBLED
    text is a light mutation of another's, and not pair unrelated ones."""
    from ocr_spark.functions.minhash import (lsh_candidate_pairs,
                                             minhash_bands,
                                             minhash_sig_stage)
    from pyspark.sql import functions as F

    base_turns = [f"turn {i}: the quick brown fox jumps over the lazy dog "
                  f"number {i} in the standard test conversation"
                  for i in range(6)]
    rows = []
    for t_idx, txt in enumerate(base_turns):
        rows.append(("conv-A", t_idx, txt))
        # conv-B = conv-A with one word changed in one turn
        rows.append(("conv-B", t_idx,
                     txt.replace("lazy", "sleepy") if t_idx == 3 else txt))
        rows.append(("conv-C", t_idx,
                     f"turn {t_idx}: completely different content about "
                     f"warehouse logistics and inventory rotation {t_idx * 9}"))
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    assembled = (t.groupBy("conv_id")
                 .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
                      .alias("turns"))
                 .select("conv_id", F.concat_ws("\n", F.transform(
                     F.col("turns"), lambda s: s["text"])).alias("text")))
    docs = assembled.select(F.xxhash64("conv_id").alias("doc_id"), "text",
                            "conv_id")
    ids = {r.doc_id: r.conv_id for r in docs.select("doc_id", "conv_id").collect()}
    sigs = docs.select("doc_id", "text").mapInPandas(
        minhash_sig_stage(), "doc_id long, sig array<long>")
    pairs = {(ids[p.doc_a], ids[p.doc_b]) if ids[p.doc_a] < ids[p.doc_b]
             else (ids[p.doc_b], ids[p.doc_a])
             for p in lsh_candidate_pairs(minhash_bands(sigs)).collect()}
    assert ("conv-A", "conv-B") in pairs, "near-dup conversations missed"
    assert not any("conv-C" in p for p in pairs), "unrelated conv paired"

def test_incremental_dedup_planted_verdicts(spark, tmp_path):
    """dd_incremental must flag exactly the batch docs that replay a
    corpus doc's text (doc_id % 20 == 7 by construction) as dups — with
    dup_of pointing at the donor — and the unique-suffixed rest as new,
    at any input partitioning."""
    import os

    from ocr_spark.operators.corpus import dd_incremental

    docs = [(i, f"unique document body number {i} with its own words",
             "en", "s", 40) for i in range(40)]
    d = str(tmp_path / "incr")
    sdf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sdf.write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in dd_incremental(spark, d).collect()}
    assert set(rows) == {7, 17, 27, 37}
    assert rows[7].status == "dup" and rows[7].dup_of == 0
    assert rows[27].status == "dup" and rows[27].dup_of == 20
    assert rows[17].status == "new" and rows[17].dup_of is None
    assert rows[37].status == "new"
    # partition invariance: the verdicts are a pure function of content
    sdf.repartition(7).write.parquet(
        os.path.join(str(tmp_path / "incr2"), "documents.parquet"))
    rows2 = {r.doc_id: (r.status, r.dup_of)
             for r in dd_incremental(spark, str(tmp_path / "incr2")).collect()}
    assert rows2 == {k: (v.status, v.dup_of) for k, v in rows.items()}


def test_url_dup_planted_variants(spark, tmp_path):
    """dd_url_dup must collapse synthesized fetch variants of one
    resource: ids 212/1212/2212 share (id%50, id%1000) so they normalize
    to the same URL despite differing in scheme (http/https), host case
    (2212%7==0 -> 'EXAMPLE'), and fragment — while 999 is a singleton."""
    import os

    from ocr_spark.operators.corpus import dd_url_dup

    ids = [212, 1212, 2212, 999]
    d = str(tmp_path / "url")
    spark.createDataFrame(
        [(i, f"body {i}", "en", "s", 10) for i in ids],
        "doc_id long, text string, lang string, source string, "
        "n_chars long").write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in dd_url_dup(spark, d).collect()}
    assert set(rows) == set(ids)
    trio = [rows[i] for i in (212, 1212, 2212)]
    assert len({r.url_key for r in trio}) == 1
    assert len({r.url_norm for r in trio}) == 1
    assert trio[0].url_norm == "example12.com/docs/page-212?a=1&b=2"
    assert all(r.canonical_id == 212 and r.n_variants == 3 for r in trio)
    assert rows[212].status == "canonical"
    assert rows[1212].status == "dup" and rows[2212].status == "dup"
    assert rows[999].status == "canonical" and rows[999].n_variants == 1
    assert rows[999].url_key != rows[212].url_key


def test_conv_stats_hand_computed(spark, tmp_path):
    """conv_stats on a corpus small enough to check by hand: one conv of
    four docs (ids 0, 50, 100, 150 -> conv-000000) with known roles
    (id%4: user/assistant/tool/system), one tool turn, and ts spaced
    doc_id*7 seconds apart."""
    import os

    from ocr_spark.operators.extraction import conv_stats

    docs = [(i, "x" * (i + 10), "en", "s", i + 10)
            for i in (0, 50, 100, 150, 1, 51)]
    d = str(tmp_path / "convs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.conv_id: r for r in conv_stats(spark, d).collect()}
    c0 = rows["conv-000000"]
    assert c0.n_turns == 4
    # roles by doc_id % 4: 0->user, 50->tool, 100->user, 150->tool
    assert c0.n_user == 2 and c0.n_assistant == 0 and c0.n_tool_turns == 2
    # doc 50 % 3 = 2 -> browser; doc 150 % 3 = 0 -> search
    assert c0.n_distinct_tools == 2
    assert c0.total_chars == 10 + 60 + 110 + 160
    assert c0.max_turn_chars == 160
    assert c0.span_seconds == 150 * 7
    c1 = rows["conv-000001"]
    # 1->assistant, 51->system
    assert c1.n_turns == 2 and c1.n_assistant == 1 and c1.n_tool_turns == 0
    assert c1.n_distinct_tools == 0 and c1.span_seconds == 50 * 7


def test_incremental_neardup_planted_verdicts(spark, tmp_path):
    """Batch docs that lightly mutate a corpus doc's text (planted at
    doc_id % 20 == 7) must band-collide with their donor; batch docs
    with per-doc disjoint vocabularies must come back 'new'."""
    import os

    from ocr_spark.operators.corpus import dd_incremental_neardup

    docs = [(i, " ".join(f"d{i}w{j}" for j in range(60)),
             "en", "s", 0) for i in range(40)]
    d = str(tmp_path / "incrnd")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in
            dd_incremental_neardup(spark, d).collect()}
    assert set(rows) == {7, 17, 27, 37}
    # planted replays (7, 27) carry doc_id-7's text + a 3-token suffix:
    # jaccard ~0.95 -> at least one of the 4 bands collides with the
    # donor (deterministic for this fixed corpus)
    assert rows[7].status == "near_dup" and rows[7].match_id == 0
    assert rows[27].status == "near_dup" and rows[27].match_id == 20
    assert rows[7].n_band_hits >= 1
    # disjoint-vocab batch docs share no shingles with any corpus doc
    assert rows[17].status == "new" and rows[17].match_id is None
    assert rows[37].status == "new" and rows[37].n_band_hits == 0


def test_lsh_candidate_pairs_never_collects_degenerate_bucket(spark):
    """The pair generator must bound EVERY row it materializes: a
    degenerate bucket (here 10⁵ members — a boilerplate cluster) emits
    its star pairs as a map-only projection, never as one collect_list
    array (the old shape held the whole bucket in a single aggregation
    row). Pinned two ways: the optimized plan filters the collect_list
    input to n <= MAX_LSH_BUCKET, and a 10⁵-member bucket round-trips
    with exact star output."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.minhash import (MAX_LSH_BUCKET,
                                             lsh_candidate_pairs)

    n = 100_000
    big = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("band"),
        F.lit(111).cast("long").alias("band_hash"))
    small = spark.createDataFrame(
        [(5, 1, 222), (9, 1, 222)], "doc_id long, band int, band_hash long")
    pairs = lsh_candidate_pairs(big.unionByName(small))

    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan
    # the only collect sits above the n <= cap filter
    assert f"<= {MAX_LSH_BUCKET})" in plan

    rows = pairs.collect()
    got = {(r.doc_a, r.doc_b): r.n_band_collisions for r in rows}
    assert got.pop((5, 9)) == 1
    assert len(got) == n - 1
    assert all(a == 0 and cnt == 1 for (a, _b), cnt in got.items())


def test_emb_neardup_blocked_groups_bounded_and_pair_complete(spark, tmp_path,
                                                              monkeypatch):
    """The embedding near-dup verifier must never hold a whole degenerate
    bucket in one task: a 330-strong same-direction cluster (every pair
    cosine exactly 1.0, identical band codes everywhere) with the cap
    forced to 50 must (a) split every verify group to <= 2*cap rows and
    (b) still recover ALL C(330,2) pairs — block-splitting is
    pair-complete, and cross-band duplicates collapse in the final
    distinct."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.operators import corpus as C

    monkeypatch.setattr(C, "EMB_BUCKET_CAP", 50)
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    # vec_id % 10 == 0 rows get a planted 2x copy (operator convention):
    # 300 organic + 30 planted = 330, all the same direction
    rows = [(i, [float(x) for x in base * (1.0 + i)]) for i in range(300)]
    d = str(tmp_path / "embdir")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(os.path.join(d, "embeddings.parquet"))

    coded = (spark.read.parquet(os.path.join(d, "embeddings.parquet"))
             .select("vec_id",
                     F.col("embedding").cast("array<double>").alias("vec"))
             .mapInPandas(C._neardup_band_stage(),
                          "vec_id long, codes array<long>, vec array<double>"))
    max_group = (C._emb_blocked(coded)
                 .groupBy("band", "bkt", "bi", "bj").count()
                 .agg(F.max("count")).collect()[0][0])
    assert max_group is not None and max_group <= 2 * 50

    pairs = C.dd_embedding_neardup(spark, d).collect()
    n = 330
    assert len(pairs) == n * (n - 1) // 2
    assert all(p.cosine == 1.0 for p in pairs)


def test_ngram_jaccard_bounded_posting_and_df_cap(spark, tmp_path):
    """Pair generation must bound memory BEFORE pairing: the document-
    frequency join keeps only df <= DF_CAP occurrences, so a boilerplate
    shingle (here: 150 identical docs, every shingle at df=150) never
    reaches the self-join — and those shingles drop out of the jaccard
    universe entirely, while a planted near-dup pair with informative
    shingles is still recovered exactly. No posting array is ever
    materialized (no collect_list anywhere in the plan): pairs come from
    a keyed self-join whose per-key output is <= C(DF_CAP, 2) rows."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus import DF_CAP, dd_ngram_jaccard

    boiler = [(i, "all rights reserved terms of service apply here")
              for i in range(150)]
    planted = [(1000, "quick brown fox jumps over the lazy sleeping dog"),
               (1001, "quick brown fox jumps over the lazy sleeping cat")]
    df = spark.createDataFrame(boiler + planted, "doc_id long, text string")
    sf = str(tmp_path / "sf")
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    res = dd_ngram_jaccard(spark, sf)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan, \
        "no row may hold a posting array — pairing is a keyed self-join"
    # the df-cap filter sits on the count aggregation feeding the join,
    # i.e. BEFORE any shingle reaches the pair-generating self-join
    assert f"<= {DF_CAP})" in plan

    rows = res.collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1000, 1001)]
    # 9 tokens -> 7 shingles; the pair shares the first 6 -> 6/8
    assert rows[0].n_common == 6 and abs(rows[0].jaccard - 0.75) < 1e-9


def test_minhash_verified_prunes_band_collisions(spark, tmp_path):
    """Two-stage fuzzy dedup semantics: banding alone over-reports (a
    subset doc shares a whole band with its superset at jaccard 0.29),
    and the exact-jaccard verification must prune it while keeping the
    true near-dup pair. Both pairs provably collide in a band first —
    the test asserts the candidate stage saw them, so the pruning is the
    verifier's doing, not luck."""
    from ocr_spark.functions.minhash import (lsh_candidate_pairs,
                                             minhash_bands,
                                             minhash_sig_stage)
    from ocr_spark.operators.corpus import dd_minhash_verified

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    tail = ("kilo lima mike november oscar papa quebec romeo sierra tango "
            "uniform victor whiskey xray yankee zulu one two three four")
    docs = [(1, base), (2, base + " " + tail),
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "the quick brown fox jumps over the lazy dog tonight")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sf = str(tmp_path / "sf")
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    sigs = df.mapInPandas(minhash_sig_stage(), "doc_id long, sig array<long>")
    cand = {(r.doc_a, r.doc_b)
            for r in lsh_candidate_pairs(minhash_bands(sigs)).collect()}
    assert {(1, 2), (10, 11)} <= cand

    rows = dd_minhash_verified(spark, sf).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(10, 11)]
    # 8 shingles each, 7 shared -> floor(7/9 * 10000)
    assert rows[0].n_common == 7 and rows[0].jaccard_bp == 7777


def test_bpe_pair_counts_hand_computed(spark, tmp_path):
    """Adjacent-pair frequencies on a hand corpus: 'lo w' dominates (the
    classic BPE example), ties break on the pair string, single-token
    docs contribute nothing."""
    import os

    from ocr_spark.operators.corpus import txt_bpe_pair_counts

    docs = [
        (0, "lo w lo w lo w", "en", "s", 14),   # 'lo w' x3, 'w lo' x2
        (1, "lo w er", "en", "s", 7),           # 'lo w', 'w er'
        (2, "solo", "en", "s", 4),              # no pairs
        (3, "  lo   w  ", "en", "s", 10),       # empty tokens filtered
    ]
    d = str(tmp_path / "bpe")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = [(r.pair, r.n_occ) for r in txt_bpe_pair_counts(spark, d).collect()]
    assert rows[0] == ("lo w", 5)
    assert ("w lo", 2) in rows
    assert ("w er", 1) in rows
    assert all(not p.startswith(" ") and "  " not in p for p, _ in rows)


def test_conv_dialogue_balance_hand_computed(spark, tmp_path):
    """Dialogue-shape signals on the synthesized transcript arithmetic:
    conv-000000 (docs 0,50,100,150 -> user/tool/user/tool) alternates
    every turn, has zero assistant share, starts with user; a single-turn
    conv reports alt_bp = -1."""
    import os

    from ocr_spark.operators.extraction import conv_dialogue_balance

    docs = [(i, "x" * (i + 10), "en", "s", i + 10)
            for i in (0, 50, 100, 150, 1)]
    d = str(tmp_path / "bal")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.conv_id: r for r in conv_dialogue_balance(spark, d).collect()}
    c0 = rows["conv-000000"]
    assert c0.n_turns == 4 and c0.n_alternations == 3
    assert c0.alt_bp == 10000          # alternates at every boundary
    assert c0.asst_share_bp == 0       # user chars only, no assistant
    assert c0.starts_user == 1 and c0.ends_assistant == 0
    c1 = rows["conv-000001"]           # doc 1 -> role assistant, 1 turn
    assert c1.n_turns == 1 and c1.alt_bp == -1
    assert c1.asst_share_bp == 10000   # all chars are assistant's
    assert c1.starts_user == 0 and c1.ends_assistant == 1


def test_pq_recall_vs_bruteforce(spark):
    """PQ + ADC shortlist + exact re-rank must recover nearly all of the
    brute-force top-10: the 4-bit codes only pick the 50-candidate
    shortlist; the final ranking is exact cosine, so the floor is higher
    than raw-ADC ANN (0.9 vs IVF's 0.8)."""
    from ocr_spark.operators.corpus import sim_cosine_topk, sim_pq_topk
    bf = {(r.query_id, r.cand_id)
          for r in sim_cosine_topk(spark, SF_DIR).collect()}
    pq = {(r.query_id, r.cand_id)
          for r in sim_pq_topk(spark, SF_DIR).collect()}
    recall = len(bf & pq) / len(bf)
    assert recall >= 0.9, f"PQ recall {recall:.2f} below floor"


def test_pq_deterministic_under_partitioning(spark, tmp_path):
    """Codebooks train on the vec_id-sorted driver sample and the ADC
    shortlist is a per-partition-top-S union whose global top-S is exact
    with vec_id tie-break — the returned top-k must not depend on the
    input partition layout."""
    import os

    from ocr_spark.operators.corpus import sim_pq_topk
    a = [tuple(r) for r in sim_pq_topk(spark, SF_DIR).collect()]
    d = str(tmp_path / "pq_clone")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb.repartition(11).write.parquet(os.path.join(d, "embeddings.parquet"))
    b = [tuple(r) for r in sim_pq_topk(spark, d).collect()]
    assert a == b


def _write_docs(spark, path, docs):
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(os.path.join(path, "documents.parquet"))


def test_conv_tool_chains_hand_computed(spark, tmp_path):
    """Tool-episode analytics on a hand-built conversation: turn order
    100(user) 150(tool/search) 250(tool/code) 300(user) 350(tool/browser)
    450(tool/search) gives two runs of length 2; the duplicated turn_idx
    150 (doc 1150, tool name 'code') must NOT create a third run or a
    fifth tool turn (distinct-turn grain) but DOES count at row grain,
    making code and search tie at 2 calls — broken by tool name."""
    from ocr_spark.operators.extraction import conv_tool_chains

    ids = [100, 150, 250, 300, 350, 450, 1150, 1]
    d = str(tmp_path / "chains")
    _write_docs(spark, d, [(i, f"text {i}", "en", "s", 10) for i in ids])
    rows = {r.conv_id: r for r in conv_tool_chains(spark, d).collect()}
    c0 = rows["conv-000000"]
    assert c0.n_tool_turns == 4
    assert c0.n_tool_runs == 2
    assert c0.max_tool_run == 2
    assert c0.top_tool == "code" and c0.top_tool_calls == 2
    c1 = rows["conv-000001"]  # doc 1 -> assistant only
    assert c1.n_tool_runs == 0 and c1.max_tool_run == 0
    assert c1.top_tool is None and c1.top_tool_calls == 0


def test_conv_turn_dedup_planted(spark, tmp_path):
    """Turn-grain dedup: two template-injected assistant turns (len%5==0,
    same len%3 bucket) collapse; two case/whitespace variants of the
    same reply collapse; a singleton template bucket is filtered out."""
    from ocr_spark.operators.extraction import conv_turn_dedup

    docs = [
        (1, "aaaaa", "en", "s", 5),            # len 5 -> template 2
        (9, "ccccc", "en", "s", 5),            # len 5 -> template 2
        (5, "b" * 10, "en", "s", 10),          # len 10 -> template 1 (solo)
        (13, "hello world", "en", "s", 11),
        (17, "Hello   WORLD", "en", "s", 13),  # normalizes to the same
    ]
    d = str(tmp_path / "turndedup")
    _write_docs(spark, d, docs)
    rows = conv_turn_dedup(spark, d).collect()
    assert len(rows) == 2
    assert all(r.n_copies == 2 and r.n_convs == 2 for r in rows)
    locs = sorted(r.first_loc for r in rows)
    assert locs == ["conv-000001#0000000001", "conv-000013#0000000013"]


def test_lm_bigram_hand_computed(spark, tmp_path):
    """Bigram bits on a corpus small enough to check by hand:
    pairs ab:3 ac:1 ba:1 -> c(a)=4, c(b)=1;
    bits(ab)=len(bin(4//3))=1, bits(ac)=len(bin(4//1))=3, bits(ba)=1.
    A one-token doc reports the -1 sentinel; stray whitespace tokens
    are filtered before pairing."""
    from ocr_spark.operators.quality import txt_lm_bigram_score

    docs = [
        (0, "a b a b", "en", "s", 7),
        (1, "a b", "en", "s", 3),
        (2, "solo", "en", "s", 4),
        (3, "  a   c ", "en", "s", 8),
    ]
    d = str(tmp_path / "bigram")
    _write_docs(spark, d, docs)
    rows = {r.doc_id: r for r in txt_lm_bigram_score(spark, d).collect()}
    assert rows[0].n_bigrams == 3 and rows[0].sum_bits == 3
    assert rows[0].mean_bits_bp == 10000
    assert rows[1].n_bigrams == 1 and rows[1].mean_bits_bp == 10000
    assert rows[2].n_bigrams == 0 and rows[2].mean_bits_bp == -1
    assert rows[3].n_bigrams == 1 and rows[3].sum_bits == 3
    assert rows[3].mean_bits_bp == 30000


def test_domain_stats_hand_computed(spark, tmp_path):
    """Per-host accounting over the synthesized URLs: the 212/1212/2212
    trio normalizes to ONE resource on example12.com (dup share
    2/3 = 6666 bp); 999 is a singleton host with zero dup share."""
    from ocr_spark.operators.corpus import dd_domain_stats

    ids = [212, 1212, 2212, 999]
    d = str(tmp_path / "domains")
    _write_docs(spark, d, [(i, f"body {i}", "en", "s", 10) for i in ids])
    rows = {r.host: r for r in dd_domain_stats(spark, d).collect()}
    assert set(rows) == {"example12.com", "example49.com"}
    e12 = rows["example12.com"]
    assert e12.n_docs == 3 and e12.n_urls == 1
    assert e12.n_tokens == 6 and e12.dup_bp == 6666
    e49 = rows["example49.com"]
    assert e49.n_docs == 1 and e49.n_urls == 1 and e49.dup_bp == 0


def test_prefix_dup_planted(spark, tmp_path):
    """Prefix dedup: two %9==0 docs with DIFFERENT bodies share the
    planted 20-word disclaimer head (same prefix key, 2 distinct full
    hashes — the 'same head, different tail' signature); two exact
    copies share both; a unique doc emits no group."""
    from ocr_spark.operators.corpus import dd_prefix_dup

    docs = [
        (9, "first unique tail body", "en", "s", 22),
        (18, "second tail entirely different words", "en", "s", 37),
        (1, "same text here", "en", "s", 14),
        (2, "same text here", "en", "s", 14),
        (4, "a lone document with its own words", "en", "s", 34),
    ]
    d = str(tmp_path / "prefix")
    _write_docs(spark, d, docs)
    rows = dd_prefix_dup(spark, d).collect()
    assert len(rows) == 2
    by_canon = {r.canonical_id: r for r in rows}
    boiler = by_canon[9]
    assert boiler.n_docs == 2 and boiler.n_distinct_full == 2
    exact = by_canon[1]
    assert exact.n_docs == 2 and exact.n_distinct_full == 1


def test_ttr_hand_computed(spark, tmp_path):
    """Type-token ratio and hapax share on hand-checkable docs: 'a b a c'
    has 4 tokens / 3 types / 2 hapaxes; an all-same doc has zero hapax
    share; an empty doc reports the -1 sentinels."""
    from ocr_spark.operators.quality import txt_ttr

    docs = [
        (0, "a b a c", "en", "s", 7),
        (1, "", "en", "s", 0),
        (2, "x x x", "en", "s", 5),
        (3, " a  b ", "en", "s", 6),
    ]
    d = str(tmp_path / "ttr")
    _write_docs(spark, d, docs)
    rows = {r.doc_id: r for r in txt_ttr(spark, d).collect()}
    assert rows[0].n_tokens == 4 and rows[0].n_types == 3
    assert rows[0].n_hapax == 2
    assert rows[0].ttr_bp == 7500 and rows[0].hapax_share_bp == 6666
    assert rows[1].n_tokens == 0
    assert rows[1].ttr_bp == -1 and rows[1].hapax_share_bp == -1
    assert rows[2].n_types == 1 and rows[2].n_hapax == 0
    assert rows[2].hapax_share_bp == 0
    assert rows[3].n_tokens == 2 and rows[3].hapax_share_bp == 10000


def test_context_growth_hand_computed(spark, tmp_path):
    """Cumulative context excludes the current turn AND its turn_idx
    peers (RANGE frame): the duplicated turn 200 rows both see only
    turns 0+100; the 9000-char turn 300 blows the 8192 budget."""
    from ocr_spark.operators.extraction import conv_context_growth

    docs = [
        (0, "x" * 10, "en", "s", 10),
        (100, "x" * 20, "en", "s", 20),
        (200, "x" * 30, "en", "s", 30),
        (1200, "x" * 40, "en", "s", 40),   # tie: also turn 200, conv 0
        (300, "x" * 9000, "en", "s", 9000),
    ]
    d = str(tmp_path / "ctx")
    _write_docs(spark, d, docs)
    rows = conv_context_growth(spark, d).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.turn_idx, []).append(r)
    assert by_key[0][0].ctx_chars == 0 and by_key[0][0].fits_budget == 1
    assert by_key[100][0].ctx_chars == 10
    assert sorted(r.n_chars for r in by_key[200]) == [30, 40]
    assert all(r.ctx_chars == 30 for r in by_key[200])  # peers excluded
    t300 = by_key[300][0]
    assert t300.ctx_chars == 10 + 20 + 30 + 40
    assert t300.fits_budget == 0


def test_reply_latency_hand_computed(spark, tmp_path):
    """Reply latency at conv_mod=25: user turn 0 is answered by
    assistant turn 25 (7s/turn-id spacing -> 175s), a trailing user turn
    is unanswered, and a conversation with no assistant at all reports
    the -1 sentinels."""
    from ocr_spark.operators.extraction import conv_reply_latency

    ids = [0, 25, 100, 125, 200, 4]
    d = str(tmp_path / "latency")
    _write_docs(spark, d, [(i, f"t {i}", "en", "s", 5) for i in ids])
    rows = {r.conv_id: r for r in conv_reply_latency(spark, d).collect()}
    c0 = rows["conv-000000"]
    assert c0.n_user == 3 and c0.n_answered == 2
    assert c0.sum_latency_s == 350 and c0.max_latency_s == 175
    assert c0.mean_latency_s == 175
    c4 = rows["conv-000004"]
    assert c4.n_user == 1 and c4.n_answered == 0
    assert c4.mean_latency_s == -1 and c4.max_latency_s == -1


def test_code_detect_hand_computed(spark, tmp_path):
    """The planted snippet carries 3 semicolons, 4 braces, 3 indented
    lines; a prose doc scores zero on every signal."""
    from ocr_spark.operators.quality import (_CODE_SNIPPET, CODE_SCORE_BP,
                                             txt_code_detect)

    docs = [(13, "plain words here", "en", "s", 16),
            (1, "no code at all", "en", "s", 14)]
    d = str(tmp_path / "code")
    _write_docs(spark, d, docs)
    rows = {r.doc_id: r for r in txt_code_detect(spark, d).collect()}
    c = rows[13]
    assert c.n_semi == 3 and c.n_brace == 4 and c.n_indent == 3
    n_chars = len("plain words here") + len(_CODE_SNIPPET)
    expected = (3 * 2 + 4 * 3 + 3 * 5) * 10000 // n_chars
    assert c.code_score_bp == expected
    assert expected >= CODE_SCORE_BP and c.is_code == 1
    p = rows[1]
    assert (p.n_semi, p.n_brace, p.n_indent) == (0, 0, 0)
    assert p.code_score_bp == 0 and p.is_code == 0


def test_emb_norm_stats_hand_computed(spark, tmp_path):
    """Embedding QA: a 3-4-5 vector lands exactly on 50000 bp, the zero
    vector flags is_zero, NaN/Inf entries are counted (the NaN row's
    norm degrades to NULL rather than poisoning a cast)."""
    from ocr_spark.operators.corpus import emb_norm_stats

    rows_in = [
        (0, [3.0, 4.0], 0),
        (1, [0.0, 0.0], 0),
        (2, [float("nan"), 1.0], 0),
        (3, [float("inf"), 0.0], 0),
    ]
    d = str(tmp_path / "embqa")
    spark.createDataFrame(
        rows_in, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    rows = {r.vec_id: r for r in emb_norm_stats(spark, d).collect()}
    assert rows[0].dim == 2 and rows[0].norm_bp == 50000
    assert rows[0].n_nonfinite == 0 and rows[0].is_zero == 0
    assert rows[1].is_zero == 1 and rows[1].norm_bp == 0
    assert rows[2].n_nonfinite == 1 and rows[2].norm_bp is None
    assert rows[3].n_nonfinite == 1


def test_role_transitions_hand_computed(spark, tmp_path):
    """conv-000000 at conv_mod=25 holds turn idxs 0/25/50/75 whose
    roles step user->assistant->tool->system; each of the three
    transitions is one third of the corpus total."""
    from ocr_spark.operators.extraction import conv_role_transitions

    d = str(tmp_path / "trans")
    _write_docs(spark, d, [(i, f"t {i}", "en", "s", 5)
                           for i in (0, 25, 50, 75)])
    rows = {(r.prev_role, r.role): r
            for r in conv_role_transitions(spark, d).collect()}
    assert set(rows) == {("user", "assistant"), ("assistant", "tool"),
                         ("tool", "system")}
    for r in rows.values():
        assert r.n == 1 and r.share_bp == 3333


def test_char_class_mix_hand_computed(spark, tmp_path):
    """doc 17 gets the planted CJK run (1 space + 8 CJK chars); the
    prose doc is pure alpha/space/punct."""
    from ocr_spark.operators.quality import txt_char_class_mix

    d = str(tmp_path / "classes")
    _write_docs(spark, d, [(17, "ab1 c", "en", "s", 5),
                           (1, "hi there!", "en", "s", 9)])
    rows = {r.doc_id: r for r in txt_char_class_mix(spark, d).collect()}
    c = rows[17]
    assert c.n_chars == 14  # "ab1 c" + " " + 8 CJK
    assert c.alpha_bp == 3 * 10000 // 14
    assert c.digit_bp == 1 * 10000 // 14
    assert c.space_bp == 2 * 10000 // 14
    assert c.cjk_bp == 8 * 10000 // 14
    assert c.other_bp == 0
    p = rows[1]
    assert p.n_chars == 9 and p.cjk_bp == 0 and p.digit_bp == 0
    assert p.alpha_bp == 7 * 10000 // 9
    assert p.other_bp == 1 * 10000 // 9  # the '!'


def test_sentence_stats_hand_computed(spark, tmp_path):
    """Three sentences of 3/2/1 words; a 32-word run-on flags 100%
    long-share; empty text reports zero sentences."""
    from ocr_spark.operators.quality import txt_sentence_stats

    runon = " ".join(["w"] * 32) + "."
    d = str(tmp_path / "sents")
    _write_docs(spark, d, [(1, "One two three. Four five! Six", "en", "s", 30),
                           (2, runon, "en", "s", len(runon)),
                           (3, "", "en", "s", 0)])
    rows = {r.doc_id: r for r in txt_sentence_stats(spark, d).collect()}
    r1 = rows[1]
    assert r1.n_sentences == 3 and r1.n_words == 6
    assert r1.mean_words_x100 == 200 and r1.long_share_bp == 0
    r2 = rows[2]
    assert r2.n_sentences == 1 and r2.n_words == 32
    assert r2.mean_words_x100 == 3200 and r2.long_share_bp == 10000
    r3 = rows[3]
    assert r3.n_sentences == 0 and r3.n_words == 0
    assert r3.mean_words_x100 == 0 and r3.long_share_bp == 0


def test_label_centroids_hand_computed(spark, tmp_path):
    """Micro-unit quantization happens per row BEFORE the sum: label 0's
    dim-1 coordinates -0.5 and 0.5 cancel exactly to centroid 0."""
    from ocr_spark.operators.corpus import emb_label_centroids

    d = str(tmp_path / "cent")
    spark.createDataFrame(
        [(0, [1.5, -0.5], 0), (1, [2.5, 0.5], 0), (2, [1.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    rows = {(r.label, r.dim_idx): r
            for r in emb_label_centroids(spark, d).collect()}
    assert rows[(0, 0)].n == 2 and rows[(0, 0)].sum_q == 4000000
    assert rows[(0, 0)].centroid_q == 2000000
    assert rows[(0, 1)].sum_q == 0 and rows[(0, 1)].centroid_q == 0
    assert rows[(1, 0)].centroid_q == 1000000
    assert rows[(1, 1)].centroid_q == 1000000


def test_refusal_scan_hand_computed(spark, tmp_path):
    """Doc 1's 5-char text triggers the injected template (a refusal);
    its conv-mate doc 101 answers normally -> 50% refusal share. Conv 3
    has one clean assistant turn -> zero share."""
    from ocr_spark.operators.extraction import conv_refusal_scan

    d = str(tmp_path / "refusals")
    _write_docs(spark, d, [(1, "aaaaa", "en", "s", 5),        # assistant, ln%5==0
                           (101, "hello world", "en", "s", 11),  # assistant
                           (53, "plain reply", "en", "s", 11)])  # assistant
    rows = {r.conv_id: r for r in conv_refusal_scan(spark, d).collect()}
    c1 = rows["conv-000001"]
    assert c1.n_assistant == 2 and c1.n_refusals == 1
    assert c1.refusal_bp == 5000 and c1.has_refusal == 1
    c3 = rows["conv-000003"]
    assert c3.n_assistant == 1 and c3.n_refusals == 0
    assert c3.refusal_bp == 0 and c3.has_refusal == 0


def test_dup_rate_by_source_hand_computed(spark, tmp_path):
    """'same text' lives in sources a (twice) and b (once): a shows one
    within-source excess copy and two cross-source docs of three. No
    doc_id here is ≡ 3 (mod 25), so syndication injection is inert."""
    from ocr_spark.operators.corpus import dd_dup_rate_by_source

    d = str(tmp_path / "duprate")
    _write_docs(spark, d, [(1, "same text", "en", "a", 9),
                           (2, "same text", "en", "b", 9),
                           (6, "unique a", "en", "a", 8),
                           (4, "same text", "en", "a", 9)])
    rows = {r.source: r for r in dd_dup_rate_by_source(spark, d).collect()}
    a = rows["a"]
    assert a.n_docs == 3 and a.n_distinct == 2 and a.within_excess == 1
    assert a.n_cross == 2 and a.cross_bp == 6666
    b = rows["b"]
    assert b.n_docs == 1 and b.within_excess == 0
    assert b.n_cross == 1 and b.cross_bp == 10000


def test_syndication_matrix_hand_computed(spark, tmp_path):
    """Docs 3 and 128 are 125 apart -> the injection rewrites both to
    wire template 0, creating the (a, b) syndication pair; doc 28 gets
    template 1 (no partner) and doc 5 is untouched original text."""
    from ocr_spark.operators.corpus import dd_syndication_matrix

    d = str(tmp_path / "synd")
    _write_docs(spark, d, [(3, "original three", "en", "a", 14),
                           (128, "original one two eight", "en", "b", 22),
                           (28, "original two eight", "en", "a", 18),
                           (5, "original five", "en", "b", 13)])
    rows = dd_syndication_matrix(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.src_a, r.src_b, r.n_shared_texts) == ("a", "b", 1)


def test_emb_dim_variance_hand_computed(spark, tmp_path):
    """Quantization precedes both moments; variance = floor of the same
    IEEE double both engines compute from the exact integer sums. A
    NULL-label row still counts (dimension QA is label-agnostic)."""
    import math

    from ocr_spark.operators.corpus import emb_dim_variance

    d = str(tmp_path / "dimvar")
    spark.createDataFrame(
        [(0, [1.5, -0.5], 0), (1, [2.5, 0.5], 0), (2, [1.0, 1.0], None)],
        "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    rows = {r.dim_idx: r for r in emb_dim_variance(spark, d).collect()}

    q0 = [1500000, 2500000, 1000000]
    r0 = rows[0]
    assert r0.n == 3 and r0.sum_q == sum(q0)
    assert r0.mean_q == math.floor(sum(q0) / 3)
    m = sum(q0) / 3.0
    s2 = sum(q * q for q in q0) / 3.0
    assert r0.var_q == math.floor(s2 - m * m)

    q1 = [-500000, 500000, 1000000]
    r1 = rows[1]
    assert r1.sum_q == sum(q1) and r1.mean_q == 333333
    m = sum(q1) / 3.0
    s2 = sum(q * q for q in q1) / 3.0
    assert r1.var_q == math.floor(s2 - m * m)


def test_emb_outliers_hand_computed(spark, tmp_path):
    """Label 0's centroid is the exact integer floor(4e6/3) per dim, and
    the farthest member ([3,3]) ranks first on the pure-integer squared
    distance; a NULL-label vector is excluded."""
    from ocr_spark.operators.corpus import emb_outliers

    d = str(tmp_path / "outliers")
    spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 1.0], 0), (2, [3.0, 3.0], 0),
         (9, [99.0, 99.0], None)],
        "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    rows = emb_outliers(spark, d).collect()
    assert [r.vec_id for r in rows] == [2, 0, 1]
    assert [r.rank for r in rows] == [1, 2, 3]
    c = (0 + 1000000 + 3000000) // 3          # 1333333 exactly (floor)
    assert rows[0].dist2_q == 2 * (3000000 - c) ** 2
    assert rows[1].dist2_q == 2 * c ** 2
    assert rows[2].dist2_q == 2 * (1000000 - c) ** 2


def test_novelty_by_source_hand_computed(spark, tmp_path):
    """Doc 2 re-sees both of doc 1's shingles (zero novelty for source b
    on that doc); doc 3 contributes one fresh shingle -> b is 1/3 novel."""
    from ocr_spark.operators.corpus import dd_novelty_by_source

    d = str(tmp_path / "novelty")
    _write_docs(spark, d, [(1, "a b c d", "en", "a", 7),
                           (2, "a b c d", "en", "b", 7),
                           (3, "x y z", "en", "b", 5)])
    rows = {r.source: r for r in dd_novelty_by_source(spark, d).collect()}
    a = rows["a"]
    assert a.n_docs == 1 and a.n_shingles == 2 and a.n_novel == 2
    assert a.novelty_bp == 10000
    b = rows["b"]
    assert b.n_docs == 2 and b.n_shingles == 3 and b.n_novel == 1
    assert b.novelty_bp == 3333


def test_verbosity_drift_hand_computed(spark, tmp_path):
    """Assistant docs 1 and 41 land in depth bucket 0 (mean 5 of 4+6
    chars, integer division), doc 101 alone in bucket 1."""
    from ocr_spark.operators.extraction import conv_verbosity_drift

    d = str(tmp_path / "verbosity")
    _write_docs(spark, d, [(1, "abcd", "en", "s", 4),       # turn 1
                           (41, "abcdef", "en", "s", 6),    # turn 41
                           (101, "abcdefghij", "en", "s", 10),  # turn 101
                           (2, "not assistant role", "en", "s", 18)])
    rows = {r.depth_bucket: r
            for r in conv_verbosity_drift(spark, d).collect()}
    assert set(rows) == {0, 1}
    b0 = rows[0]
    assert b0.n_turns == 2 and b0.sum_chars == 10
    assert b0.mean_chars == 5 and b0.max_chars == 6
    b1 = rows[1]
    assert b1.n_turns == 1 and b1.mean_chars == 10


def test_domain_cap_hand_computed(spark, tmp_path):
    """Docs 0/50/100/150/200 all normalize to host example0.com (host is
    doc_id mod 50, www/case variants folded); the cap keeps the
    DOMAIN_CAP_K=4 longest, so the shortest (doc 150, 1 char) drops."""
    from ocr_spark.operators.quality import smp_domain_cap

    d = str(tmp_path / "domcap")
    _write_docs(spark, d, [(0, "aaaa", "en", "s", 4),
                           (50, "aaa", "en", "s", 3),
                           (100, "aaaaa", "en", "s", 5),
                           (150, "a", "en", "s", 1),
                           (200, "aa", "en", "s", 2),
                           (7, "bbbb", "en", "s", 4)])  # host example7.com
    rows = {r.doc_id: r for r in smp_domain_cap(spark, d).collect()}
    assert all(r.host == "example0.com" for i, r in rows.items() if i != 7)
    assert rows[100].rk == 1 and rows[100].kept == 1
    assert rows[150].rk == 5 and rows[150].kept == 0
    assert rows[7].host == "example7.com" and rows[7].kept == 1


def test_len_quantiles_hand_computed(spark, tmp_path):
    """Five docs with lengths 1..5, type-1 discrete quantiles: 0-based
    index (n-1)*p DIV 100 -> p10 = idx 0 (value 1), p50 = idx 2
    (value 3), p90 and p99 = idx 3 (value 4 — floor semantics never
    interpolate past the sorted element)."""
    from ocr_spark.operators.quality import txt_len_quantiles

    d = str(tmp_path / "quant")
    _write_docs(spark, d, [(i, "x" * i, "en", "s", i) for i in
                           (3, 1, 5, 2, 4)])
    rows = {r.p: r for r in txt_len_quantiles(spark, d).collect()}
    assert rows[10].value == 1 and rows[10].n == 5
    assert rows[50].value == 3
    assert rows[90].value == 4 and rows[99].value == 4


def test_boilerplate_topk_hand_computed(spark, tmp_path):
    """Docs 1 and 2 share their only 10-token chunk; doc 6's chunk is
    unique and must be filtered (cross-doc chunks only)."""
    from ocr_spark.operators.quality import dd_boilerplate_topk

    d = str(tmp_path / "boiler")
    shared = "a b c d e f g h i j"
    _write_docs(spark, d, [(1, shared, "en", "s", 19),
                           (2, shared, "en", "s", 19),
                           (6, "k l m n o p q r s t", "en", "s", 19)])
    rows = dd_boilerplate_topk(spark, d).collect()
    assert len(rows) == 1
    assert (rows[0].chunk, rows[0].n_occ, rows[0].n_docs) == (shared, 2, 2)


def test_tool_latency_hand_computed(spark, tmp_path):
    """Doc 2 is a browser call at turn 2; doc 77 is the next assistant
    turn (turn 77) in the same conv-of-25 -> latency (77-2)*7 s. Doc 6
    is a search call with no assistant after it -> unanswered."""
    from ocr_spark.operators.extraction import conv_tool_latency

    d = str(tmp_path / "toollat")
    _write_docs(spark, d, [(2, "t", "en", "s", 1),    # tool 'browser'
                           (77, "a", "en", "s", 1),   # assistant, conv 2
                           (6, "t", "en", "s", 1)])   # tool 'search'
    rows = {r.tool: r for r in conv_tool_latency(spark, d).collect()}
    b = rows["browser"]
    assert b.n_calls == 1 and b.n_answered == 1
    assert b.sum_latency_s == 525 and b.mean_latency_s == 525
    s = rows["search"]
    assert s.n_calls == 1 and s.n_answered == 0
    assert s.max_latency_s == -1 and s.mean_latency_s == -1


def test_containment_catches_quote_inclusion_jaccard_misses(spark, tmp_path):
    """The asymmetric class dd_containment exists for: a short document
    wholly quoted inside a long one shares ALL of its shingles, so
    smaller-side containment is 10000bp, while jaccard = |A|/|B| falls
    under the 0.5 threshold and dd_ngram_jaccard reports NOTHING. A
    genuinely unrelated doc stays out of both, and the oracle SQL
    agrees on the planted corpus."""
    import duckdb

    from ocr_spark.operators.corpus import (DD_CONTAINMENT_SQL,
                                            dd_containment,
                                            dd_ngram_jaccard)

    quote = "the quick brown fox jumps over the lazy sleeping dog today"
    long_doc = (
        "editorial preface written long before anything else happened "
        + quote +
        " and then a sprawling analysis follows with many further "
        "remarks on style substance provenance attribution and the "
        "general state of syndicated reporting across the wider web")
    rows = [(1, quote), (2, long_doc),
            (3, "completely different content about unrelated topics "
                "nothing shared with either document at all")]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")

    got = dd_containment(spark, sf).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    r = got[0]
    # every shingle of the quote appears in the long doc
    assert r.containment_bp == 10000 and r.n_common == r.size_a
    assert r.size_b > 2 * r.size_a

    # jaccard is structurally blind to it
    assert dd_ngram_jaccard(spark, sf).collect() == []

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet/*.parquet'")
    want = [tuple(x) for x in con.execute(DD_CONTAINMENT_SQL).fetchall()]
    assert [tuple(x) for x in got] == want


def test_phash_neardup_planted_near_and_exact_dups(spark, tmp_path):
    """mm_phash_neardup recovers a slightly-perturbed image (small
    hamming pair at the signature grain), collapses byte-identical
    images into ONE signature (n_docs=2, never a self-pair), ignores
    unrelated content, and its DuckDB oracle replays the block-mean
    hash exactly from hex pairs."""
    import duckdb

    from ocr_spark.operators.multimodal import (MM_PHASH_SQL,
                                                PHASH_MAX_HAMMING,
                                                mm_phash_neardup)

    base = ("the quick brown fox jumps over the lazy dog " * 20).strip()
    nearby = base + "!"     # shifts every block boundary: hamming 4
    unrelated = ("zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg " * 18
                 ).strip().upper()
    # doc_id % 3 == 0 rows are the image slice; 3/6/9 are byte-identical
    rows = [(0, base), (3, nearby), (6, nearby), (9, nearby),
            (12, unrelated),
            (1, "audio row ignored"), (2, "video row ignored")]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")

    got = mm_phash_neardup(spark, sf).collect()
    # exactly ONE signature pair: (base) x (the 3-member identical
    # group, rep 3) — members collapse before pairing, never self-pair,
    # and the unrelated image (hamming ~30) stays out
    assert len(got) == 1
    r = got[0]
    assert (r.rep_a, r.rep_b, r.n_docs_a, r.n_docs_b) == (0, 3, 1, 3)
    assert 1 <= r.hamming <= PHASH_MAX_HAMMING

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet/*.parquet'")
    want = [tuple(x) for x in con.execute(MM_PHASH_SQL).fetchall()]
    assert [tuple(r) for r in got] == want
