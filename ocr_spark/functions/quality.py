"""Curation-gate primitives shared by the quality queries and the
curation pipelines: the Gopher repetition signals as one map-only fold,
the Gopher gate over them, and the gate thresholds both the Spark plans
and the oracle SQL embed."""

from __future__ import annotations

from pyspark.sql import functions as F

# Gopher-style gate thresholds (txt_gate_agreement and both curation
# funnels)
MIN_TOKENS = 10            # token floor
MAX_TOP_TOKEN_BP = 2000    # most-frequent token <= 20% of doc
MAX_DUP_BIGRAM_BP = 3000   # <= 30% of bigram instances repeated
MAX_SHARED_CHUNK_BP = 5000  # C4: ≥ half the chunks shared → near-dup drop

BENCH_MOD = 97        # doc_id % 97 == 0 plays the benchmark/eval set
CONTAM_NGRAM = 5

MIN_CONV_CHARS = 100     # assembled-conversation char floor
CONV_KEEP_RATE = 0.8     # deterministic sampling keep rate
CONV_BENCH_RATE = 0.125  # md5 slice of convs that plays the eval suite

# dup-bigram share (basis points) at or above which an assistant turn is
# flagged as degenerate decoding (Gopher gates documents near 0.2; looping
# generations sit far above it)
DEGEN_DUP_BP = 2000
DEGEN_MIN_TOKENS = 20


BIGINT_ONE = "CAST(1 AS BIGINT)"
BIGINT_ZERO = "CAST(0 AS BIGINT)"

# run-length fold state over a SORTED gram array: prev element, current
# run length, longest run seen (= max multiplicity), instances belonging
# to runs of length ≥ 2 (= instances whose gram repeats in the doc).
# The second member of a run credits both itself and the run opener.
_RUN_ZERO = ("named_struct('prev', CAST(NULL AS STRING), "
             f"'run', {BIGINT_ZERO}, 'best', {BIGINT_ZERO}, "
             f"'dup', {BIGINT_ZERO})")
_RUN_STEP = (f"(a, x) -> IF(x <=> a.prev, "
             f"named_struct('prev', x, 'run', a.run + {BIGINT_ONE}, "
             f"'best', greatest(a.best, a.run + {BIGINT_ONE}), "
             f"'dup', a.dup + IF(a.run = {BIGINT_ONE}, "
             f"{BIGINT_ONE} + {BIGINT_ONE}, {BIGINT_ONE})), "
             f"named_struct('prev', x, 'run', {BIGINT_ONE}, "
             f"'best', greatest(a.best, {BIGINT_ONE}), 'dup', a.dup))")


def _run_fold(sorted_arr: str, finish: str) -> str:
    """One O(n) element-wise fold over an already-sorted gram array.

    CRITICAL: the lambda references ONLY its own variables (a, x). A
    lambda that touches an outer computed column (e.g. `_bg[i]` over an
    index sequence) re-evaluates that column's FULL defining expression
    on every iteration after Catalyst collapses the projections —
    measured 273 s for 494 small docs (the tokenizer regex re-ran per
    gram per step). With element folds the array argument is evaluated
    once per row and iteration is pure accumulator work."""
    return f"aggregate({sorted_arr}, {_RUN_ZERO}, {_RUN_STEP}, a -> {finish})"


def with_repetition_signals(df, tcol: str = "t"):
    """Append the per-doc gram-multiplicity signals (n_tok, max_tok,
    max_bg, n_bg, dup_bg — NULL when the doc has < 2 tokens, mirroring
    the keyed form's absent-row semantics) as MAP-ONLY column
    expressions over the token-array column `tcol`.

    Per-doc statistics never need a corpus-wide shuffle: sorting the
    doc's own gram array makes max multiplicity a run-length fold and
    "this instance's gram repeats" a run-length-≥-2 count, O(n log n)
    per doc inside one projection. The explode + groupBy(doc_id, gram)
    twin computes the same numbers but shuffles ~every distinct
    (doc, gram) pair in the corpus — at 100 TB that is a full-corpus
    exchange for a doc-local answer. The keyed form survives as the
    differential reference (tests/test_quality_ops.py rebuilds it
    inline; the DuckDB oracles replay it in SQL), so the two
    implementations keep checking each other."""
    few = f"size({tcol}) < 2"
    # bigrams via zip_with(t, t[1:]) — index-free, so the lambda never
    # touches an outer column (see _run_fold); the trailing NULL from
    # the length mismatch is filtered by a lambda-var-only predicate
    bgs = (f"array_sort(filter(zip_with({tcol},"
           f" slice({tcol}, 2, size({tcol})), (p, q) -> concat(p, ' ', q)),"
           f" x -> x IS NOT NULL))")
    return df.selectExpr(
        "*",
        f"IF({few}, NULL, CAST(size({tcol}) AS BIGINT)) AS n_tok",
        f"IF({few}, NULL, {_run_fold(f'array_sort({tcol})', 'a.best')})"
        " AS max_tok",
        f"IF({few}, NULL, {_run_fold(bgs, 'a.best')}) AS max_bg",
        f"IF({few}, NULL, CAST(size({tcol}) - 1 AS BIGINT)) AS n_bg",
        f"IF({few}, NULL, {_run_fold(bgs, 'a.dup')}) AS dup_bg")


def floor_bp(num: str, den: str):
    """floor(num / den * 1e4) basis points of two columns: both engines
    floor the identical IEEE double quotient."""
    return F.floor(F.col(num).cast("double") / F.col(den) * 10000)


def gopher_fail():
    """The Gopher quality gate over with_repetition_signals' columns:
    True when a doc has fewer than 2 tokens (NULL signals) or
    MIN_TOKENS, or its top token or repeated-bigram share is over its
    cap. Never NULL."""
    return (F.col("n_tok").isNull()
            | (F.col("n_tok") < MIN_TOKENS)
            | (floor_bp("max_tok", "n_tok") > MAX_TOP_TOKEN_BP)
            | (floor_bp("dup_bg", "n_bg") > MAX_DUP_BIGRAM_BP))
