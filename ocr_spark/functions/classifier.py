"""Hashed-feature linear quality classifier (fastText/CCNet-style).

The learned gate beside the heuristic (Gopher) and LM (CCNet unigram /
bigram) quality scores: hash every unigram and bigram of a document
into CLS_DIM buckets (the md5 bridge — the same engine-agnostic 64-bit
fold as the rest of the repo) and score with integer weights learned by
an averaged perceptron. Scoring is ONE map-only projection — at 100 TB
the corpus side never shuffles, never collects, and the whole gate is a
column expression, so it composes into the curation funnel's single
drop_reason plan.

Engine-exactness: weights and bias are INTEGERS (the averaged
perceptron's unnormalized average Σ c·Δ is integer by construction), so
the score is an exact int64 sum on Spark, DuckDB, and the Python twin —
no float association, no transcendental, no rounding edge. Both the
Spark expression and the oracle SQL are GENERATED from the same weight
constants (the langid `LANG_MARKERS` single-source pattern), and the
bucket index relies on the dimension being a power of two: u64 % 2^k
equals pmod(signed64, 2^k), so Spark's signed md5 fold, DuckDB's
UBIGINT and Python's int all agree on the low bits.

Training is driver-side on a bounded sample — the same shape as the
IVF/PQ codebooks: featurize in Python, iterate in a tight loop, ship a
flat integer weight vector. The shipped model is EMBEDDED as literals
(the hyperplane-coefficient precedent) and retrain-pinned against
`train_quality_classifier(training_corpus())` — reproducible anywhere,
no data dependency, zero import-time cost in executor workers;
`train_quality_classifier` is the generic trainer a real deployment
points at its labeled sample (pipeline/classifier.py is the
persisted-artifact form).

Both scoring surfaces — the oracle-paired query
(operators/classifier.py: `txt_classifier_score`) and the persisted
artifact's `score_with_model` — build their projection from
`score_frame` below, so tokenization and threshold semantics live in
exactly one place.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import DataFrame, functions as F

CLS_DIM = 256          # power of two (signed/unsigned low-bit identity)
CLS_EPOCHS = 200       # converges to 160/160 on the shipped corpus
CLS_THRESHOLD = 0      # score_sum > 0 -> keep

# the same whitespace class as functions.text.TOKENS_EXPR (explicit
# Java-\s), in Spark's escaping convention
_WS_SPARK = "[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+"


def _bucket(feature: str, dim: int = CLS_DIM) -> int:
    """md5-fold bucket of a feature string — the Python twin of the
    Spark/DuckDB expressions below (low bits of the md5 u64 prefix)."""
    return int(hashlib.md5(feature.encode()).hexdigest()[:16], 16) % dim


def featurize(text: str, dim: int = CLS_DIM) -> dict[int, int]:
    """Hashed PRESENCE features: the DISTINCT unigrams and bigrams of
    the document, each contributing once (fastText-style binary bag —
    raw counts make a token flood and a short clean document linearly
    inseparable; presence makes the score a feature-DIVERSITY signal,
    which is exactly what separates junk from text). Distinctness is on
    the feature STRING (two distinct strings sharing a bucket count
    twice), so Spark's array_distinct, DuckDB's list_distinct and this
    twin agree exactly. Tokenization mirrors TOKENS_EXPR: lowercase, split
    on the explicit whitespace class, leading/trailing empties KEPT."""
    import re
    toks = re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower())
    feats: dict[int, int] = {}
    for f in set(toks) | {a + " " + b for a, b in zip(toks, toks[1:])}:
        b = _bucket(f, dim)
        feats[b] = feats.get(b, 0) + 1
    return feats


def train_quality_classifier(samples: list[tuple[str, int]],
                             dim: int = CLS_DIM,
                             epochs: int = CLS_EPOCHS
                             ) -> tuple[list[int], int, int]:
    """Averaged perceptron over hashed features PLUS one dense
    diversity feature (the distinct-feature count). The diversity
    weight is what makes the model generalize to vocabulary it never
    saw: an unseen-but-diverse document scores
    ≈ w_div · n_feats + Σ(collision noise) + bias, positive for real
    text, while floods/short junk have too few distinct features and
    spam vocabulary carries learned negative bucket weights.

    Deterministic: fixed sample order, no shuffling, integer arithmetic
    throughout. Returns the UNNORMALIZED averaged weights
    (Σ_t w_t as c·w − u, all int — scale cancels under a sign
    threshold), so the shipped model is exactly representable on every
    engine. Features are hashed mod THIS dim (a power of two), the same
    modulus the generated scoring expressions use on len(weights)."""
    assert dim & (dim - 1) == 0, "dim must be a power of two"
    feats = [(featurize(text, dim), 1 if label else -1)
             for text, label in samples]
    w = [0] * dim
    wd = 0
    b = 0
    u = [0] * dim
    ud = 0
    ub = 0
    c = 1
    for _ in range(epochs):
        for x, y in feats:
            nf = sum(x.values())
            s = b + wd * nf + sum(w[k] * v for k, v in x.items())
            if y * s <= 0:
                for k, v in x.items():
                    w[k] += y * v
                    u[k] += c * y * v
                wd += y * nf
                ud += c * y * nf
                b += y
                ub += c * y
            c += 1
    return ([c * w[i] - u[i] for i in range(dim)], c * b - ub,
            c * wd - ud)


# ---------------------------------------------------------------------------
# Deterministic training corpus (hermetic: no data dependency)
# ---------------------------------------------------------------------------

# clean-document vocabulary POOLS: positives are drawn from several
# disjoint word sets so the learner cannot memorize one vocabulary —
# the only signal consistent across pools is structural (feature
# diversity + absence of junk tokens), which is what must generalize
# to unseen corpora
_VOCAB_POOLS = [
    # the synthetic documents tables' word distribution
    ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
     "fast", "filter", "group", "hash", "join", "key", "line",
     "merge", "order", "part", "query", "row", "scan", "slow",
     "small", "sort", "spark", "stream", "table", "the", "value",
     "vector", "window"],
    # generic English
    ["the", "of", "and", "to", "in", "is", "it", "for", "on", "with",
     "was", "as", "are", "this", "that", "from", "by", "be", "have",
     "not", "they", "his", "her", "one", "all", "we", "when", "your",
     "can", "said", "there", "use", "each", "which", "she", "how"],
    # spelling-alphabet / names
    ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
     "hotel", "india", "juliett", "kilo", "lima", "mike", "november",
     "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
     "victor", "whiskey", "xray", "yankee", "zulu"],
    # business/invoice register (incl. numeric tokens: real documents
    # carry quantities and prices; digit-NOISE is a different shape)
    ["supplier", "invoice", "no", "date", "code", "name", "qty",
     "unit", "price", "total", "amount", "remark", "delivered",
     "ltd", "bundle", "document", "2025-03-04", "10.00", "30.00",
     "3", "12", "net", "vat", "due", "paid", "order"],
]

# junk vocabulary kept DISJOINT from the clean vocabulary: a flood of a
# clean word must be caught by its repeated-BIGRAM features (clean text
# legitimately contains that unigram), never by poisoning the unigram
# weight itself — see the 'vocabflood' negative class
_SPAM_TOKENS = ["spam", "viagra", "casino", "xxx", "free", "winner",
                "click", "cheap", "pills", "buy"]


def training_corpus(seed: int = 5, n_pos: int = 80,
                    n_neg: int = 80) -> list[tuple[str, int]]:
    """Deterministic synthetic labeled sample: positives are
    varied-length word-salad documents over the clean vocabulary (the
    shape of real kept documents in this corpus); negatives are the
    junk classes a learned VOCABULARY gate must catch — single-token
    floods, repeated-bigram spam, and degenerate short strings. Seeded
    PRNG, fixed order: retraining reproduces the shipped weights bit
    for bit.

    Deliberately ABSENT negative classes: digit/punctuation noise and
    link farms. Their tokens are near-uniformly random, so under a
    256-bucket hash they spray negative weight across the ENTIRE
    space — training on them poisons every bucket and flips the
    diversity weight negative (measured: 80/160 train accuracy,
    all-negative scores, out-of-vocab clean text rejected). Those junk
    shapes belong to the heuristic gates that key on structure, not
    vocabulary (txt_url_density, txt_char_class_mix, the Gopher caps);
    the learned gate's funnel job is spam VOCABULARY on structurally-
    clean text.

    The 'spamdiverse' class is what makes the funnel stage REACHABLE:
    varied arrangements of the spam vocabulary with enough distinct
    unigrams/bigrams to pass every Gopher cap (top-token <=20%,
    dup-bigram <=30%, token floor). Without it the learner's diversity
    weight dominates every bucket weight and NO quality-gate survivor
    can score <=0 (verified: min 12 distinct features post-gate x
    (w_div + min-bucket) cleared the bias by +173k) — the stage was
    dead code. With it, spam-vocabulary weights outweigh the diversity
    credit, structurally-clean spam scores negative, and real corpus
    documents still score positive (0 false drops at
    sf0.001/0.01/0.1)."""
    rng = random.Random(seed)
    samples: list[tuple[str, int]] = []
    for i in range(n_pos):
        vocab = _VOCAB_POOLS[i % len(_VOCAB_POOLS)]
        n = rng.randint(12, 90)
        samples.append((" ".join(rng.choice(vocab) for _ in range(n)), 1))
    kinds = ["flood", "bigram", "short", "vocabflood", "spamdiverse"]
    for i in range(n_neg):
        kind = kinds[i % len(kinds)]
        if kind == "flood":
            t = rng.choice(_SPAM_TOKENS)
            samples.append((" ".join([t] * rng.randint(30, 90)), 0))
        elif kind == "vocabflood":
            t = rng.choice(_VOCAB_POOLS[i % len(_VOCAB_POOLS)])
            samples.append((" ".join([t] * rng.randint(30, 90)), 0))
        elif kind == "spamdiverse":
            n = rng.randint(12, 60)
            samples.append((" ".join(rng.choice(_SPAM_TOKENS)
                                     for _ in range(n)), 0))
        elif kind == "bigram":
            a, b = rng.choice(_SPAM_TOKENS), rng.choice(_SPAM_TOKENS)
            samples.append((" ".join([a, b] * rng.randint(20, 45)), 0))
        else:
            samples.append((rng.choice(["ok", "", "!!", "x", "...."]), 0))
    return samples


# The SHIPPED model, embedded as literals (the hyperplane-coefficient
# precedent): training it at import cost ~0.1-0.4s in EVERY Python
# process importing ocr_spark.operators — including every executor
# worker unpickling an unrelated Arrow stage — and the oracle SQL
# (built at import for the registry) embeds these same integers, so
# laziness cannot help. tests/test_classifier.py pins
# train_quality_classifier(training_corpus()) == these literals, so
# the provenance is retrain-checked, not trusted.
CLS_WEIGHTS = [
    0, 30879, 0, 251519, 623, 0, 30879, 0, 0, 0, 0, 0, 0, 0, -189084, 0, 0,
    0, 0, 251519, 30879, 0, 0, 0, -219969, 0, -250848, 30879, 251519, 0, 0,
    0, 0, 0, 31502, -250848, 315072, 0, 0, -250848, 0, 0, -470865, -721745,
    220640, 30879, 220640, 30879, 0, 30879, 0, 220640, -439956, 0, 0,
    -501720, 623, -659949, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, -189138, -189084,
    -220017, -250880, 220640, 0, 220640, 0, 220640, -629070, 220640, 0, 0,
    0, 30879, 220640, 251519, 220640, -250848, 0, -219969, 0, 0, 0, 0,
    -250848, 220640, 30879, 0, -250848, 0, 220640, 251519, -250848, 0, 0,
    30879, 220640, 0, 0, 30879, 220640, -250225, 0, 0, 220640, 0, 220640,
    251519, 30879, 220640, 0, 0, 0, 0, 0, -221473, 0, 220640, 0, 0, 0, 0,
    0, -220017, 441280, 0, 661920, 0, -63666, 30879, 0, 0, 0, -721737,
    30879, 0, 0, -30208, 220640, 0, 0, 30879, 0, 692799, 0, 623, -470865,
    -30232, -470865, 0, -721737, 61758, 220640, 220640, 30879, 0, -470865,
    441280, 0, 220640, 220640, 0, 0, 0, 251519, 0, 190424, -220017, 30879,
    0, 0, 0, 0, 0, 0, 30879, 220640, 0, 30879, 0, 0, 220640, -439986,
    220640, 0, 0, 0, -220017, 0, -250225, 0, 220640, 0, 0, 220640, 30879,
    0, 0, -346113, 0, 0, 0, -250848, -440034, 0, 0, 0, 30879, 0, 0, 251519,
    61758, -250856, 0, -220017, -30208, 0, 0, 0, 30879, 0, 30879, 0,
    251519, 30879, 0, 441280, 220640, 0, 0, 0, 0, 0, -29585, 0, 220640,
    220640, 220640, 30879, 0, -30208, -219969, 220640, 0, 0, 0, 30879,
]
CLS_BIAS = -1635285
CLS_DIV_W = 190592


def _model() -> tuple[list[int], int, int]:
    return CLS_WEIGHTS, CLS_BIAS, CLS_DIV_W


def score_text(text: str) -> int:
    """Python twin of the shipped model's score (differential tests)."""
    weights, bias, div_w = _model()
    x = featurize(text)
    return (bias + div_w * sum(x.values())
            + sum(weights[k] * v for k, v in x.items()))


# ---------------------------------------------------------------------------
# Twin expression generators (one weight source -> both engines)
# ---------------------------------------------------------------------------

def classifier_score_expr(tok_col: str, weights: list[int] | None = None,
                          bias: int | None = None,
                          div_w: int | None = None) -> str:
    """Spark SQL expression scoring a token-ARRAY column: concat the
    unigrams with zip_with-built bigrams (index-free lambdas — the HOF
    recompute trap never fires) and fold weight lookups into one int64
    sum. The weight array is a foldable literal (constant-folded once,
    not per row). Defaults to the shipped model; a persisted-artifact
    model (pipeline/classifier.py) passes its own constants through the
    SAME generator, so artifact scoring shares provenance with the
    oracle-paired query."""
    if weights is None or bias is None or div_w is None:
        sw, sb, sd = _model()
        weights = sw if weights is None else weights
        bias = sb if bias is None else bias
        div_w = sd if div_w is None else div_w
    dim = len(weights)
    assert dim & (dim - 1) == 0, "weight dim must be a power of two"
    w = ",".join(str(x) for x in weights)
    bigrams = (f"filter(zip_with({tok_col}, slice({tok_col}, 2, "
               f"size({tok_col})), (p, q) -> concat(p, ' ', q)), "
               f"x -> x IS NOT NULL)")
    bucket = ("CAST(pmod(CAST(conv(substring(md5(f), 1, 16), 16, 10) "
              f"AS DECIMAL(20,0)), {dim}) AS INT) + 1")
    # the dense diversity weight folds into the per-feature lambda
    # (each distinct feature contributes w[bucket] + div_w), so the
    # whole score is still ONE pass over the feature array
    return (f"CAST(aggregate("
            f"array_distinct(concat({tok_col}, {bigrams})), "
            f"CAST({bias} AS BIGINT), "
            f"(acc, f) -> acc + {div_w} "
            f"+ element_at(array({w}), {bucket})) "
            f"AS BIGINT)")


def classifier_score_sql(tok_expr: str, weights: list[int] | None = None,
                         bias: int | None = None,
                         div_w: int | None = None) -> str:
    """DuckDB expression scoring a token-LIST expression — the literal
    mirror of classifier_score_expr (same weights, same md5 bucket)."""
    if weights is None or bias is None or div_w is None:
        sw, sb, sd = _model()
        weights = sw if weights is None else weights
        bias = sb if bias is None else bias
        div_w = sd if div_w is None else div_w
    dim = len(weights)
    assert dim & (dim - 1) == 0, "weight dim must be a power of two"
    w = ",".join(str(x) for x in weights)
    bigrams = (f"list_transform(range(1, len({tok_expr})), "
               f"i -> {tok_expr}[i] || ' ' || {tok_expr}[i + 1])")
    bucket = (f"(('0x' || substr(md5(f), 1, 16))::UBIGINT "
              f"% {dim})::INT + 1")
    return (f"CAST({bias} + list_sum(list_transform("
            f"list_distinct(list_concat({tok_expr}, {bigrams})), "
            f"f -> {div_w} + [{w}][{bucket}])) AS BIGINT)")


# ---------------------------------------------------------------------------
# Shared scoring projection (the ONE place tokenization + threshold live)
# ---------------------------------------------------------------------------

def score_frame(docs: DataFrame, weights: list[int] | None = None,
                bias: int | None = None, div_w: int | None = None,
                threshold: int = CLS_THRESHOLD) -> DataFrame:
    """The canonical (doc_id, n_feats, score_sum, pred) scoring
    projection over a documents frame — shared by the oracle-paired
    query (shipped constants) and the persisted artifact's
    score_with_model (committed constants)."""
    expr = classifier_score_expr("t", weights, bias, div_w)
    bigrams = ("filter(zip_with(t, slice(t, 2, size(t)), "
               "(p, q) -> concat(p, ' ', q)), x -> x IS NOT NULL)")
    return (docs.where(F.col("doc_id").isNotNull())
            .selectExpr("doc_id",
                        f"split(lower(text), '{_WS_SPARK}') AS t")
            .selectExpr(
                "doc_id",
                f"CAST(size(array_distinct(concat(t, {bigrams}))) "
                "AS BIGINT) AS n_feats",
                f"{expr} AS score_sum")
            .selectExpr(
                "doc_id", "n_feats", "score_sum",
                f"CAST(score_sum > {threshold} AS INT) AS pred")
            .orderBy("doc_id"))


