"""Token expressions, marker lists and the column expressions over them,
shared by the batch operators and the curation pipelines. Each is spelled
once so the Spark side and the generated DuckDB SQL read the same
definition."""

from pyspark.sql import functions as F

# lowercase + split on the explicit Java-\s class: Spark and DuckDB
# disagree on \x0B under a bare \s, so every whitespace tokenizer in an
# oracle pair spells the class out
TOKENS_EXPR = "split(lower(text), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')"

# per-language stopword markers of the langid heuristic (tie order =
# dict order: earlier languages win)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}

# lowercase substrings that mark an assistant refusal / canned apology
REFUSAL_MARKS = ("i can't help", "i cannot help", "i'm unable to",
                 "i am unable to")

# [!-~] = printable non-space ASCII: Java \s and RE2 \s disagree on \x0B,
# so neither appears in the pattern — it is byte-identical on both engines
URL_RE = "https?://[!-~]+"


def lang_hit_columns(text_col):
    """Per-language stopword-marker hit counts for a text Column (the
    txt_langid heuristic's scoring half, reusable by pipelines)."""
    tokens = F.split(F.lower(text_col), r"[ \t\n\x0b\f\r]+")
    return [
        F.size(F.filter(tokens, lambda t: t.isin(*words))).alias(f"hits_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]


def lang_argmax_column():
    """Argmax over the hits_<lang> columns with deterministic tie order
    (earlier markers win); 'unk' when nothing matched."""
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("unk")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when((F.col(f"hits_{lang}") == best) & (best > 0),
                      F.lit(lang)).otherwise(pred)
    return pred


CHUNK_TOKENS = 10


def token_chunks_expr(arr_col: str) -> str:
    """SQL expression cutting a token-array column into consecutive
    CHUNK_TOKENS-token chunks, each joined with ' ' (the line stand-in of
    C4-style line dedup: transcripts have no newlines)."""
    return (f"transform(sequence(0, cast(ceil(size({arr_col}) / "
            f"{CHUNK_TOKENS}.0) AS int) - 1), i -> array_join(slice("
            f"{arr_col}, i * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS}), ' '))")


def token_shingle_expr(arr_col: str, n: int) -> str:
    """SQL expression producing the DISTINCT n-token shingles of a STORED
    token-array column. The index lambda is only safe on a materialized
    array column — over a computed column it re-evaluates the tokenizer
    per element (the HOF trap, CLAUDE.md) — so callers must ensure
    arr_col is a plain stored column (persisted or read from disk)."""
    joined = ", ".join(f"{arr_col}[i + {j}]" for j in range(n))
    return (f"array_distinct(transform(sequence(0, size({arr_col}) - {n}),"
            f" i -> concat_ws(' ', {joined})))")
