"""Token expressions and marker lists shared by the batch operators and
the curation pipelines. Each is spelled once so the Spark side and the
generated DuckDB SQL read the same definition."""

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
