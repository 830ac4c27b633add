"""Shared Spark primitives: the layer both operators/ and pipeline/ build on.

- columns:  column-expression twins of the pure-Python kernels in
            ocr_spark.kernels. Where the reference's scalar semantics are
            expressible with built-in pyspark.sql.functions they belong
            here (whole-stage codegen, no Python worker); the Python
            kernels remain the source of truth for the quirky PHP-exact
            paths (DOM parsing, permissive dates, offset-capture regex).
- hashing:  md5_long, the engine-agnostic 64-bit hash, and what is keyed
            on it: the sampling thresholds and stratified keep column,
            content_md5 (the exact-dedup key), the Bloom probe positions
            and the training-shard key.
- minhash:  the MinHash signature stage, banding, bounded LSH candidate
            pairs and their DuckDB CTE chain.
- frames:   spread_partitions before an Arrow stage, array_dot, the
            hyperplane LSH code stage, min-label connected components,
            the sharded prefix sum behind sequence packing, and the
            floor-log2 length bucket.
- text:     the Java-\\s token expression, the shared marker lists, the
            langid columns, and the token chunk and shingle expressions.
- quality:  the Gopher repetition fold, the Gopher gate over it and the
            curation-gate thresholds.
- classifier: the hashed-feature linear quality model (features, trainer,
            shipped weights, Spark and DuckDB scoring expressions).
- grouped:  grouped_map_stream, applyInPandas as one mapInPandas pass.

This package imports nothing from operators/, pipeline/ or streaming/;
pipeline/, streaming/ and jobs/ build on it and import nothing from
operators/.
"""

from .columns import (clean_cell, clean_string, detect_currency, gen_code,
                      impute_item_totals, normalize_amount, ocr_digit_repair,
                      parse_number, slugify, split_merged, tolerance_ok)

__all__ = [
    "clean_string", "clean_cell", "parse_number", "normalize_amount",
    "detect_currency", "ocr_digit_repair", "slugify", "gen_code",
    "split_merged", "tolerance_ok", "impute_item_totals",
]
