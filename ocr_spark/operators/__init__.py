"""Spark DataFrame operator layer.

Each module exposes QUERIES: dict[name -> (spark_fn, oracle_sql | None)].
spark_fn(spark, sf_dir) -> DataFrame; oracle_sql is ANSI SQL DuckDB runs on
the same parquet tables (views pre-registered by the driver). None marks a
non-SQL-expressible operator (driver records a rows-only check).

Column names are aliased identically on both sides: the driver's compare
sorts columns by name before hashing values.
"""

from .classifier import QUERIES as CLASSIFIER_QUERIES
from .corpus import QUERIES as CORPUS_QUERIES
from .curation import QUERIES as CURATION_QUERIES
from .extraction import QUERIES as EXTRACTION_QUERIES
from .multimodal import QUERIES as MM_QUERIES
from .quality import QUERIES as QUALITY_QUERIES
from .relational import QUERIES as REL_QUERIES
from .scalar import QUERIES as SCALAR_QUERIES
from .temporal import QUERIES as TEMPORAL_QUERIES

# merge order = driver check order (it walks the registry in order with a
# bounded budget): cheap oracle-paired relational/scalar/temporal first,
# then extraction + multimodal + corpus-quality, the heavy corpus dedup
# queries and the two curation funnels last. This package is the only
# writer of ALL_QUERIES.
ALL_QUERIES = {}
for _q in (REL_QUERIES, SCALAR_QUERIES, TEMPORAL_QUERIES,
           EXTRACTION_QUERIES, MM_QUERIES, QUALITY_QUERIES,
           CLASSIFIER_QUERIES, CORPUS_QUERIES, CURATION_QUERIES):
    ALL_QUERIES.update(_q)
