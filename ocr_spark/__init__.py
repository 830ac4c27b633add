"""ocr_spark — PySpark-native structured-extraction engine.

A from-scratch, Spark-first re-expression of the extraction semantics of the
reference repo (``arthurfUnicorn/ocr``, a single-threaded PHP invoice-OCR
pipeline): per-turn structured-record extraction over a table of multi-turn
transcripts ``(conv_id, turn_idx, role, text, tool, ts)``, with all per-row
logic running in vectorized Arrow/pandas UDF stages, explicit skew salting,
stable turn ordering, and per-partition checkpoint lineage.

Layout:
  kernels/   pure-Python extraction kernels (no Spark import) — unit-testable
  functions/ shared Spark primitives: column twins, md5 bridge and the
             keys built on it, MinHash, token expressions, the curation
             gates, the quality classifier, DataFrame helpers
  sources/   transcript schema, deterministic synthesis, readers
  operators/ Spark DataFrame operator layer (driver queries()/oracle_sql()
             contract); ALL_QUERIES is assembled in operators/__init__ only
  pipeline/  the Spark extraction job (mapInPandas stages, salting,
             checkpoints) and the artifact pipelines built on functions/
  streaming/ checkpointed AvailableNow extraction and gap sessionization
             (stream.py)
  plans/     physical-plan audit helpers the plan tests assert with

Imports are one-way (tests/test_layering.py): kernels/, functions/ and
sources/ import nothing from operators/, pipeline/ or streaming/;
pipeline/, streaming/ and jobs/ import nothing from operators/; and the
query layer reaches pipeline/ only inside a query's body, never at
load. Every top-level def is reached from
non-test code or kept on purpose with its reason (same test file).
"""

__version__ = "0.1.0"

EXTRACTOR_VERSION = __version__
