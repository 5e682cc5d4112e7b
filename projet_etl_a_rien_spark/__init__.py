"""projet_etl_a_rien_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline ``LisaNgoufack/Projet-ETL-A-rien``
(Kafka -> PySpark parse/clean/aggregate -> PostgreSQL -> verify, plus a
minimal streaming count), generalized into a composable DataFrame library:

- ``session``    — tuned SparkSession builders (AQE, Arrow, shuffle sizing)
- ``catalog``    — parquet table loaders for the test fixtures
- ``operators``  — airports-reference parity ops, relational analytics,
                   dedup (exact/MinHash/SimHash/Jaccard), similarity search,
                   text analysis, multimodal column plumbing
- ``sources``    — thin format-parameterized wrappers (kafka/jdbc/http/files)
- ``functions``  — vector math & JSON helpers built on pyspark.sql.functions
- ``streaming``  — Structured Streaming windows/watermarks + file replays

Design stance (SURVEY.md §7): SparkSession-in, DataFrame-out; no bespoke IR;
Catalyst untouched; every operator declarative so pushdown/pruning/AQE stay
free. UDFs only where built-ins genuinely cannot express the semantics, and
then Arrow-vectorized.
"""

__version__ = "0.1.0"

# Importing any submodule runs this first, so the registry is built in one
# order — the core, then each domain module — whichever module a caller
# imports first. A domain module imported on its own would otherwise be
# half-built while the core imports the domain modules that depend on it.
from . import queries  # noqa: E402,F401
