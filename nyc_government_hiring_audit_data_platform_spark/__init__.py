"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference NYC-Government-Hiring-Audit-Data-Platform
(medallion batch ETL: paginated-API ingestion -> BRONZE lineage tables ->
two-stage fuzzy-title similarity joins -> GOLD projections/aggregations ->
paginated serving), re-expressed Spark-first for 100 TB scale.

Layout
------
- ``session``    : SparkSession factory (AQE, Arrow, UTC, tuned shuffle).
- ``schemas``    : explicit StructTypes for domain + testdata tables.
- ``functions``  : pure Column expression library (text normalization,
                   dates, similarity) - JVM-side, codegen-friendly.
- ``operators``  : relational operator library, fuzzy similarity joins,
                   dedup, similarity search, text analysis, multimodal.
- ``sources``    : paginated REST API source, parquet helpers, xlsx.
- ``pipelines``  : the hiring-audit refresh (BRONZE -> fuzzy joins ->
                   GOLD), the BRONZE/GOLD catalog namespaces and the
                   versioned-base fold protocol of the lifecycle stores.
- ``serving``    : paginated GOLD reads and dashboard aggregates.
- ``plans``      : physical-plan inspection helpers for plan-quality gates.
- ``lease``      : single-writer lease for the fuzzy-match lifecycle.
- ``streaming``  : Structured Streaming incremental ingest + windowed aggs.
"""

__version__ = "0.1.0"
