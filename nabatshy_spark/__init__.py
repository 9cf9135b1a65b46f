"""nabatshy_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference observability platform
(adhamsalama/nabatshy): OTLP trace ingest, a denormalized span table, and
~20 analytics/search queries, re-expressed Spark-first (DataFrame/SQL,
Catalyst-optimized), plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Layout:
    session     — SparkSession factory tuned for local[N] and cluster scale
    catalog     — loaders for the testdata star schema
    functions/  — time-series helpers (SURVEY §2.5)
    operators/  — query operators: search, aggregates, timeseries, joins,
                  dedup, similarity, textanalysis, multimodal
    sources/    — OTLP decode + wide-row denormalization + sinks
    streaming/  — Structured Streaming ingest
    plans/      — the named query registry + DuckDB oracle SQL
"""

__version__ = "0.1.0"
