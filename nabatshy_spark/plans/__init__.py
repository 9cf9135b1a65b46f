"""The named query registry (``queries.QUERIES``), one module per
domain, and the DuckDB oracle SQL (``oracles.ORACLES``). Importing the
package registers every domain's queries."""

from nabatshy_spark.plans import (  # noqa: F401
    graph_queries,
    relational_queries,
    span_queries,
    sql_queries,
    streaming_queries,
    text_queries,
    vector_queries,
)
