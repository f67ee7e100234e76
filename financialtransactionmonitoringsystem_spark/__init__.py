"""fintxmon-spark: a PySpark-native analytics engine with the query and
data-processing capabilities of Tani1964/FinancialTransactionMonitoringSystem.

The reference (surveyed in SURVEY.md) is a two-microservice CRUD prototype
(Go/Gin ``user-service/main.go`` + Rust ``monitoring-service/src/main.rs``)
whose entire query surface is append, list-all, and point-lookup over an
in-memory transactions table.  This package rebuilds that surface
idiomatically on Spark (DataFrame/SQL + Catalyst + Structured Streaming) and
extends it into the full analytics engine the reference gestures at:
relational operators, a streamed serving table (latest row per key), and
LLM-data-pipeline operators (text analysis, dedup, similarity search).

Layout:
    session     -- SparkSession builder tuned for local[N] and cluster use
    tables      -- loaders for the driver testdata tables (TESTDATA.md)
    schemas     -- canonical schemas (transactions domain + testdata)
    operators/  -- relational, aggregate, window, set, dedup, similarity,
                   text, multimodal operators (one ``q_*`` per SURVEY.md §2.2)
    functions/  -- scalar function family queries
    sources/    -- JSON ingest of the reference transaction shape, and
                   the synthetic ``txfeed`` batch source
    streaming/  -- Structured Streaming pipelines + oracle-checkable batch twins
    plans/      -- plan inspection helpers (pushdown/broadcast assertions)
    queries     -- the full registry consumed by __spark_entry__.py
"""

__version__ = "0.1.0"
