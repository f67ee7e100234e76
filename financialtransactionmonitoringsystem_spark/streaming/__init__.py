"""Structured Streaming: the "monitoring" path of the reference.

The reference's ingest endpoint (``POST /transactions``,
``monitoring-service/src/main.rs:79-89``) is an unbounded append-only
table; Structured Streaming is its Spark-native restatement
(SURVEY.md §3 E2).  ``pipeline`` holds the serving path (foreachBatch
compaction into a latest-row table committed one generation per
micro-batch, then point lookups);
``batch_twins`` holds the batch forms of event-time streaming operators
registered in ``queries()``.
"""
