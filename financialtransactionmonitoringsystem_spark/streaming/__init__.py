"""Structured Streaming: the "monitoring" path of the reference.

The reference's ingest endpoint (``POST /transactions``,
``monitoring-service/src/main.rs:79-89``) is an unbounded append-only
table; Structured Streaming is its Spark-native restatement
(SURVEY.md §3 E2).  ``pipeline`` holds the event-time streaming forms
(watermarks, windows, dedup, alerting) and the serving path
(foreachBatch compaction into a bucketed latest-row table, then point
lookups); ``stateful`` holds the arbitrary-state forms; ``batch_twins``
holds the oracle-checkable batch equivalents registered in ``queries()``.
"""
