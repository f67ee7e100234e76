"""The custom Python DataSource ``txfeed``: a deterministic,
partition-parallel transaction feed (batch only)."""

from __future__ import annotations


def test_txfeed_batch_deterministic_and_partitioned(spark):
    """Custom Python DataSource: partition-parallel deterministic feed."""
    from financialtransactionmonitoringsystem_spark.sources.txfeed import (
        TransactionFeedDataSource)
    spark.dataSource.register(TransactionFeedDataSource)
    df = spark.read.format("txfeed").option("rows", 500) \
        .option("numPartitions", 4).load()
    assert df.rdd.getNumPartitions() == 4
    rows = df.orderBy("ingest_seq").collect()
    assert len(rows) == 500
    again = spark.read.format("txfeed").option("rows", 500) \
        .option("numPartitions", 2).load().orderBy("ingest_seq").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    r0 = rows[0]
    assert 1001 <= r0.user_id <= 1012 and r0.currency in {
        "EUR", "GBP", "KES", "NGN", "USD"}
    assert r0.timestamp.endswith("Z") and "merchant" in r0.metadata_json
