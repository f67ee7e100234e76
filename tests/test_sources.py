"""The custom Python DataSource ``txfeed``: a deterministic,
partition-parallel transaction feed, in batch and streaming form."""

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


def test_txfeed_stream_replays_same_rows(spark, tmp_path_factory):
    """Streaming form: offset-tracked micro-batches equal the batch feed."""
    from financialtransactionmonitoringsystem_spark.sources.txfeed import (
        TransactionFeedDataSource)
    spark.dataSource.register(TransactionFeedDataSource)
    ckpt = str(tmp_path_factory.mktemp("txfeed_ckpt"))
    q = (
        spark.readStream.format("txfeed")
        .option("rowsPerBatch", 120).option("maxRows", 360).load()
        .writeStream.format("memory").queryName("t_txfeed")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second").start()
    )
    import time

    deadline = time.time() + 120
    while (spark.sql("SELECT count(*) c FROM t_txfeed").first().c < 360
           and time.time() < deadline):
        time.sleep(1)
    q.stop()
    got = spark.sql("SELECT * FROM t_txfeed ORDER BY ingest_seq").collect()
    want = spark.read.format("txfeed").option("rows", 360).load() \
        .orderBy("ingest_seq").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
