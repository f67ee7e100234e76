"""The serving path end to end: line-delimited transaction JSON through
``stream_transactions_json`` into the ``compact_latest_to`` sink, read
back with ``serving_lookup``."""

from __future__ import annotations

import json
import shutil
import tempfile
from datetime import timedelta

from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.sources import json_ingest
from financialtransactionmonitoringsystem_spark.streaming import pipeline
from tests.conftest import TX_START, make_tx_rows


def _land(path, rows: list[dict]) -> None:
    with open(path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)


def _compact(spark, landing: str, serving: str, checkpoint: str) -> None:
    """One bounded run of the monitor's ingest query: every file landed
    since the checkpoint's last batch, compacted into ``serving``."""
    q = (json_ingest.stream_transactions_json(spark, landing)
         .writeStream
         .foreachBatch(pipeline.compact_latest_to(serving,
                                                  key="transaction_id"))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    try:
        assert q.awaitTermination(300), "compaction query did not finish"
    finally:
        q.stop()


def test_foreachbatch_compaction_point_lookup(spark, tmp_path):
    """One ``transaction_id`` arrives twice, the later ``timestamp`` in a
    second file that a second run from the same checkpoint picks up.  The
    serving table keeps one row per key, the lookup returns the later
    row, and a missing id returns no rows."""
    rows = make_tx_rows(10)
    dup_id = rows[3]["transaction_id"]
    later = dict(rows[3], amount=1.25, timestamp=(
        TX_START + timedelta(days=1)).strftime("%Y-%m-%dT%H:%M:%S.%fZ"))
    landing, serving, ckpt = (str(tmp_path / d)
                              for d in ("landing", "serving", "ckpt"))
    (tmp_path / "landing").mkdir()

    _land(tmp_path / "landing" / "batch1.json", rows)
    _compact(spark, landing, serving, ckpt)
    first = pipeline.serving_lookup(spark, serving, dup_id,
                                    key="transaction_id").collect()
    assert [r.amount for r in first] == [rows[3]["amount"]]

    _land(tmp_path / "landing" / "batch2.json", [later])
    _compact(spark, landing, serving, ckpt)
    ids = spark.read.parquet(serving).select("transaction_id")
    assert ids.count() == ids.distinct().count() == len(rows)  # 1 row/key
    got = pipeline.serving_lookup(spark, serving, dup_id,
                                  key="transaction_id").collect()
    assert [(r.amount, r.timestamp) for r in got] == [
        (later["amount"], later["timestamp"])]
    assert pipeline.serving_lookup(spark, serving, "no-such-id",
                                   key="transaction_id").collect() == []


def test_compaction_rewrites_only_touched_buckets(spark):
    """Compaction rewrites only the buckets a micro-batch touches.  A
    batch touching one key bucket must leave every other bucket's files
    byte-for-byte alone (same paths, same mtimes), while the touched key
    serves the new latest row.  This bounds the rewrite by the touched
    buckets, which is not O(batch): ``n`` random keys touch
    ``16 x (1 - (15/16)^n)`` of the 16 buckets, so a 50-key batch
    rewrites about 96% of the table."""
    import datetime
    import glob
    import os

    schema = "event_id bigint, ts timestamp, value double"
    tmp = tempfile.mkdtemp(prefix="fintxmon_bucketed_")
    serving = f"{tmp}/serving"
    try:
        sink = pipeline.compact_latest_to(serving, key="event_id")
        t0 = datetime.datetime(2025, 1, 1)
        sink(spark.createDataFrame(
            [(i, t0, float(i)) for i in range(16)], schema), 0)

        def listing():
            return {p: os.path.getmtime(p)
                    for p in glob.glob(f"{serving}/__kb=*/*.parquet")}

        before = listing()
        sink(spark.createDataFrame(
            [(3, t0 + datetime.timedelta(hours=1), 99.0)], schema), 1)
        after = listing()

        kb3 = (spark.read.parquet(serving)
               .filter(F.col("event_id") == 3).select("__kb").first()["__kb"])
        untouched = {p: t for p, t in before.items() if f"__kb={kb3}/" not in p}
        assert untouched, "test needs at least one untouched bucket"
        for p, t in untouched.items():
            assert p in after and after[p] == t, f"untouched bucket rewritten: {p}"
        assert any(p not in before for p in after), "touched bucket not rewritten"

        got = pipeline.serving_lookup(spark, serving, 3,
                                      key="event_id").collect()
        assert len(got) == 1 and got[0].value == 99.0
        assert spark.read.parquet(serving).count() == 16  # still 1 row/key
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
