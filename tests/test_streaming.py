"""The serving path end to end: line-delimited transaction JSON through
``stream_transactions_json`` into the ``compact_latest_to`` sink, read
back with ``serving_lookup``."""

from __future__ import annotations

import glob
import json
import os
import shutil
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest

from financialtransactionmonitoringsystem_spark import fsio
from financialtransactionmonitoringsystem_spark.sources import json_ingest
from financialtransactionmonitoringsystem_spark.streaming import pipeline
from tests.conftest import TX_START, make_tx_rows, plan_jobs


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


SCHEMA = "event_id bigint, ts timestamp, value double"
T0 = datetime(2025, 1, 1)


def _batch(spark, rows):
    """A micro-batch of ``(event_id, hours after T0, value)`` rows."""
    return spark.createDataFrame(
        [(k, T0 + timedelta(hours=h), v) for k, h, v in rows], SCHEMA)


def _model(*batches):
    """Latest row per key over ``batches`` applied in order: the greatest
    ``ts``, and on a ``ts`` tie the row of the later batch."""
    out = {}
    for rows in batches:
        for k, h, v in rows:
            if k not in out or h >= out[k][0]:
                out[k] = (h, v)
    return {k: (T0 + timedelta(hours=h), v) for k, (h, v) in out.items()}


def _table(spark, serving):
    """The serving table read raw, as ``{key: (ts, value)}``; asserts it
    holds one row per key."""
    rows = spark.read.parquet(serving).collect()
    got = {r.event_id: (r.ts, r.value) for r in rows}
    assert len(got) == len(rows), "more than one row for a key"
    return got


def _entries(serving):
    """The visible entries of the serving directory (no ``_``/``.``)."""
    return sorted(n for n in os.listdir(serving) if n[0] not in "_.")


def _served(spark, serving, key):
    return [(r.ts, r.value) for r in
            pipeline.serving_lookup(spark, serving, key, key="event_id").collect()]


B1 = [(k, 0, float(k)) for k in range(16)]
B2 = [(3, 1, 99.0), (20, 0, 20.0)]
B3 = [(5, 2, -5.0)]


def test_compaction_leaves_one_key_ordered_generation(spark, tmp_path):
    """A batch leaves exactly one generation, written as one part file
    whose rows are in key order, with no helper column left in it."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    sink(_batch(spark, B1), 0)
    sink(_batch(spark, B2), 1)

    assert _entries(serving) == ["gen=1"]
    [part] = glob.glob(f"{serving}/gen=1/*.parquet")
    got = pq.read_table(part)
    assert got.column_names == ["event_id", "ts", "value"]
    keys = got.column("event_id").to_pylist()
    assert keys == sorted(_model(B1, B2))
    assert _table(spark, serving) == _model(B1, B2)
    assert _served(spark, serving, 3) == [_model(B2)[3]]


def test_tied_ts_serves_the_later_batch(spark, tmp_path):
    """The same key and ``ts`` in two batches: the second batch's row is
    served, and replaying that batch keeps it."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    first, second = [(7, 0, 1.0), (8, 0, 8.0)], [(7, 0, 2.0)]
    sink(_batch(spark, first), 0)
    sink(_batch(spark, second), 1)
    assert _served(spark, serving, 7) == [(T0, 2.0)]
    sink(_batch(spark, second), 1)
    assert _table(spark, serving) == _model(first, second)


def test_replayed_batch_changes_nothing(spark, tmp_path):
    """A batch applied twice, as a replay after a lost commit-log entry
    would, leaves the table one application leaves."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    sink(_batch(spark, B1), 0)
    sink(_batch(spark, B2), 1)
    once = _table(spark, serving)
    sink(_batch(spark, B2), 1)
    assert _table(spark, serving) == once == _model(B1, B2)
    assert _entries(serving) == ["gen=2"]


def test_leftover_tmp_is_invisible_and_overwritten(spark, tmp_path):
    """A crash before the rename leaves ``_tmp-<n>``: no reader sees it,
    and the next batch writes over it and commits."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    sink(_batch(spark, B1), 0)
    _batch(spark, [(3, 9, -1.0), (99, 9, -1.0)]).write.parquet(
        f"{serving}/_tmp-1")

    assert _served(spark, serving, 3) == [_model(B1)[3]]
    assert _served(spark, serving, 99) == []
    assert _table(spark, serving) == _model(B1)

    sink(_batch(spark, B2), 1)
    assert sorted(os.listdir(serving)) == ["gen=1"]
    assert _table(spark, serving) == _model(B1, B2)


def test_two_generations_read_newest_and_next_batch_removes_older(
        spark, tmp_path):
    """A crash between the rename and the delete leaves two generations:
    the lookup serves the newest (by number: 10 after 9), and the next
    batch leaves one."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    sink(_batch(spark, B1), 0)
    os.rename(f"{serving}/gen=0", f"{serving}/gen=9")
    shutil.copytree(f"{serving}/gen=9", tmp_path / "gen9")
    sink(_batch(spark, B2), 1)
    shutil.copytree(tmp_path / "gen9", f"{serving}/gen=9")
    assert _entries(serving) == ["gen=10", "gen=9"]

    assert _served(spark, serving, 3) == [_model(B1, B2)[3]]
    sink(_batch(spark, B3), 2)
    assert _entries(serving) == ["gen=11"]
    assert _table(spark, serving) == _model(B1, B2, B3)


ISO = "%Y-%m-%dT%H:%M:%S.%fZ"


def _tx_rows(rows):
    """``(event_id, hours after T0, value)`` rows as transaction JSON:
    ``tx-<event_id>``, ``timestamp`` T0 + hours, ``amount`` value."""
    return [{"transaction_id": f"tx-{k}", "user_id": 1001, "amount": v,
             "currency": "EUR", "type": "credit", "metadata": {},
             "timestamp": (T0 + timedelta(hours=h)).strftime(ISO)}
            for k, h, v in rows]


def _tx_table(spark, serving):
    """The transaction serving table in ``_table``'s terms."""
    rows = spark.read.parquet(serving).collect()
    got = {int(r.transaction_id[3:]):
           (datetime.strptime(r.timestamp, ISO), r.amount) for r in rows}
    assert len(got) == len(rows), "more than one row for a key"
    return got


def test_checkpoint_replay_after_lost_commit(spark, tmp_path):
    """A crash after the generation's rename and before Spark's commit
    leaves the epoch's offsets without its ``commits/<id>`` entry.  The
    next run from the checkpoint re-executes that epoch: the table then
    equals the uninterrupted run and the model, in one generation."""
    landing, serving, ckpt = (str(tmp_path / d)
                              for d in ("landing", "serving", "ckpt"))
    (tmp_path / "landing").mkdir()
    _land(tmp_path / "landing" / "b1.json", _tx_rows(B1))
    _compact(spark, landing, serving, ckpt)
    _land(tmp_path / "landing" / "b2.json", _tx_rows(B2))
    _compact(spark, landing, serving, ckpt)
    uninterrupted = _tx_table(spark, serving)
    assert _entries(serving) == ["gen=1"]

    for name in ("1", ".1.crc"):  # the commit and its checksum file
        os.remove(f"{ckpt}/commits/{name}")
    _compact(spark, landing, serving, ckpt)
    assert _entries(serving) == ["gen=2"]  # the sink ran epoch 1 again
    assert _tx_table(spark, serving) == uninterrupted == _model(B1, B2)


def test_stale_lookup_raises_after_the_next_batch(spark, tmp_path):
    """A lookup frame built on generation ``n`` and collected after the
    next batch deleted it raises instead of returning empty or partial
    rows; a lookup built afterwards serves the new latest row."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    sink(_batch(spark, B1), 0)
    stale = pipeline.serving_lookup(spark, serving, 3, key="event_id")
    sink(_batch(spark, B2), 1)

    with pytest.raises(Exception, match="FILE_NOT_EXIST|FileNotFound"):
        stale.collect()
    assert _served(spark, serving, 3) == [_model(B1, B2)[3]]


def test_second_batch_runs_two_jobs(spark, tmp_path):
    """Merging a batch into an existing table runs the write and its
    shuffle stage only: no collect, no schema inference."""
    serving = str(tmp_path / "serving")
    sink = pipeline.compact_latest_to(serving, key="event_id")
    sink(_batch(spark, B1), 0)
    _, jobs = plan_jobs(spark, lambda: sink(_batch(spark, B2), 1))
    assert jobs <= 2
    assert _table(spark, serving) == _model(B1, B2)


def test_rename_refuses_an_existing_target(spark, tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    with pytest.raises(FileExistsError):
        fsio.rename(spark, str(tmp_path / "a"), str(tmp_path / "b"))
    fsio.rename(spark, str(tmp_path / "a"), str(tmp_path / "c"))
    assert sorted(os.listdir(tmp_path)) == ["b", "c"]
