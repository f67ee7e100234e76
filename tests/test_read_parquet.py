"""``tables.read_parquet``: the one batch parquet reader and its
inferred-schema cache.  A warm read plans with no Spark job, any change
to the files or to a schema-affecting conf is seen by the next read, and
the cache never stands in for the data itself."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from financialtransactionmonitoringsystem_spark.streaming import pipeline
from financialtransactionmonitoringsystem_spark.tables import (
    load_table, read_parquet)

from .compare import assert_frames_match
from .conftest import plan_jobs

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
BINARY_CONF = "spark.sql.parquet.binaryAsString"


def _compacted(spark, serving: str, n_rows: int = 12) -> None:
    """A serving table written by the compaction sink."""
    t0 = datetime.datetime(2025, 1, 1)
    pipeline.compact_latest_to(serving, key="event_id")(
        spark.createDataFrame([(i, t0, float(i)) for i in range(n_rows)],
                              "event_id bigint, ts timestamp, value double"),
        0)


def _overwrite_in_place(path: str) -> None:
    """Replace ``path``'s bytes with garbage of the same length and put
    its mtime back, so its size+mtime_ns fingerprint does not change."""
    st = os.stat(path)
    with open(path, "wb") as fh:
        fh.write(b"x" * st.st_size)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_warm_reads_plan_without_jobs(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    _, cold = plan_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert cold >= 1  # the inferring read: the counter sees plan-time jobs
    _, warm = plan_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert warm == 0

    table = str(tmp_path / "engine_table")
    spark.range(40).selectExpr("id", "id % 4 AS __epoch") \
        .write.partitionBy("__epoch").parquet(table)
    read_parquet(spark, table)
    df, warm = plan_jobs(spark, lambda: read_parquet(spark, table))
    assert warm == 0 and df.columns == ["id", "__epoch"]

    serving = str(tmp_path / "serving")
    _compacted(spark, serving)
    pipeline.serving_lookup(spark, serving, 3, key="event_id")
    df, warm = plan_jobs(
        spark,
        lambda: pipeline.serving_lookup(spark, serving, 5, key="event_id"))
    assert warm == 0
    assert [r.value for r in df.collect()] == [5.0]


def test_rewrite_with_extra_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    got = read_parquet(spark, path)
    assert got.columns == ["a", "b"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "x"), (2, "y")]

    table = str(tmp_path / "dir")
    spark.range(3).write.parquet(table)
    assert read_parquet(spark, table).columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice") \
        .write.mode("overwrite").parquet(table)
    assert read_parquet(spark, table).columns == ["id", "twice"]


def test_inferred_types_follow_the_confs(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
        "raw": pa.array([b"abc"], pa.binary())}), path)
    nanos, binary = spark.conf.get(NANOS_CONF), spark.conf.get(BINARY_CONF)
    try:
        spark.conf.set(NANOS_CONF, "true")
        spark.conf.set(BINARY_CONF, "false")
        assert read_parquet(spark, path).schema.simpleString() \
            == "struct<ts:bigint,raw:binary>"
        spark.conf.set(BINARY_CONF, "true")
        df = read_parquet(spark, path)
        assert df.schema.simpleString() == "struct<ts:bigint,raw:string>"
        assert df.first().raw == "abc"
        # without nanosAsLong Spark has no type for TIMESTAMP(NANOS): the
        # read must fail as an uncached one does, not plan as bigint
        spark.conf.set(NANOS_CONF, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(NANOS_CONF, nanos)
        spark.conf.set(BINARY_CONF, binary)


@pytest.mark.parametrize("name", ["orders", "events", "documents", "embeddings"])
def test_cached_and_uncached_frames_collect_equal(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    read_parquet(spark, path)
    cached, jobs = plan_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    uncached = spark.read.parquet(path)
    assert cached.schema == uncached.schema
    assert cached.exceptAll(uncached).count() == 0
    assert uncached.exceptAll(cached).count() == 0


def test_corrupt_serving_part_file_raises_after_cached_read(spark, tmp_path):
    serving = str(tmp_path / "serving")
    _compacted(spark, serving)
    assert read_parquet(spark, serving).count() == 12
    [part] = glob.glob(f"{serving}/gen=*/part-*.parquet")

    # Same size and mtime: the schema comes from the cache, the rows do not.
    _overwrite_in_place(part)
    df, jobs = plan_jobs(spark, lambda: read_parquet(spark, serving))
    assert jobs == 0
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        df.collect()

    # A rewrite that changes the size misses the cache; whichever of the
    # read or its first action meets the broken file raises.
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        read_parquet(spark, serving).collect()


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_physical_forms_match_duckdb(spark, tmp_path, unit):
    """``events.ts`` has shipped as TIMESTAMP(NANOS) and as naive
    TIMESTAMP(MICROS); both land on UTC TimestampType equal to DuckDB's
    view of the file, on the inferring read and on the cached one."""
    import duckdb
    from pyspark.sql import types as T

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, None]
    ts = pa.array(ns, pa.timestamp("ns"))
    if unit == "us":
        ts = pa.array([None if v is None else v // 1000 for v in ns],
                      pa.timestamp("us"))
    path = tmp_path / "events.parquet"
    pq.write_table(pa.table({"event_id": pa.array([1, 2, 3], pa.int64()),
                             "ts": ts}), str(path))
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        want = con.execute(f"SELECT * FROM read_parquet('{path}')").df()
    finally:
        con.close()
    for expect_jobs in (True, False):  # miss, then hit
        df, jobs = plan_jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert (jobs > 0) == expect_jobs
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert_frames_match(df.toPandas(), want, f"events.ts[{unit}]")
