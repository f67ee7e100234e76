"""Structured Streaming pipelines driven to completion with the memory
sink (availableNow): streaming results must equal their batch twins when
no data is late."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.streaming import batch_twins, pipeline


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return pipeline.stream_events(spark, sf_dir)


def _table(spark, name):
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_equals_batch_twin(spark, sf_dir, events_stream):
    pipeline.run_to_memory(pipeline.tumbling_counts(events_stream), "t_tumble", "complete")
    got = {tuple(r) for r in _table(spark, "t_tumble").collect()}
    want = {tuple(r) for r in batch_twins.q_stream_tumbling(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_sliding_stream_equals_batch_twin(spark, sf_dir, events_stream):
    pipeline.run_to_memory(pipeline.sliding_spend(events_stream), "t_slide", "complete")
    got = {tuple(r) for r in _table(spark, "t_slide").collect()}
    want = {tuple(r) for r in batch_twins.q_stream_sliding(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_session_stream_equals_batch_twin(spark, sf_dir, events_stream):
    pipeline.run_to_memory(pipeline.session_per_user(events_stream), "t_sess", "complete")
    got = {tuple(r) for r in _table(spark, "t_sess").collect()}
    want = {tuple(r) for r in batch_twins.q_stream_session(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_removes_duplicates(spark, sf_dir, events_stream):
    doubled = events_stream.unionByName(events_stream)
    pipeline.run_to_memory(pipeline.dedup_stream(doubled), "t_dedup")
    n_unique = _table(spark, "t_dedup").count()
    n_source = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_unique == n_source


def test_dedup_submissions_matches_batch_twin_keys(spark, sf_dir, duck,
                                                   events_stream):
    """Keyed streaming dedup (dropDuplicatesWithinWatermark on the
    (user, type, hour) submission key) must keep exactly one row per
    key -- the twin's key set.  Row-level equality is deliberately NOT
    asserted against the live form: within a micro-batch the kept row
    is the first ARRIVAL, which equals the twin's first-by-(ts,
    event_id) only for per-key in-order sources (the documented source
    contract); the twin's exact rows are pinned against its DuckDB
    oracle instead."""
    pipeline.run_to_memory(
        pipeline.dedup_submissions(events_stream), "t_dedup_sub")
    got = {(r.user_id, r.event_type, r.hour) for r in
           spark.sql("SELECT user_id, event_type, hour FROM t_dedup_sub")
           .collect()}
    twin = batch_twins.q_stream_dedup(spark, sf_dir)
    want = {(r.user_id, r.event_type, r.hour) for r in twin.collect()}
    assert got == want and len(got) > 0
    # the key must actually collapse something on this corpus
    assert len(got) < spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # twin-vs-oracle exact rows (registered as q_stream_dedup round 10;
    # kept here so the live-vs-twin and twin-vs-oracle legs share a run)
    from .compare import assert_frames_match
    assert_frames_match(twin.toPandas(),
                        duck.execute(batch_twins.STREAM_DEDUP_ORACLE).df(),
                        "q_stream_dedup")


def test_threshold_alerts(spark, sf_dir, events_stream):
    pipeline.run_to_memory(pipeline.threshold_alerts(events_stream, 180.0), "t_alerts")
    alerts = _table(spark, "t_alerts")
    assert alerts.filter(F.col("value") <= 180.0).count() == 0
    from financialtransactionmonitoringsystem_spark.tables import load_table

    expected = load_table(spark, sf_dir, "events").filter(F.col("value") > 180.0).count()
    assert alerts.count() == expected


def test_velocity_alerts_match_flag_twin(spark, sf_dir, events_stream):
    pipeline.run_to_memory(pipeline.velocity_alerts(events_stream, max_per_hour=3), "t_vel", "complete")
    got = {(r.ws, r.user_id, r.n) for r in _table(spark, "t_vel").collect()}
    twin = batch_twins.q_stream_flag(spark, sf_dir).filter(F.col("n") >= 3)
    want = {(r.ws, r.user_id, r.n) for r in twin.collect()}
    assert got == want


def test_foreachbatch_compaction_point_lookup(spark, sf_dir, events_stream):
    tmp = tempfile.mkdtemp(prefix="fintxmon_serving_")
    try:
        pipeline.run_compaction(events_stream, f"{tmp}/serving", f"{tmp}/ckpt")
        serving = spark.read.parquet(f"{tmp}/serving")
        n_keys = serving.select("event_id").distinct().count()
        assert serving.count() == n_keys  # one row per key
        one = serving.filter(F.col("event_id") == 7).collect()
        assert len(one) == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compaction_rewrites_only_touched_buckets(spark):
    """Round-2 VERDICT #4: compaction must be O(batch), not O(table).
    A micro-batch touching one key bucket must leave every other bucket's
    files byte-for-byte alone (same paths, same mtimes), while the
    touched key serves the new latest row."""
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

        got = pipeline.serving_lookup(spark, serving, 3).collect()
        assert len(got) == 1 and got[0].value == 99.0
        assert spark.read.parquet(serving).count() == 16  # still 1 row/key
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_balance_alerts_match_batch_twin(spark, sf_dir, events_stream):
    """applyInPandasWithState crossing alerts == batch running-sum twin."""
    from financialtransactionmonitoringsystem_spark.streaming import stateful
    from financialtransactionmonitoringsystem_spark.util import rnd

    pipeline.run_to_memory(
        stateful.balance_alerts_stateful(events_stream), "t_state")
    got = {(r.user_id, r.ts, r.total) for r in
           spark.sql("SELECT user_id, ts, total FROM t_state")
           .select("user_id", "ts", rnd(F.col("total")).alias("total")).collect()}
    want = {(r.user_id, r.ts, r.total) for r in
            batch_twins.q_stream_state(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_stream_state_tiebreak_on_planted_tied_timestamps(spark, tmp_path):
    """The corpus has zero tied (user_id, ts) pairs, so the oracle can
    never attest the round-9 (ts, event_id) tiebreak -- this plants a
    tie where the ORDER decides the reported crossing total (both rows
    individually cross the threshold) and pins all three forms: the
    batch twin picks the LOWER event_id first, the DuckDB oracle
    agrees, and the live stateful form folds the same order."""
    import duckdb

    from financialtransactionmonitoringsystem_spark.streaming import stateful
    from financialtransactionmonitoringsystem_spark.util import rnd

    t0 = "2024-01-01 00:00:00"
    rows = [
        # user 1: two rows at the SAME ts, each alone >= 1000.  First by
        # event_id is id 1 (value 1200) -> crossing total must be 1200,
        # not 1500.
        (2, t0, 1, "purchase", 1500.0, "{}"),
        (1, t0, 1, "purchase", 1200.0, "{}"),
        # user 2: untied control, crosses at the second event.
        (3, t0, 2, "purchase", 700.0, "{}"),
        (4, "2024-01-01 01:00:00", 2, "purchase", 400.0, "{}"),
    ]
    # single-file parquet, the same physical shape as the testdata
    # (stream_events symlinks the file; a directory would need
    # recursive lookup)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    d = str(tmp_path / "planted")
    import os
    os.makedirs(d)
    pq.write_table(pa.Table.from_pandas(pdf), f"{d}/events.parquet")

    twin = {(r.user_id, r.total) for r in
            batch_twins.q_stream_state(spark, d).collect()}
    assert twin == {(1, 1200.0), (2, 1100.0)}

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{d}/events.parquet')")
    oracle = {(r[0], r[2]) for r in con.execute(
        batch_twins.ORACLES["q_stream_state"]).fetchall()}
    assert oracle == twin

    live_src = pipeline.stream_events(spark, d)
    pipeline.run_to_memory(
        stateful.balance_alerts_stateful(live_src), "t_state_tie")
    got = {(r.user_id, r.total) for r in
           spark.sql("SELECT user_id, total FROM t_state_tie")
           .select("user_id", rnd(F.col("total")).alias("total")).collect()}
    assert got == twin


def test_update_mode_velocity_alerts(spark, sf_dir, events_stream):
    """Update output mode: with a single availableNow batch the updated
    rows are exactly the final windowed-agg alert set."""
    from financialtransactionmonitoringsystem_spark.tables import load_table

    pipeline.run_to_memory(
        pipeline.velocity_alerts(events_stream, max_per_hour=2), "t_vel_upd", "update")
    got = {(r.ws, r.user_id, r.n) for r in _table(spark, "t_vel_upd").collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(F.col("w.start").alias("ws"), "user_id", "n")
    )
    want = {(r.ws, r.user_id, r.n) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_tws_balance_alerts_match_batch_twin(spark, sf_dir, events_stream):
    """transformWithStateInPandas (Spark 4 stateful API) == batch twin."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState needs protobuf in the Python workers")
    from financialtransactionmonitoringsystem_spark.streaming import stateful
    from financialtransactionmonitoringsystem_spark.util import rnd

    pipeline.run_to_memory(
        stateful.balance_alerts_tws(events_stream), "t_tws")
    got = {(r.user_id, r.ts, r.total) for r in
           spark.sql("SELECT user_id, ts, total FROM t_tws")
           .select("user_id", "ts", rnd(F.col("total")).alias("total")).collect()}
    want = {(r.user_id, r.ts, r.total) for r in
            batch_twins.q_stream_state(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_stream_static_join_enriches_events(spark, sf_dir, events_stream):
    """Stream-static join: every event carries its customer dim row."""
    from financialtransactionmonitoringsystem_spark.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    pipeline.run_to_memory(
        pipeline.enrich_with_customers(events_stream, cust), "t_enrich")
    got = _table(spark, "t_enrich")
    ev = load_table(spark, sf_dir, "events")
    assert got.count() == ev.count()
    joined = ev.join(cust, ev.user_id == cust.c_custkey, "left")
    assert (got.filter(F.col("c_name").isNotNull()).count()
            == joined.filter(F.col("c_name").isNotNull()).count())


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_stream):
    """Stream-stream interval join == the batch interval-join pair set."""
    from financialtransactionmonitoringsystem_spark.operators.relational import (
        interval_join_bucketed)
    from financialtransactionmonitoringsystem_spark.tables import load_table

    pipeline.run_to_memory(
        pipeline.purchases_with_errors(events_stream), "t_ss_join")
    got = {(r.p_event_id, r.user_id, r.p_ts, r.e_ts) for r in
           _table(spark, "t_ss_join").collect()}

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"))
    pairs = interval_join_bucketed(purchases, errors, "user_id", "p_ts", "e_ts", 1800)
    want = {(r.event_id, r.user_id, r.p_ts, r.e_ts) for r in pairs.collect()}
    assert got == want and len(got) > 0
    # and the oracle-checked registry twin agrees with both
    twin = {(r.p_event_id, r.user_id, r.p_ts, r.e_ts) for r in
            batch_twins.q_stream_join(spark, sf_dir).collect()}
    assert twin == want


def test_stream_distinct_sketch_within_hll_error_of_exact(spark, sf_dir, events_stream):
    pipeline.run_to_memory(pipeline.distinct_users(events_stream), "t_users", "complete")
    got = {r.ws: (r.n_users, r.n_events) for r in _table(spark, "t_users").collect()}
    exact = {r.ws: (r.n_users, r.n_events)
             for r in batch_twins.q_stream_distinct(spark, sf_dir).collect()}
    assert set(got) == set(exact) and got
    for ws, (n_users, n_events) in got.items():
        assert n_events == exact[ws][1]          # plain count is exact
        rel = abs(n_users - exact[ws][0]) / max(exact[ws][0], 1)
        assert rel <= 0.1, f"window {ws}: sketch {n_users} vs exact {exact[ws][0]}"


def test_stream_topk_dashboard_equals_batch_twin(spark, sf_dir, events_stream):
    """The live dashboard (sink persists ALL totals; top-k cut at read
    time via topk_dashboard) must equal the batch-twin ranking."""
    tmp = tempfile.mkdtemp(prefix="fintxmon_topk_")
    try:
        pipeline.run_topk_dashboard(events_stream, f"{tmp}/dash", f"{tmp}/ckpt")
        dash = pipeline.topk_dashboard(
            spark, f"{tmp}/dash", k=batch_twins.TOPK_PER_WINDOW)
        got = {(r.ws, r.event_type, r.total, r.rn)
               for r in dash.select("ws", "event_type", "total", "rn").collect()}
        want = {(r.ws, r.event_type, r.total, r.rn)
                for r in batch_twins.q_stream_topk(spark, sf_dir).collect()}
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_topk_sink_two_batch_merge_and_reentry(spark):
    """Drive the foreachBatch dashboard sink directly with two
    micro-batches (ADVICE r3/r4: the merge path had no explicit test).

    Batch 2 updates one event_type in an existing window.  Checks:
    * the untouched window's rows survive byte-identically,
    * the touched window re-ranks correctly at read time,
    * an event type evicted from the top-k by batch 2 re-enters when a
      later batch shrinks the usurper (the eviction-permanence bug the
      r4 refactor fixed),
    * an existing-but-empty out_dir counts as "first batch" (mkdtemp
      pre-creates the directory -- ADVICE r4 medium).
    """
    import datetime

    schema = "ws timestamp, event_type string, n bigint, total double"
    w1 = datetime.datetime(2025, 1, 1, 10)
    w2 = datetime.datetime(2025, 1, 1, 11)
    tmp = tempfile.mkdtemp(prefix="fintxmon_topk_merge_")
    dash = f"{tmp}/dash"
    try:
        import os

        os.makedirs(dash)  # exists-but-empty: must behave as first batch
        sink = pipeline.topk_per_window_sink(dash)
        sink(spark.createDataFrame(
            [(w1, "purchase", 5, 100.0), (w1, "view", 3, 80.0),
             (w1, "error", 1, 60.0),
             (w2, "purchase", 2, 40.0), (w2, "view", 1, 10.0)],
            schema), 0)

        def top(k=2):
            return {(r.ws, r.event_type, r.total, r.rn) for r in
                    pipeline.topk_dashboard(spark, dash, k=k)
                    .select("ws", "event_type", "total", "rn").collect()}

        assert top(2) == {(w1, "purchase", 100.0, 1), (w1, "view", 80.0, 2),
                          (w2, "purchase", 40.0, 1), (w2, "view", 10.0, 2)}

        # batch 2 touches only w1: 'error' overtakes 'view' (evicts it)
        sink(spark.createDataFrame([(w1, "error", 4, 90.0)], schema), 1)
        assert top(2) == {(w1, "purchase", 100.0, 1), (w1, "error", 90.0, 2),
                          (w2, "purchase", 40.0, 1), (w2, "view", 10.0, 2)}
        # the untouched window and w1's unmentioned types survived the merge
        stored = {(r.ws, r.event_type, r.total) for r in
                  spark.read.parquet(dash).collect()}
        assert stored == {(w1, "purchase", 100.0), (w1, "view", 80.0),
                          (w1, "error", 90.0),
                          (w2, "purchase", 40.0), (w2, "view", 10.0)}

        # batch 3 shrinks 'error' (update-mode totals supersede): the
        # previously-evicted 'view' must re-enter the top-2.
        sink(spark.createDataFrame([(w1, "error", 4, 70.0)], schema), 2)
        assert top(2) == {(w1, "purchase", 100.0, 1), (w1, "view", 80.0, 2),
                          (w2, "purchase", 40.0, 1), (w2, "view", 10.0, 2)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_forms_green_under_rocksdb_state_store(spark, sf_dir,
                                                        events_stream):
    """VERDICT r5 #8: the stateful forms must be green under BOTH state
    store providers -- RocksDB bounds state by executor disk instead of
    heap at scale.  Re-runs streaming dedup, the chained stateful query
    (stream-stream join -> windowed agg), and the applyInPandasWithState
    operator with the RocksDB provider and compares against the same
    expectations as their default-provider tests."""
    import datetime

    from financialtransactionmonitoringsystem_spark.streaming import stateful
    from financialtransactionmonitoringsystem_spark.tables import load_table
    from financialtransactionmonitoringsystem_spark.util import rnd

    default = spark.conf.get(pipeline.STATE_PROVIDER_CONF)
    with pipeline.state_store_provider(spark):
        assert spark.conf.get(pipeline.STATE_PROVIDER_CONF) \
            == pipeline.ROCKSDB_STATE_PROVIDER
        # watermarked streaming dedup
        doubled = events_stream.unionByName(events_stream)
        pipeline.run_to_memory(pipeline.dedup_stream(doubled), "t_dedup_rdb")
        assert _table(spark, "t_dedup_rdb").count() \
            == spark.read.parquet(f"{sf_dir}/events.parquet").count()
        # chained stateful: interval join -> windowed agg
        pipeline.run_to_memory(
            pipeline.purchase_error_rate(events_stream), "t_join_agg_rdb")
        got = {(r.ws, r.n_pairs)
               for r in _table(spark, "t_join_agg_rdb").collect()}
        ev = load_table(spark, sf_dir, "events")
        horizon = (ev.agg(F.max("ts")).collect()[0][0]
                   - datetime.timedelta(minutes=10))
        want = {(r.ws, r.n_pairs)
                for r in batch_twins.q_stream_join_agg(spark, sf_dir).collect()
                if r.ws + datetime.timedelta(hours=1) <= horizon}
        assert got == want and len(got) > 0
        # custom stateful operator (applyInPandasWithState)
        pipeline.run_to_memory(
            stateful.balance_alerts_stateful(events_stream), "t_state_rdb")
        got = {(r.user_id, r.ts, r.total) for r in
               spark.sql("SELECT user_id, ts, total FROM t_state_rdb")
               .select("user_id", "ts",
                       rnd(F.col("total")).alias("total")).collect()}
        want = {(r.user_id, r.ts, r.total) for r in
                batch_twins.q_stream_state(spark, sf_dir).collect()}
        assert got == want and len(got) > 0
    assert spark.conf.get(pipeline.STATE_PROVIDER_CONF) == default


def test_chained_stateful_join_then_window_agg(spark, sf_dir, events_stream):
    """Two stateful operators in ONE streaming query (stream-stream
    interval join -> windowed agg).  Append mode emits an hour only
    once the watermark passes its end, so a single availableNow pass
    yields exactly the twin rows whose window closed under the final
    watermark (max event time - 10 min); the held-back tail is the
    correctness of the watermark, not a loss."""
    from financialtransactionmonitoringsystem_spark.tables import load_table

    pipeline.run_to_memory(
        pipeline.purchase_error_rate(events_stream), "t_join_agg")
    got = {(r.ws, r.n_pairs) for r in _table(spark, "t_join_agg").collect()}

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime
    horizon = max_ts - datetime.timedelta(minutes=10)
    want = {(r.ws, r.n_pairs)
            for r in batch_twins.q_stream_join_agg(spark, sf_dir).collect()
            if r.ws + datetime.timedelta(hours=1) <= horizon}
    assert got == want and len(got) > 0


def test_stream_dedup_reemits_after_state_expiry(spark):
    """The watermark-boundary contract of dropDuplicatesWithinWatermark
    (the round-10 q_stream_dedup live form): dedup is exactly-once per
    key only while the key's state lives.  State expires when the
    event-time watermark passes first_ts + delay AND a subsequent
    micro-batch commits (eviction runs in the commit phase, so the
    immediately-following batch still sees the state); after that, a
    later same-key row above the watermark is EMITTED AGAIN.  The batch
    twin is global and cannot show this -- at 100 TB the delay is a
    correctness knob (set it >= the retry horizon), not just a
    state-size knob.  Driven as three real micro-batches: a file source
    with maxFilesPerTrigger=1 under availableNow, watermark advancing
    between batches."""
    import datetime
    import os
    import time

    tmp = tempfile.mkdtemp(prefix="fintxmon_dedup_expiry_")
    try:
        schema = "user_id bigint, event_type string, ts timestamp"

        def t(m):
            return datetime.datetime(2026, 1, 1, 10, m, 0)

        def write_one(rows, sub):
            (spark.createDataFrame(rows, schema).coalesce(1)
             .write.mode("overwrite").parquet(f"{tmp}/{sub}"))
            part = next(p for p in os.listdir(f"{tmp}/{sub}")
                        if p.endswith(".parquet"))
            os.rename(f"{tmp}/{sub}/{part}", f"{tmp}/{sub}.parquet")
            shutil.rmtree(f"{tmp}/{sub}")  # no stray subdir for the source
            return f"{tmp}/{sub}.parquet"

        # batch 1: the key's first arrival (10:00), an in-delay in-batch
        # duplicate (10:02 -> collapsed), and a second key at 10:25 that
        # drags the watermark to 10:15 -- past the first key's
        # 10:00+10min state expiry.
        f1 = write_one([(1, "click", t(0)),
                        (1, "click", t(2)),
                        (9, "other", t(25))], "b1")
        # batch 2: in-delay CROSS-BATCH duplicate of the 10:25 key
        # (collapsed -- its state is live), and the commit that evicts
        # the expired 10:00 key's state.
        f2 = write_one([(9, "other", t(26))], "b2")
        # batch 3: same (user, type, hour) key as 10:00, at 10:20 --
        # above the 10:16 watermark (not late), state evicted ->
        # re-emitted.
        f3 = write_one([(1, "click", t(20))], "b3")
        now = time.time()
        os.utime(f1, (now - 120, now - 120))  # pin FIFO file order
        os.utime(f2, (now - 60, now - 60))
        os.utime(f3, (now, now))

        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(tmp))
        pipeline.run_to_memory(pipeline.dedup_submissions(src),
                               "t_dedup_expiry")
        got = sorted((r.user_id, r.event_type, str(r.ts)) for r in
                     spark.sql("SELECT user_id, event_type, ts"
                               " FROM t_dedup_expiry").collect())
        assert got == [
            (1, "click", "2026-01-01 10:00:00"),   # first arrival kept
            # 10:02 in-batch duplicate collapsed (within delay)
            (1, "click", "2026-01-01 10:20:00"),   # re-emitted post-expiry
            (9, "other", "2026-01-01 10:25:00"),
            # 10:26 cross-batch duplicate collapsed (state still live)
        ], got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stage_symlink_race_tolerant_and_validates_target(tmp_path):
    """_stage_symlink's TOCTOU close (ADVICE r12): a concurrent stager
    winning the create race with the SAME target is success (the EEXIST
    is swallowed and the link re-validated), while a link to a
    DIFFERENT target still raises loudly instead of silently serving
    another corpus's file.  A DANGLING link (the leftover of a deleted
    or regenerated sf_dir) is healed, not reported as a clash: the old
    exists()-guarded create raised FileExistsError on it (ADVICE r11)."""
    import os

    target = tmp_path / "data.parquet"
    target.write_bytes(b"x")
    stage = tmp_path / "stage"
    stage.mkdir()

    # idempotent: second call over a valid link is a no-op
    pipeline._stage_symlink(str(stage), "t.parquet", str(target))
    pipeline._stage_symlink(str(stage), "t.parquet", str(target))
    assert os.path.realpath(stage / "t.parquet") == str(target)

    # the race shape: link appears (same target) between check and
    # create -- simulated by pre-creating it; must not raise
    other = tmp_path / "other.parquet"
    other.write_bytes(b"y")
    os.symlink(str(target), stage / "race.parquet")
    pipeline._stage_symlink(str(stage), "race.parquet", str(target))

    # a dangling link left by a deleted target is replaced
    os.symlink(str(tmp_path / "deleted.parquet"), stage / "stale.parquet")
    pipeline._stage_symlink(str(stage), "stale.parquet", str(target))
    assert os.path.realpath(stage / "stale.parquet") == str(target)

    # a DIFFERENT target under our name is never acceptable
    os.symlink(str(other), stage / "clash.parquet")
    with pytest.raises(FileExistsError, match="points at"):
        pipeline._stage_symlink(str(stage), "clash.parquet", str(target))
