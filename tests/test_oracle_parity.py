"""Local replica of the driver's t2 correctness gate: every declared
oracle query runs on Spark and DuckDB at sf0.001 and must match
(row count + columns + order-insensitive values)."""

from __future__ import annotations

import pytest

from financialtransactionmonitoringsystem_spark import queries as registry

from .compare import assert_frames_match, duck_over

ALL = registry.all_queries()
ORACLES = registry.all_oracles()


def test_every_oracle_key_has_a_query():
    missing = set(ORACLES) - set(ALL)
    assert not missing, f"oracles without queries: {missing}"
    # oracle_sql() iterates in queries() order, so a caller that zips the
    # two registries pairs each key with its own oracle
    assert list(ORACLES) == [k for k in ALL if k in ORACLES]


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_parity(key, spark, duck, sf_dir):
    sdf = ALL[key](spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = duck.execute(ORACLES[key]).df()
    assert_frames_match(spdf, dpdf, key)


@pytest.mark.parametrize("key", sorted(set(ALL) - set(ORACLES)))
def test_rows_only_queries_run(key, spark, sf_dir):
    """Keys without an oracle still must run and be deterministic."""
    df = ALL[key](spark, sf_dir)
    n1 = df.count()
    n2 = ALL[key](spark, sf_dir).count()
    assert n1 == n2
    assert n1 >= 0


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_output_types_hashable(key, duck, spark, sf_dir):
    """VERDICT r3 guard: DuckDB widens SUM(BIGINT) to HUGEINT (int128),
    which the driver's value-hash canonicalizes differently from Spark's
    BIGINT despite equal values (it cost q_pipeline_curate its r3 row).
    Every oracle's output schema must stay inside the types the driver
    hashes identically to Spark: no HUGEINT/UHUGEINT ever, and no
    DECIMAL(38,0) *when the Spark twin's column is integral* (ADVICE r4:
    a genuine decimal oracle may legitimately widen to DECIMAL(38,0) --
    flag it only when it is HUGEINT-in-disguise next to a Spark
    BIGINT)."""
    sql = ORACLES[key].rstrip().rstrip(";")
    cols = duck.execute(f"DESCRIBE SELECT * FROM ({sql}) t").fetchall()
    bad = [(c[0], c[1]) for c in cols if c[1] in ("HUGEINT", "UHUGEINT")]
    dec38 = [c[0] for c in cols if c[1] == "DECIMAL(38,0)"]
    if dec38:
        # schema-only resolution of the Spark twin (no job is run)
        spark_types = {f.name: f.dataType.simpleString()
                       for f in ALL[key](spark, sf_dir).schema.fields}
        bad += [(n, "DECIMAL(38,0) vs spark " + spark_types.get(n, "?"))
                for n in dec38
                if spark_types.get(n) in ("tinyint", "smallint", "int", "bigint")]
    assert not bad, (
        f"{key}: oracle columns {bad} would break the driver value-hash; "
        "CAST the aggregate back to the Spark-side type in the SQL")


def test_hll_sketch_estimates_bounded_error_and_lossless_merge(spark, sf_dir):
    """HLL estimates within 5% of exact; union-of-sketches == sketch of union."""
    from pyspark.sql import functions as F

    from financialtransactionmonitoringsystem_spark.operators import aggregates
    from financialtransactionmonitoringsystem_spark.tables import load_table

    est = {r.event_type: r.n_users_est
           for r in aggregates.q_agg_hll(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(est) == set(exact) | {"ALL"}
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(1, 0.05 * e), (k, est[k], e)
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n")).first().n
    assert est["ALL"] == direct


def test_ddsketch_quantiles_within_relative_error_envelope(spark, sf_dir):
    """The log-binned sketch's design guarantee: every estimate within
    ~1% relative error of the EXACT rank quantile (bin half-width
    0.01 in ln space; 0.0102 margin absorbs the micro-nat snap)."""
    import math

    from financialtransactionmonitoringsystem_spark.operators import aggregates
    from financialtransactionmonitoringsystem_spark.tables import load_table

    est = {(r.l_returnflag, r.q_pct): r.est
           for r in aggregates.q_agg_ddsketch(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    vals = {f: sorted(v.l_extendedprice for v in rows)
            for f, rows in ((f, li.filter(li.l_returnflag == f)
                             .select("l_extendedprice").collect())
                            for f in {k[0] for k in est})}
    assert est, "sketch returned no rows"
    for (flag, pct), e in est.items():
        xs = vals[flag]
        exact = xs[max(0, math.ceil(pct * len(xs) / 100) - 1)]
        lo, hi = exact * math.exp(-0.0102), exact * math.exp(0.0102)
        assert lo <= e <= hi, (flag, pct, e, exact)


def test_stream_state_twin_tiebreak_on_planted_tied_timestamps(spark,
                                                                tmp_path):
    """The corpus has zero tied (user_id, ts) pairs, so the parity test
    can never attest q_stream_state's (ts, event_id) tiebreak -- this
    plants a tie where the ORDER decides the reported crossing total
    (both rows individually cross the threshold): the registered form
    picks the LOWER event_id first, and the DuckDB oracle agrees."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from financialtransactionmonitoringsystem_spark.streaming import batch_twins

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
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    d = str(tmp_path)
    pq.write_table(pa.Table.from_pandas(pdf), f"{d}/events.parquet")

    twin = {(r.user_id, r.total) for r in
            ALL["q_stream_state"](spark, d).collect()}
    assert twin == {(1, 1200.0), (2, 1100.0)}

    con = duck_over(d, "events")
    oracle = {(r[0], r[2]) for r in con.execute(
        batch_twins.ORACLES["q_stream_state"]).fetchall()}
    assert oracle == twin


EXPECTED_KEYS = {
    "q_agg_approx",
    "q_agg_approx_quantile",
    "q_agg_collect",
    "q_agg_corr",
    "q_agg_cube",
    "q_agg_distinct",
    "q_agg_global",
    "q_agg_group",
    "q_agg_gsets",
    "q_agg_having",
    "q_agg_histogram",
    "q_agg_hll",
    "q_agg_argmax",
    "q_agg_bitmap",
    "q_agg_ddsketch",
    "q_join_bloom",
    "q_agg_mode",
    "q_agg_rollup",
    "q_agg_salted",
    "q_agg_stats",
    "q_anomaly",
    "q_align_crosslingual",
    "q_cte",
    "q_cte_recursive",
    "q_curate_mixture",
    "q_curate_budget",
    "q_curate_epochs",
    "q_dedup",
    "q_dedup_cluster",
    "q_dedup_embed",
    "q_dedup_exact",
    "q_dedup_fuzzy",
    "q_dedup_incremental",
    "q_dedup_keep_best",
    "q_dedup_minhash",
    "q_dedup_prefix",
    "q_dedup_simhash",
    "q_dedup_url",
    "q_dq_checks",
    "q_embed_quantize",
    "q_embed_stats",
    "q_except",
    "q_export_shards",
    "q_filter_compound",
    "q_filter_null",
    "q_filter_range",
    "q_fn_array",
    "q_fn_cond",
    "q_fn_date",
    "q_fn_decimal",
    "q_fn_json",
    "q_fn_map",
    "q_fn_math",
    "q_fn_string",
    "q_fn_try",
    "q_funnel",
    "q_funnel_sessionized",
    "q_ingest_feed",
    "q_ingest_json",
    "q_intersect",
    "q_join_anti",
    "q_join_asof",
    "q_join_asof_fwd",
    "q_join_broadcast",
    "q_join_full",
    "q_join_inner",
    "q_join_interval",
    "q_join_lateral",
    "q_join_left",
    "q_join_multiway",
    "q_join_salted",
    "q_join_semi",
    "q_join_theta",
    "q_layout_zorder",
    "q_license_propagate",
    "q_merge_upsert",
    "q_mm_audio",
    "q_mm_decode",
    "q_mm_decode_png",
    "q_mm_features",
    "q_mm_frames",
    "q_mm_histogram",
    "q_mm_keyframes",
    "q_mm_meta",
    "q_mm_resize",
    "q_pack_sequences",
    "q_pipeline_curate",
    "q_pivot",
    "q_point_lookup",
    "q_profile",
    "q_project_compute",
    "q_retention",
    "q_retention_funnel",
    "q_sample_hash",
    "q_sample_proportional",
    "q_sample_stratified",
    "q_sample_weighted",
    "q_scan_all",
    "q_scan_prune",
    "q_scd2",
    "q_sessionize",
    "q_shard_balance",
    "q_shard_card",
    "q_sim_cosine",
    "q_sim_ivf",
    "q_sim_knn_per_label",
    "q_sim_lsh",
    "q_snapshot_diff",
    "q_sort_multi",
    "q_stream_dedup",
    "q_stream_distinct",
    "q_stream_flag",
    "q_stream_join",
    "q_stream_join_agg",
    "q_stream_session",
    "q_stream_sliding",
    "q_stream_state",
    "q_stream_topk",
    "q_stream_tumbling",
    "q_subquery_in",
    "q_subquery_scalar",
    "q_text_bpe_pairs",
    "q_text_decontam",
    "q_text_decontam_bylang",
    "q_text_fingerprint",
    "q_text_langid",
    "q_text_linededup",
    "q_text_novelty",
    "q_text_perplexity",
    "q_text_pii",
    "q_text_quality",
    "q_text_repetition",
    "q_text_stats",
    "q_text_tfidf",
    "q_text_tokencount",
    "q_text_tokens",
    "q_topk",
    "q_topk_per_group",
    "q_ts_resample",
    "q_ts_interpolate",
    "q_udaf_centsum",
    "q_udtf_gaps",
    "q_union",
    "q_unpivot",
    "q_win_frame",
    "q_win_lag",
    "q_win_ntile",
    "q_win_range",
    "q_win_rank",
    "q_win_timerange",
}


def test_registry_is_complete():
    """Pins the full key set, so a key dropped from a module's
    ``QUERIES`` (or a module dropped from ``queries._MODULES``) fails CI
    instead of silently shrinking the registry."""
    import __spark_entry__ as E

    got = set(E.queries())
    missing = EXPECTED_KEYS - got
    assert not missing, f"registry lost keys: {sorted(missing)}"


def test_bench_headline_keys_all_resolve():
    """bench.py silently skips HEADLINE keys missing from the registry
    (deliberate during development); this pins that none are actually
    missing, so a typo'd key cannot silently shrink the benchmark."""
    import __spark_entry__ as E
    from bench import HEADLINE

    got = set(E.queries())
    unknown = [k for k in HEADLINE if k not in got]
    assert not unknown, f"HEADLINE names unregistered keys: {unknown}"
    assert len(set(HEADLINE)) == len(HEADLINE), "duplicate HEADLINE keys"
