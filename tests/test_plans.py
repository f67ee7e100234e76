"""Physical-plan contract tests: the scale properties SURVEY.md §4.2
promises must be visible in the plans, not just intended.

A failure here means a plan regression (lost pushdown, accidental
cartesian, un-broadcast dimension join) even if answers are still right.
"""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.operators import relational, topk, aggregates
from financialtransactionmonitoringsystem_spark.plans import inspect as P


def test_point_lookup_pushes_equality_into_scan(spark, sf_dir):
    """The reference point lookup is O(n) per request (main.rs:95); ours
    must push the predicate to parquet (row-group skipping)."""
    df = relational.q_point_lookup(spark, sf_dir)
    pf = P.pushed_filters(df)
    assert "EqualTo(l_orderkey,42)" in pf, pf


def test_range_filter_pushes_bounds(spark, sf_dir):
    df = relational.q_filter_range(spark, sf_dir)
    pf = P.pushed_filters(df)
    assert "GreaterThanOrEqual(l_quantity,10" in pf and "LessThan(l_quantity,25" in pf, pf


def test_projection_prunes_read_schema(spark, sf_dir):
    df = relational.q_scan_prune(spark, sf_dir)
    rs = P.read_schema(df)
    assert "l_orderkey" in rs and "l_extendedprice" in rs
    assert "l_comment" not in rs and "l_shipdate" not in rs and "l_quantity" not in rs, rs


def test_multiway_join_broadcasts_dims_no_cartesian(spark, sf_dir):
    df = relational.q_join_multiway(spark, sf_dir)
    assert P.has_broadcast_join(df)
    assert not P.has_cartesian(df)


def test_explicit_broadcast_join_has_no_shuffle_join(spark, sf_dir):
    df = relational.q_join_broadcast(spark, sf_dir)
    assert P.has_broadcast_join(df)
    assert not P.has_sort_merge_join(df)


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    df = topk.q_topk(spark, sf_dir)
    assert P.has_take_ordered(df)


def test_group_agg_is_partial_before_shuffle(spark, sf_dir):
    df = aggregates.q_agg_group(spark, sf_dir)
    assert P.has_partial_aggregation(df)
    assert P.n_shuffles(df) <= 1, P.plan_str(df, "simple")


def test_interval_join_is_equi_not_cartesian(spark, sf_dir):
    """The bucketed interval join must not degrade to a cartesian/
    nested-loop product."""
    df = relational.q_join_interval(spark, sf_dir)
    assert not P.has_cartesian(df)


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    """The union+window as-of join should cost one hash partition on the
    key (plus local sorts), never a range cross-product."""
    df = relational.q_join_asof(spark, sf_dir)
    assert not P.has_cartesian(df)
    assert P.n_shuffles(df) <= 2, P.plan_str(df, "simple")


def test_scan_all_has_no_shuffle(spark, sf_dir):
    df = relational.q_scan_all(spark, sf_dir)
    assert P.n_shuffles(df) == 0


def test_codegen_present_in_hot_paths(spark, sf_dir):
    assert P.wholestage_codegen_ids(aggregates.q_agg_group(spark, sf_dir)) >= 1


def test_dedup_verify_joins_never_force_broadcast(spark, sf_dir):
    """Round-2 VERDICT #2: with stats-driven broadcasting disabled, the
    minhash-verify plan must contain no BroadcastExchange at all --
    proving no hint ships the corpus token table to every executor (OOM
    at 10^9 docs).  A stats-driven
    broadcast chosen by Catalyst at test scale would reverse itself as the
    stats grow; a hint would not, so hints are what this test bans."""
    from financialtransactionmonitoringsystem_spark.operators import dedup

    from financialtransactionmonitoringsystem_spark.tables import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = P.plan_str(dedup.q_dedup_minhash(spark, sf_dir), "simple")
        assert "BroadcastExchange" not in plan, plan
        # The band-bucket candidate join is materialized inside
        # q_dedup_minhash; check its lazy plan too.
        docs = load_table(spark, sf_dir, "documents")
        cands = dedup.lsh_candidates(
            dedup.minhash_signatures(dedup._tok_sets(docs)))
        assert not P.has_cartesian(cands)
        assert "BroadcastExchange" not in P.plan_str(cands, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_is_shuffle_join_no_cartesian(spark, sf_dir):
    """The salted join must stay an equi (sort-merge/shuffle-hash) join on
    (key, salt): no cartesian blow-up, no broadcast (the hint forces the
    shuffle path salting exists for)."""
    from financialtransactionmonitoringsystem_spark.operators import skew
    df = skew.q_join_salted(spark, sf_dir)
    assert not P.has_cartesian(df)
    assert P.has_sort_merge_join(df) or "ShuffledHashJoin" in P.plan_str(df)


def test_prefix_dedup_stays_equi_join_without_broadcast(spark, sf_dir):
    """The prefix-filtered exact dedup must be pure equi-joins end to end
    (candidate join on (tok, lang), verify joins on doc_id): no cartesian
    product, and -- with stats-driven broadcasting disabled -- no
    BroadcastExchange hint shipping the corpus anywhere."""
    from financialtransactionmonitoringsystem_spark.operators import dedup

    from financialtransactionmonitoringsystem_spark.tables import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the verify plan (candidates are pre-materialized inside q_*)
        df = dedup.q_dedup_prefix(spark, sf_dir)
        assert not P.has_cartesian(df)
        assert "BroadcastExchange" not in P.plan_str(df, "simple")
        # the lazy candidate-join plan the materialization runs
        cands = dedup.prefix_candidates(load_table(spark, sf_dir, "documents"))
        assert not P.has_cartesian(cands)
        assert "BroadcastExchange" not in P.plan_str(cands, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pack_sequences_spreads_langs_over_partitions(spark, sf_dir):
    """The scale form of sequence packing (VERDICT r4 #4) must NOT
    serialize a language onto one task: range partitioning on
    (lang, doc_id) spreads each language over many partitions, and the
    per-partition offset table joins back as a broadcast (never a
    shuffle join against the corpus)."""
    from financialtransactionmonitoringsystem_spark.operators import curate

    df = curate._packed_with_pid(spark, sf_dir, n_parts=8)
    assert not P.has_cartesian(df)
    plan = P.plan_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan  # offsets join side is tiny
    # >1 task per lang: the busiest language spans multiple range
    # partitions (pid = spark_partition_id after repartitionByRange).
    spread = (df.groupBy("lang")
              .agg(F.countDistinct("pid").alias("n_pids"))
              .agg(F.max("n_pids").alias("mx")).collect()[0].mx)
    assert spread > 1, f"every lang landed on a single partition: {spread}"


def test_stratified_sample_has_no_shuffle(spark, sf_dir):
    """Hash sampling is a pure filter: zero exchanges at production
    input widths.  On narrow (one-row-group) input, q_sample_hash's
    scan_wide guard adds EXACTLY the one parallelism exchange, and the
    nondeterministic pin keeps the md5 filter above it (r17
    optimization round) -- without the pin, alias re-substitution
    pushes the md5 back into the one-task scan."""
    from financialtransactionmonitoringsystem_spark.operators import curate, extras

    assert P.n_shuffles(curate.q_sample_stratified(spark, sf_dir)) == 0
    # production-width contract: scan_wide is a plan-time no-op (the
    # SAME object back) once the input already spans the session width,
    # so the wide-input q_sample_hash plan is the pure filter.  (The
    # conf cannot be toggled around the query itself: load_table
    # re-applies the engine's runtime confs.)
    from financialtransactionmonitoringsystem_spark.tables import load_table, scan_wide

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = load_table(spark, sf_dir, "lineitem").repartition(width)
    assert scan_wide(wide, "l_orderkey") is wide
    # narrow-input contract: one guard exchange, md5 above it
    plan = P.plan_str(extras.q_sample_hash(spark, sf_dir), "simple")
    assert P.n_shuffles(extras.q_sample_hash(spark, sf_dir)) == 1
    # simple mode prints consumers above producers: md5 first = above
    assert plan.index("md5") < plan.index("Exchange "), plan


def test_scan_wide_light_work_size_gate(spark, sf_dir, monkeypatch):
    """The r18 light-work refinement of the r17 scan guard: a light
    per-row-work caller skips the guard while the compressed input is
    below the size threshold (one extra stage costs more than the
    serial work it parallelizes), re-enables it above (forced by
    lowering the threshold), and the guard stays value-neutral -- a
    repartition cannot change what an aggregation computes."""
    from financialtransactionmonitoringsystem_spark import tables
    from financialtransactionmonitoringsystem_spark.operators import text
    from financialtransactionmonitoringsystem_spark.tables import (
        load_table, scan_wide)

    docs = load_table(spark, sf_dir, "documents")
    # small + light: identity (not merely an equal plan -- the SAME
    # object, the production-width contract's sibling)
    assert scan_wide(docs, "doc_id", light=True) is docs
    # heavy (default) on the same small input: guard applies
    assert scan_wide(docs, "doc_id") is not docs
    small = text.q_text_bpe_pairs(spark, sf_dir)
    assert "hashpartitioning(doc_id" not in P.plan_str(small, "simple")
    rows_small = small.collect()
    monkeypatch.setattr(tables, "SCAN_WIDE_LIGHT_MIN_BYTES", 1)
    # narrow input past the threshold: the r17 guard re-appears
    assert scan_wide(docs, "doc_id", light=True) is not docs
    big = text.q_text_bpe_pairs(spark, sf_dir)
    assert "hashpartitioning(doc_id" in P.plan_str(big, "simple")
    rows_big = big.collect()
    assert rows_small == rows_big


def test_input_bytes_reads_percent_encoded_paths(spark, tmp_path):
    """``inputFiles()`` returns URIs, so a space arrives as ``%20``: the
    size gate must decode it, not treat the input as unknown."""
    from financialtransactionmonitoringsystem_spark.tables import _input_bytes

    out = tmp_path / "with space"
    spark.range(100).write.parquet(str(out))
    assert _input_bytes(spark.read.parquet(str(out))) == sum(
        f.stat().st_size for f in out.glob("part-*.parquet"))


def test_input_bytes_unknown_for_in_memory_frames(spark):
    """A frame with no input files has an unknown size (``None``, treated
    as big), not 0 -- 0 would let the light-work gate skip the guard."""
    from financialtransactionmonitoringsystem_spark.tables import _input_bytes

    assert _input_bytes(spark.createDataFrame([(1,), (2,)], "x int")) is None
    assert _input_bytes(spark.range(10)) is None


def test_decontam_join_is_gram_keyed_not_pairwise(spark, sf_dir):
    """Decontamination joins on the exploded n-gram (an equi key), never
    a document-pair product."""
    from financialtransactionmonitoringsystem_spark.operators import text

    assert not P.has_cartesian(text.q_text_decontam(spark, sf_dir))


def test_curate_budget_spreads_langs_over_partitions(spark, sf_dir):
    """Budget selection reuses the range-partitioned running sum: the
    offsets join back as a broadcast and a language's prefix sum spans
    multiple partitions instead of one window task."""
    from financialtransactionmonitoringsystem_spark.operators import curate

    df = curate._budget_with_pid(spark, sf_dir, n_parts=8)
    assert not P.has_cartesian(df)
    assert "BroadcastHashJoin" in P.plan_str(df, "simple")
    spread = (df.groupBy("lang")
              .agg(F.countDistinct("pid").alias("n_pids"))
              .agg(F.max("n_pids").alias("mx")).collect()[0].mx)
    assert spread > 1, f"every lang landed on a single partition: {spread}"


def test_weighted_sample_is_single_exchange_ranking(spark, sf_dir):
    """The A-ES key is computed per-row at the scan; the only shuffle is
    the per-source top-k window (same shape as q_topk_per_group)."""
    from financialtransactionmonitoringsystem_spark.operators import curate

    df = curate.q_sample_weighted(spark, sf_dir)
    assert not P.has_cartesian(df)
    assert P.n_shuffles(df) == 1


def test_perplexity_joins_on_token_not_doc_pairs(spark, sf_dir):
    """The LM score join is keyed on the token (model row per distinct
    token); the corpus-total sides are broadcast -- no cartesian doc
    products anywhere."""
    from financialtransactionmonitoringsystem_spark.operators import text

    assert not P.has_cartesian(text.q_text_perplexity(spark, sf_dir))


def test_incremental_dedup_probes_index_no_cartesian(spark, sf_dir):
    """The incremental gate must stay an equi-join probe of delta
    prefixes against the corpus prefix index -- no cartesian product,
    and no corpus-side BroadcastExchange once stats-driven broadcasting
    is off (at scale the corpus index is the big, persisted side)."""
    from financialtransactionmonitoringsystem_spark.operators import dedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dedup.q_dedup_incremental(spark, sf_dir)
        assert not P.has_cartesian(df)
        assert "BroadcastExchange" not in P.plan_str(df, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_merge_upsert_is_keyed_joins_single_base_pattern(spark, sf_dir):
    """MERGE compiles to keyed anti-joins + union: no cartesian, and the
    changeset derivation pushes its modulo filters to the scan (the base
    passthrough reads once, the update branch reads the filtered key
    space, never a full re-scan per branch at the plan's mercy)."""
    df = relational.q_merge_upsert(spark, sf_dir)
    assert not P.has_cartesian(df)
    s = P.plan_str(df, "simple")
    assert "Union" in s and ("LeftAnti" in s or "left_anti" in s), s


def test_funnel_is_single_user_exchange(spark, sf_dir):
    """The funnel's promise: ONE shuffle on user_id feeds all three
    chained stage windows (same partitioning, no exchange between), and
    only the 3 partial counters cross the final single-partition
    exchange."""
    from financialtransactionmonitoringsystem_spark.operators import extras

    s = P.plan_str(extras.q_funnel(spark, sf_dir), "simple")
    assert s.count("hashpartitioning(user_id") == 1, s
    assert s.count("Window") == 3, s


def test_scd2_is_single_user_exchange(spark, sf_dir):
    """The gaps-and-islands build reuses ONE user_id hash exchange for
    the change-flag window, the regime aggregation (grouping keys are a
    superset of the window partitioning), and the valid_to lead window:
    no re-shuffle between the three."""
    from financialtransactionmonitoringsystem_spark.operators import timeseries

    s = P.plan_str(timeseries.q_scd2(spark, sf_dir), "simple")
    assert s.count("hashpartitioning(user_id") == 1, s
    assert not P.has_cartesian(timeseries.q_scd2(spark, sf_dir))


def test_resample_grid_is_aggregated_cardinality(spark, sf_dir):
    """The dense-grid explode and the gap-fill window must sit ABOVE the
    hourly aggregation (grid work is O(types x hours), not O(events)):
    exactly one pre-aggregation pass reads the events table per grid
    branch, and the ffill window consumes the joined grid, never the raw
    scan."""
    from financialtransactionmonitoringsystem_spark.operators import timeseries

    df = timeseries.q_ts_resample(spark, sf_dir)
    s = P.plan_str(df, "simple")
    # generator (explode of the hour sequence) present, and no window
    # directly over a parquet scan: the Window's child chain contains the
    # hash aggregate
    assert "Generate" in s, s
    assert "Window" in s, s
    assert not P.has_cartesian(df)


def test_zorder_locality_beats_single_dim_sort(spark, sf_dir):
    """The point of the Z-order key: after range-partitioning on zkey,
    each partition covers a bounded window of BOTH dimensions (a
    near-square region of the key space), so min/max file stats can
    prune user-point AND time-range predicates from one layout.
    Baseline: range-partitioning on the hour alone leaves every
    partition spanning ALL user buckets.  On a dense 256x256 grid the
    z-layout must cut the average per-partition user spread >= 3x (a
    16-way split of the Morton square is ~64x64, vs 256 users for the
    hour sort).  The real-table operator itself is oracle-checked for
    the curve arithmetic; this pins the locality property."""
    from financialtransactionmonitoringsystem_spark.operators import layout

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("u"),
        (F.col("id") / 256).cast("long").alias("h"))
    df = grid.select(
        "u", "h", layout._interleave(F.col("u"), F.col("h")).alias("zkey"))

    def avg_distinct_u(part_df):
        per = (part_df.withColumn("pid", F.spark_partition_id())
               .groupBy("pid").agg(F.countDistinct("u").alias("d"))
               .agg(F.avg("d").alias("a")).collect())
        return per[0].a

    z = avg_distinct_u(df.repartitionByRange(16, "zkey"))
    t = avg_distinct_u(df.repartitionByRange(16, "h"))
    assert z * 3 <= t, (z, t)


def test_sessionize_is_single_user_exchange(spark, sf_dir):
    """Batch sessionization reuses ONE user_id hash exchange for the lag
    window, the running-sum window, and the (user_id, sess) aggregation
    -- the same single-exchange contract as q_scd2."""
    from financialtransactionmonitoringsystem_spark.operators import timeseries

    df = timeseries.q_sessionize(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("hashpartitioning(user_id") == 1, s
    assert not P.has_cartesian(df)
    # the sessionized funnel (r7) layers three conditional-min windows
    # over (user_id, sess) -- a SUBSET partitioning that must reuse the
    # same exchange, not add one per window
    df = timeseries.q_funnel_sessionized(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("hashpartitioning(user_id") == 1, s
    assert not P.has_cartesian(df)


def test_url_dedup_and_shard_card_are_single_pass_jvm_plans(spark, sf_dir,
                                                            monkeypatch):
    """The two r7 scan+agg keys must stay pure JVM single-aggregation
    plans: canonicalization / bucketing are scan-level projections
    (no Python eval in the plan), and the only exchange is the final
    group-by's partial->final hash aggregate pair."""
    from financialtransactionmonitoringsystem_spark.operators import curate, dedup

    df = curate.q_shard_card(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("Exchange") == 1, s
    assert s.count("HashAggregate") == 2, s  # partial + final
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert not P.has_cartesian(df)
    # q_dedup_url carries a count(DISTINCT url), which Catalyst expands
    # to the standard two-phase distinct-agg plan: exchange on
    # (canon, url) then on canon.  The scan guard is light-work-gated
    # (r18): on SMALL narrow input (the testdata files, below the
    # light-work size threshold) the guard stays out and the plan is
    # exactly the two distinct-agg exchanges; once the narrow input
    # outgrows the threshold (forced here by lowering it) the r17 guard
    # adds EXACTLY one more exchange, keyed by doc_id, below the
    # projection (still a no-op at production widths -- pinned once
    # for the guard in test_stratified_sample_has_no_shuffle); no
    # Python eval anywhere in any regime.
    df = dedup.q_dedup_url(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("Exchange") == 2, s
    assert "hashpartitioning(doc_id" not in s, s
    assert "count(distinct url" in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert not P.has_cartesian(df)
    from financialtransactionmonitoringsystem_spark import tables

    monkeypatch.setattr(tables, "SCAN_WIDE_LIGHT_MIN_BYTES", 1)
    s = P.plan_str(dedup.q_dedup_url(spark, sf_dir), "simple")
    assert s.count("Exchange") == 3, s
    assert s.count("hashpartitioning(doc_id") == 1, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s


def test_epochs_is_zero_shuffle_and_keyframes_single_exchange(spark, sf_dir):
    """q_curate_epochs must be a pure projection + explode over the
    scan -- zero exchanges, zero Python; q_mm_keyframes pays the Arrow
    decode once (the frame worker) and exactly ONE doc_id exchange for
    the lag window -- selection never re-enters Python."""
    from financialtransactionmonitoringsystem_spark.operators import (
        curate, multimodal)

    df = curate.q_curate_epochs(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert "Exchange" not in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s

    df = multimodal.q_mm_keyframes(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("Exchange") == 1 and "hashpartitioning(doc_id" in s, s
    assert s.count("MapInPandas") == 1, s  # decode once, select JVM-side
    assert not P.has_cartesian(df)


def test_export_shards_spreads_shards_over_partitions(spark, sf_dir):
    """The per-shard position must come from the range-partitioned
    running sum, not a one-task-per-shard window: the busiest shard
    spans >1 range partition and the offset join broadcasts."""
    from financialtransactionmonitoringsystem_spark.operators import curate

    df = curate._sharded_with_pid(spark, sf_dir, n_parts=8)
    assert not P.has_cartesian(df)
    assert "BroadcastHashJoin" in P.plan_str(df, "simple")
    spread = (df.groupBy("shard")
              .agg(F.countDistinct("pid").alias("n_pids"))
              .agg(F.max("n_pids").alias("mx")).collect()[0].mx)
    assert spread > 1, f"every shard landed on a single partition: {spread}"


def test_linededup_is_chunk_keyed_not_pairwise(spark, sf_dir):
    """Cross-doc duplicate-chunk detection joins on the chunk
    fingerprint (an equi-join) -- no doc-pair comparison, no cartesian,
    and partial aggregation before the chunk-count shuffle."""
    from financialtransactionmonitoringsystem_spark.operators import text

    df = text.q_text_linededup(spark, sf_dir)
    assert not P.has_cartesian(df)
    assert P.has_partial_aggregation(df)


def test_embed_quantize_is_narrow_scan_projection(spark, sf_dir):
    """Quantization is a pure per-row projection: on narrow
    (one-row-group) input the only exchange is the r17 scan_wide
    parallelism guard (keyed by vec_id, a no-op at production widths);
    the quantization math itself adds none."""
    from financialtransactionmonitoringsystem_spark.operators import similarity

    df = similarity.q_embed_quantize(spark, sf_dir)
    assert P.n_shuffles(df) == 1
    s = P.plan_str(df, "simple")
    assert s.count("hashpartitioning(vec_id") == 1, s


def test_agg_corr_is_partial_before_shuffle(spark, sf_dir):
    """corr/covar/stddev are algebraic: the plan must show partial
    aggregation below the single group exchange."""
    from financialtransactionmonitoringsystem_spark.operators import aggregates as agg

    df = agg.q_agg_corr(spark, sf_dir)
    assert P.has_partial_aggregation(df)
    assert P.n_shuffles(df) == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """The 100 TB join-pruning mechanism beyond static pushdown: when a
    selective dimension filter feeds a shuffle equi-join, Catalyst
    injects a runtime bloom filter (bloom_filter_agg on the dim side,
    might_contain on the fact side) so fact rows that cannot match die
    at the scan instead of shuffling.  Local sizes are below the
    production thresholds, so the test lowers them to prove the engine
    config path works; at real scale the defaults (10 MB creation side)
    trigger on their own."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "1KB")
        orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                  .filter(F.col("o_totalprice") > 400000)
                  .select("o_orderkey"))
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plan = P.plan_str(li.join(orders, li.l_orderkey == orders.o_orderkey),
                          "simple")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sample_proportional_spreads_langs_over_partitions(spark, sf_dir):
    """The per-lang rank behind mix-to-proportions sampling must come
    from the range-partitioned running count (many tasks per language),
    with the O(langs) limit table broadcast back -- never a shuffle join
    against the corpus or a one-task-per-lang window."""
    from financialtransactionmonitoringsystem_spark.operators import curate

    df = curate._proportional_with_pid(spark, sf_dir, n_parts=8)
    plan = P.plan_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert not P.has_cartesian(df) or "BroadcastNestedLoopJoin" in plan
    # the spread the name promises (ADVICE r5): the dominant language
    # must actually span >1 range partition, or a regression to a
    # one-task-per-lang window would still pass here
    spread = (df.groupBy("lang")
              .agg(F.countDistinct("pid").alias("n_pids"))
              .agg(F.max("n_pids").alias("mx")).collect()[0].mx)
    assert spread > 1, f"every lang landed on a single partition: {spread}"
    df = curate.q_sample_proportional(spark, sf_dir)
    # mixture correctness at test scale: shares land within one doc of
    # floor(pct * T / 100) for every target language
    got = {r.lang: r.n for r in
           df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= set(curate.MIX_TARGET_PCT)
    total = sum(got.values())
    for lang, n in got.items():
        target = curate.MIX_TARGET_PCT[lang] / 100
        assert abs(n - target * total) <= 0.02 * total + 1, (lang, n, total)


def test_lateral_subquery_decorrelates_to_window_join(spark, sf_dir):
    """The LATERAL correlated LIMIT subquery must compile to the
    decorrelated window + equi-join plan (row_number <= k over orders,
    joined back to customer) -- never nested per-row re-execution, never
    a cartesian."""
    from financialtransactionmonitoringsystem_spark.operators import extras

    df = extras.q_join_lateral(spark, sf_dir)
    plan = P.plan_str(df, "simple")
    assert "Window" in plan and "row_number" in plan, plan
    assert not P.has_cartesian(df)


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """Runtime skew handling, the AQE half of the skew story (the
    deterministic-salting half lives in operators/skew.py): a 90%-hot
    key must come out of execution as SortMergeJoin(skew=true) with an
    AQEShuffleRead that split the hot partition.  Local sizes sit below
    the production thresholds, so the test lowers them -- at real scale
    the defaults (256 MB / factor 5) trigger on their own.  The final
    plan is only visible on the SAME QueryExecution that ran (count()
    plans a fresh one), hence the execute() on the adaptive plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(2_000_000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 1000)
            .alias("k"),
            (F.col("id") * 2).alias("v"))
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("x").alias("tag"))
        j = fact.join(dim, "k")
        qe = j._jdf.queryExecution()
        qe.executedPlan().execute().count()
        plan = qe.executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # the AQEShuffleRead split marker
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_round8_keys_hold_their_plan_claims(spark, sf_dir):
    """The load-bearing plan claims of the round-8 keys:

    * q_join_bloom -- the FACT side never shuffles on the join key (the
      bloom pre-filter + broadcast key join run at the scan; only the
      tiny bloom build and the final rollup exchange), no sort-merge
      join, no cartesian, and the probe stays pure JVM.  A second check
      runs with broadcasting DISABLED (the at-scale shape): the fact
      then does exchange on o_custkey, but the bloom probe must sit
      BELOW that exchange so the shuffle carries only survivors -- the
      pin for the round-8 finding that a left-semi cleanup gets pushed
      below the probe by PushDownLeftSemiAntiJoin, un-pruning the
      shuffle (the inner-join-on-distinct-keys form has no such rule).
    * q_retention_funnel -- exactly TWO exchanges (user_id windows,
      cohort_week window) and ONE events scan: the cohort size is a
      window, not a join back to a recomputed aggregate.
    * q_mm_histogram -- the Arrow decode is paid exactly once; the
      selection + histogram never re-enter Python.
    * q_license_propagate -- the policy dim broadcasts; the corpus is
      never sort-merge-joined.
    * q_snapshot_diff -- one full-outer sort-merge join on doc_id whose
      exchanges carry md5 fingerprints, never document text.
    """
    from financialtransactionmonitoringsystem_spark.operators import (
        curate, multimodal, timeseries)

    df = relational.q_join_bloom(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert "hashpartitioning(o_custkey" not in s, s
    assert P.has_broadcast_join(df)
    assert not P.has_sort_merge_join(df)
    assert not P.has_cartesian(df)
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")}
    for k in saved:
        spark.conf.set(k, "-1")
    try:
        lines = P.plan_str(relational.q_join_bloom(spark, sf_dir),
                           "simple").splitlines()
        probe = min(i for i, l in enumerate(lines) if "element_at" in l)
        exch = min(i for i, l in enumerate(lines)
                   if "Exchange hashpartitioning(o_custkey" in l)
        assert probe > exch, "\n".join(lines)  # deeper line = below
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    df = timeseries.q_retention_funnel(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("Exchange") == 2, s
    assert s.count("hashpartitioning(user_id") == 1, s
    assert s.count("FileScan") == 1, s

    df = multimodal.q_mm_histogram(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert s.count("MapInPandas") == 1, s
    assert not P.has_cartesian(df)

    df = curate.q_license_propagate(spark, sf_dir)
    assert P.has_broadcast_join(df)
    assert not P.has_sort_merge_join(df)

    df = curate.q_snapshot_diff(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert "FullOuter" in s, s
    assert P.has_sort_merge_join(df)
    # the join-side exchanges hash on doc_id and carry fp columns only:
    # the md5 Project must sit BELOW each exchange (computed pre-
    # shuffle, between the exchange and its scan), so the shuffle
    # carries 32-byte fingerprints, never document text
    sides = s.split("Exchange hashpartitioning(doc_id")[1:]
    assert len(sides) == 2, s
    for side in sides:
        assert "md5(" in side.split("FileScan")[0], side[:600]


def test_align_crosslingual_joins_checkpoint_never_reexplodes(spark, sf_dir):
    """q_align_crosslingual's blocking contract: the final query joins
    the MATERIALIZED banded posting table on both sides (two checkpoint
    scans), so the gram explode + df aggregate are paid once in the
    one-time build -- the query plan itself must contain no Generate.
    The self-join is gram-keyed equi (doc_id</lang<> as residuals, no
    cartesian) and the pair rollup is map-side combined before its one
    exchange.  Broadcast-vs-shuffle is left to stats/AQE (no hint)."""
    from financialtransactionmonitoringsystem_spark.operators import text

    df = text.q_align_crosslingual(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert not P.has_cartesian(df)
    assert "Generate" not in s, s
    assert s.count("Scan ExistingRDD") == 2, s
    assert P.has_partial_aggregation(df)


def test_win_range_registered_plan_heavy_windows_are_bucketed(spark, sf_dir):
    """The registered q_win_range plan (bucketed core since round 10)
    must never sort a per-ORDER sweep on the cardinality-3 status key
    alone: every window ordered by a price column (the row-per-order
    heavy sweeps -- own-bucket prefix and head-bucket suffix) has to
    partition on (status, bucket).  Status-only windows are permitted
    ONLY over the densified per-bucket cum table, whose ordering column
    is the bucket index -- O(statuses x buckets) rows by construction.
    The middle-bucket attaches must broadcast, and nothing cartesians."""
    import re

    from financialtransactionmonitoringsystem_spark.operators import extras

    df = extras.q_win_range(spark, sf_dir)
    s = P.plan_str(df, "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", s)
    assert specs, s
    for spec in specs:
        # partition columns precede the first ordered (ASC/DESC) column
        part = spec.split(" ASC")[0].split(" DESC")[0]
        ordered_by_price = ("o_totalprice" in spec.split(",", 1)[1]
                            or re.search(r"price#\d+ (ASC|DESC)", spec))
        if ordered_by_price:
            assert "o_orderstatus" in part and re.search(r"\bb(kt)?#\d+", part), spec
    assert P.has_broadcast_join(df)
    assert not P.has_cartesian(df)


def test_stream_dedup_registered_plan_single_exchange_partial_min(spark, sf_dir):
    """q_stream_dedup (registered round 10): ONE hash exchange on the
    dedup key with the packed-struct MIN partially aggregated map-side
    before it -- never a window sort over all events, never a second
    corpus-sized exchange (the PLANS round-10 SortAggregate A/B pins
    the single-exchange form as the keeper)."""
    from financialtransactionmonitoringsystem_spark.streaming import batch_twins

    df = batch_twins.q_stream_dedup(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert P.n_shuffles(df) == 1, s
    assert "partial_min" in s, s
    assert "windowspecdefinition" not in s, s


def test_novelty_bloom_probe_stays_below_the_gram_exchange(spark, sf_dir):
    """q_text_novelty's scale contract: the bloom probe evaluates in the
    candidate grams' scan stage -- the Filter with the bloom bit
    arithmetic must sit BELOW the exchange that feeds the exact seen
    join, so only bloom passers shuffle.  The bloom itself attaches as
    a broadcast nested-loop of a single row (never a real cartesian of
    data), and the final per-doc attach is an equi-join."""
    from financialtransactionmonitoringsystem_spark.operators import text

    df = text.q_text_novelty(spark, sf_dir)
    s = P.plan_str(df, "simple")
    assert not P.has_cartesian(df)
    # the bloom (one row) attaches as a nested-loop whose CONDITION is
    # the probe itself -- fused, no separate pass
    assert "BroadcastNestedLoopJoin" in s and "element_at(bloom" in s, s
    # the per-doc seen count combines map-side before its doc exchange
    assert "partial_count(1)" in s, s
    # at test scale Catalyst broadcasts the exact ref join, so no gram
    # exchange exists at all (the best case); when stats grow and it
    # becomes a shuffle join, the probe must sit BELOW it
    if "Exchange hashpartitioning(gram" in s:
        below = s.split("Exchange hashpartitioning(gram", 1)[1]
        assert "element_at(bloom" in below, s[:2000]


def _reads_via_spark_read(node) -> bool:
    """True when a ``.parquet(`` call's receiver chain passes through a
    ``.read`` attribute (``spark.read.parquet``, ``spark.read.schema(s)
    .parquet``); ``.write`` and ``.readStream`` chains are not reads."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
        elif node.attr == "read":
            return True
        else:
            node = node.value
    return False


def test_parquet_reads_go_through_one_helper():
    """Only ``tables.py`` calls ``spark.read...parquet(``: every other
    batch parquet read in the engine goes through ``tables.read_parquet``
    and its inferred-schema cache."""
    import financialtransactionmonitoringsystem_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for f in sorted(root.rglob("*.py")):
        if f == root / "tables.py":
            continue
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and _reads_via_spark_read(node.func.value)):
                offenders.append(f"{f.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_engine_reads_no_fintxmon_conf():
    """The engine has no settings of its own: no string constant in the
    package names a ``spark.fintxmon.*`` conf.  Materialization and the
    scan guard are fixed policies, so every plan is the one the tests
    and the benchmark run."""
    import financialtransactionmonitoringsystem_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and node.value.startswith("spark.fintxmon.")]
    assert not offenders, offenders


def test_engine_has_no_import_guards():
    """No ``except ImportError`` in the engine package: a missing
    dependency fails the import loudly instead of silently dropping the
    code path that needed it."""
    import financialtransactionmonitoringsystem_spark as pkg

    guarded = {"ImportError", "ModuleNotFoundError"}
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for f in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if not isinstance(node, ast.ExceptHandler) or node.type is None:
                continue
            types = (node.type.elts if isinstance(node.type, ast.Tuple)
                     else [node.type])
            if any(isinstance(t, ast.Name) and t.id in guarded for t in types):
                offenders.append(f"{f.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


# Spark references kept for keys that have no DuckDB oracle, and the
# tests' only routes into planted corpora and non-default layouts.
_KEPT_TEST_ONLY = {"_band_join_distinct", "_chunk_join_distinct",
                   "prefix_candidates", "lsh_candidates", "simhash_pairs"}


def test_every_engine_def_is_reached():
    """Every top-level function and class in the engine package is
    reached from non-test code: the package's own module-level code,
    ``perfbench/``, ``tools/``, ``bench.py`` or ``__spark_entry__.py``,
    following names through the bodies of reached definitions.  ``q_*``
    functions are reached (each module registers them through its
    ``QUERIES`` global), as are the kept references above and
    ``plans/inspect.py``.  A key's reference is its DuckDB oracle, so
    an engine form that only a test calls is dead code."""
    import financialtransactionmonitoringsystem_spark as pkg

    def names(node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
        return out

    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent
    defs, roots = {}, set(_KEPT_TEST_ONLY)
    for f in sorted(root.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        if f == root / "plans" / "inspect.py":
            roots |= names(tree)
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(node.name, set()).update(names(node))
                if node.name.startswith("q_"):
                    roots.add(node.name)
            else:
                roots |= names(node)
    outside = [*sorted((repo / "perfbench").glob("*.py")),
               *sorted((repo / "tools").glob("*.py")),
               repo / "bench.py", repo / "__spark_entry__.py"]
    for f in outside:
        if not f.name.startswith("test_"):
            roots |= names(ast.parse(f.read_text(), str(f)))
    reached, todo = set(), roots & set(defs)
    while todo:
        n = todo.pop()
        reached.add(n)
        todo |= (defs[n] & set(defs)) - reached
    unreached = sorted(set(defs) - reached)
    assert not unreached, unreached

