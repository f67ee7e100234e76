"""Behavioral semantics of the relational core that plans can't show.

Point-lookup first-match determinism under duplicate keys (reference
semantics: linear scan returns the FIRST inserted match,
``user-service/main.go:67-71``, ``monitoring-service/src/main.rs:94-95``).
Round-2 VERDICT flagged the old implementation for ordering by the
filtered (constant) key; these tests plant duplicates and pin the
first-by-sequence winner.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.operators import relational


def test_first_match_planted_duplicates(spark):
    """Three rows share the key; the min-sequence row must win, whatever
    the input order."""
    df = spark.createDataFrame(
        [(42, 3, "third"), (42, 1, "first"), (7, 1, "other"), (42, 2, "second")],
        "key bigint, seq int, who string",
    )
    got = relational.first_match(df, F.col("key") == 42, "seq").collect()
    assert len(got) == 1
    assert got[0].who == "first"


def test_first_match_empty_on_miss(spark):
    df = spark.createDataFrame([(1, 1)], "key bigint, seq int")
    assert relational.first_match(df, F.col("key") == 99, "seq").count() == 0


def test_point_lookup_returns_min_linenumber(spark, sf_dir):
    """lineitem has 4-6 rows for l_orderkey=42 in every SF; the winner
    must be the earliest ingest-sequence row (l_linenumber = 1), not an
    arbitrary partition's first row."""
    dup_count = (
        relational.load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") == 42).count()
    )
    assert dup_count > 1  # the operator genuinely exercises duplicates
    got = relational.q_point_lookup(spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0].l_linenumber == 1


def test_merge_upsert_semantics(spark, sf_dir):
    """MERGE semantics row by row: deletes drop (and beat updates on a
    key matching both changesets), updates replace with the bumped
    price + status 'R', everything else passes through untouched, and
    the output holds exactly one row per surviving key."""
    from financialtransactionmonitoringsystem_spark.tables import load_table
    from financialtransactionmonitoringsystem_spark.util import rnd

    base = {r.o_orderkey: r for r in
            load_table(spark, sf_dir, "orders").collect()}
    rows = relational.q_merge_upsert(spark, sf_dir).collect()
    out = {r.o_orderkey: r for r in rows}
    assert len(rows) == len(out)  # one row per key, no dup emission
    m, d = relational.UPSERT_MOD, relational.DELETE_MOD
    assert set(out) == {k for k in base if k % d != 0}
    for k, r in out.items():
        if k % m == 0:
            assert r.o_orderstatus == "R"
            assert abs(r.total - base[k].o_totalprice * 1.1) < 0.01
        else:
            assert r.o_orderstatus == base[k].o_orderstatus
            assert abs(r.total - base[k].o_totalprice) < 0.01
    # the changeset genuinely exercises all three paths at this SF
    assert any(k % m == 0 for k in out) and any(k % d == 0 for k in base)


def test_funnel_counts_are_ordered_and_monotone(spark, sf_dir):
    """Funnel invariants: stage counts never increase down the funnel,
    and a user only counts toward a stage if the stage event happens at
    or after their previous stage's first event."""
    from financialtransactionmonitoringsystem_spark.operators import extras

    got = {r.stage: r.n_users for r in extras.q_funnel(spark, sf_dir).collect()}
    assert set(got) == {"1_signup", "2_click", "3_purchase"}
    assert got["1_signup"] >= got["2_click"] >= got["3_purchase"]
    assert got["1_signup"] > 0


def test_retention_week0_covers_every_cohort_user(spark, sf_dir):
    """Every user is active in their own cohort week (their first event
    IS activity), so the offset-0 row of each cohort must equal the
    cohort's size, and offsets are non-negative."""
    from financialtransactionmonitoringsystem_spark.operators import extras
    from financialtransactionmonitoringsystem_spark.tables import load_table

    rows = extras.q_retention(spark, sf_dir).collect()
    assert all(r.week_offset >= 0 for r in rows)
    week0 = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    ev = load_table(spark, sf_dir, "events")
    sizes = {r.cohort_week: r.n for r in (
        ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
        .groupBy(F.date_format(F.date_trunc("week", "first_ts"),
                               "yyyy-MM-dd").alias("cohort_week"))
        .agg(F.count("*").alias("n")).collect())}
    assert week0 == sizes


def test_approx_quantile_within_rank_error_of_exact(spark, sf_dir):
    """GK sketch guarantee: each approximate percentile's true rank is
    within n/accuracy of the requested rank.  Check by computing each
    group's exact quantiles at rank +- n/acc and asserting the sketch
    value lands inside that envelope."""
    from financialtransactionmonitoringsystem_spark.operators import aggregates
    from financialtransactionmonitoringsystem_spark.tables import load_table

    got = {r.l_returnflag: (r.p50, r.p90, r.p99)
           for r in aggregates.q_agg_approx_quantile(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    eps = 1.0 / aggregates.APPROX_QUANTILE_ACC
    for flag, vals in got.items():
        prices = sorted(r.l_extendedprice for r in
                        li.filter(F.col("l_returnflag") == flag)
                        .select("l_extendedprice").collect())
        n = len(prices)
        for p, v in zip((0.5, 0.9, 0.99), vals):
            lo = prices[max(0, int((p - eps) * n) - 1)]
            hi = prices[min(n - 1, int((p + eps) * n))]
            assert lo <= v <= hi, (flag, p, v, lo, hi)


def test_bloom_prefilter_is_superset_and_actually_prunes(spark, sf_dir):
    """The bloom stage must (a) pass EVERY true-match fact row (no
    false negatives -- correctness depends on it) and (b) prune the
    clear majority of non-matching rows at the design FPR (~(2n/2^16)^2
    -- the whole point of the technique).  Reconstructs the pre-filter
    stage from the same building blocks the operator uses."""
    from financialtransactionmonitoringsystem_spark.operators.relational import (
        BLOOM_BITS, BLOOM_SEEDS)
    from financialtransactionmonitoringsystem_spark.tables import load_table

    cust = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000))
    orders = load_table(spark, sf_dir, "orders")
    keys = {r.c_custkey for r in cust.select("c_custkey").collect()}
    assert keys, "fixture predicate selects no customers"

    pos = F.explode(F.array(
        *[F.pmod(F.xxhash64("c_custkey", F.lit(s)), F.lit(BLOOM_BITS))
          for s in BLOOM_SEEDS])).alias("p")
    bloom = (cust.select(pos)
             .groupBy(F.expr("CAST(p DIV 64 AS INT)").alias("w"))
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT),"
                         " CAST(p % 64 AS INT)))").alias("bits"))
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("w", "bits"))).alias("bloom")))
    probed = orders.crossJoin(F.broadcast(bloom))
    for i, s in enumerate(BLOOM_SEEDS):
        probed = probed.withColumn(
            f"_p{i}", F.pmod(F.xxhash64("o_custkey", F.lit(s)),
                             F.lit(BLOOM_BITS)))
    hit = None
    for i in range(len(BLOOM_SEEDS)):
        t = F.expr(
            f"((coalesce(element_at(bloom, CAST(_p{i} DIV 64 AS INT)),"
            f" CAST(0 AS BIGINT)) >> CAST(_p{i} % 64 AS INT)) & 1) = 1")
        hit = t if hit is None else (hit & t)
    survivors = {r.o_custkey for r in
                 probed.filter(hit).select("o_custkey").collect()}
    all_fact_keys = {r.o_custkey for r in
                     orders.select("o_custkey").collect()}

    assert keys & all_fact_keys <= survivors  # no false negatives
    non_match = all_fact_keys - keys
    false_pos = survivors - keys
    # design FPR is ~1e-4 at fixture scale; allow 100x slack
    assert len(false_pos) <= max(2, 0.01 * len(non_match)), (
        len(false_pos), len(non_match))


def test_argmax_packed_key_breaks_ties_deterministically(spark):
    """The oracle can only attest ties the corpus happens to contain;
    this plants an exact balance tie and pins the packed-key contract
    directly: max_by prefers the SMALLER custkey among tied balances
    (cents * 10^10 - key), min_by the same on its + form."""
    from pyspark.sql import functions as F

    cust = spark.createDataFrame(
        [(7, "late-rich", 500.0, 1), (3, "early-rich", 500.0, 1),
         (9, "late-poor", -10.0, 1), (4, "early-poor", -10.0, 1),
         (5, "mid", 100.0, 1)],
        "c_custkey bigint, c_name string, c_acctbal double, c_nationkey int")
    cents = "CAST(floor(c_acctbal * 1e2 + 5e-1) AS BIGINT)"
    row = (cust.groupBy("c_nationkey")
           .agg(F.max_by("c_name", F.expr(f"{cents} * 10000000000 - c_custkey"))
                .alias("richest"),
                F.min_by("c_name", F.expr(f"{cents} * 10000000000 + c_custkey"))
                .alias("poorest"))
           .collect()[0])
    assert row.richest == "early-rich"   # 500.0 tie -> custkey 3 beats 7
    assert row.poorest == "early-poor"   # -10.0 tie -> custkey 4 beats 9


def test_dedup_keep_best_prefers_quality_then_low_doc_id(spark):
    """Planted exact-dup group: the most-distinct-token copy wins; on a
    distinct-token tie the lower doc_id wins (packed max_by key)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "a b c"), (12, "a b c")],
        "doc_id bigint, text string")
    scored = docs.select(
        "doc_id", F.md5("text").alias("fp"),
        F.size(F.array_distinct(F.split("text", " "))).alias("d"))
    key = F.expr("CAST(d AS BIGINT) * 10000000000 - doc_id")
    row = (scored.groupBy("fp")
           .agg(F.count(F.lit(1)).alias("n_dups"),
                F.max_by("doc_id", key).alias("keep_doc"))
           .collect()[0])
    assert row.n_dups == 3 and row.keep_doc == 10  # quality tie -> min doc_id


def test_win_range_bucketed_equals_window_form(spark, duck, sf_dir):
    """The bucketed value-range decomposition (the registered
    q_win_range plan) must be row-identical to the direct RANGE window
    of its DuckDB oracle at every legal bucket count, including m=1 (no
    middle buckets) and a width where full middle buckets actually
    occur."""
    from financialtransactionmonitoringsystem_spark.operators import extras

    from .compare import assert_frames_match

    want = duck.execute(extras.ORACLES["q_win_range"]).df()
    assert len(want)
    for m in (1, 4, 10):
        assert_frames_match(
            extras.win_range_bucketed(spark, sf_dir, m).toPandas(), want,
            f"win_range_bucketed[m={m}]")
    import pytest

    with pytest.raises(ValueError):
        extras.win_range_bucketed(spark, sf_dir, 3)  # 5000/3 inexact


def test_win_range_bucketed_planted_edges(spark):
    """Prices exactly on bucket edges and exactly frame-width apart --
    the inclusive-boundary and fp-edge cases the corpus may not
    contain.  Brute-force O(n^2) truth on a tiny frame."""
    from financialtransactionmonitoringsystem_spark.operators.extras import (
        WIN_RANGE_FRAME, _win_range_bucketed_core)

    prices = [0.0, 1250.0, 2500.0, 5000.0, 5000.01, 10000.0, 10000.01,
              12500.0, 15000.0, 15000.01, 7499.99, 20000.0]
    rows = [(i, "O" if i % 2 else "F", p) for i, p in enumerate(prices)]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double")
    got = {r.o_orderkey: (r.n_within_5000_below, r.sum_nearby)
           for m in (1, 4)
           for r in _win_range_bucketed_core(orders, m).collect()}
    for k, s, p in rows:
        frame = [pp for kk, ss, pp in rows if ss == s and p - WIN_RANGE_FRAME <= pp <= p]
        want = (len(frame), round(sum(frame), 2))
        assert got[k] == want, (k, s, p, got[k], want)


def test_win_range_bucketed_property_vs_brute_force(spark):
    """Hypothesis sweep of the bucketed value-range decomposition: on
    arbitrary price multisets -- duplicates, exact bucket-edge values
    (multiples of 1250/5000), and exact frame-width gaps included by
    construction of the strategy -- every m must reproduce the O(n^2)
    frame truth.  The planted-edge test pins known hazards; this one
    hunts unknown ones."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from financialtransactionmonitoringsystem_spark.operators.extras import (
        WIN_RANGE_FRAME, _win_range_bucketed_core)

    # quarter-bucket-width grid => values land on bucket edges for
    # m in {1, 4} and exact frame-width apart pairs arise constantly
    price = st.integers(0, 32).map(lambda q: q * (WIN_RANGE_FRAME / 4))
    rows_st = st.lists(st.tuples(st.sampled_from(["F", "O"]), price),
                       min_size=1, max_size=18)

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=rows_st)
    def check(rows):
        data = [(i, s, float(p)) for i, (s, p) in enumerate(rows)]
        orders = spark.createDataFrame(
            data, "o_orderkey bigint, o_orderstatus string,"
                  " o_totalprice double")
        for m in (1, 4):
            got = {r.o_orderkey: (r.n_within_5000_below, r.sum_nearby)
                   for r in _win_range_bucketed_core(orders, m).collect()}
            for k, s, p in data:
                frame = [pp for kk, ss, pp in data
                         if ss == s and p - WIN_RANGE_FRAME <= pp <= p]
                want = (len(frame), round(sum(frame), 2))
                assert got[k] == want, (m, k, s, p, got[k], want)

    check()


def test_cte_recursive_doubling_equals_linear_form(spark, sf_dir):
    """The registered q_cte_recursive (a base-B offset generator:
    O(log months) recursion steps, every offset produced exactly once)
    must be row-identical to the linear WITH RECURSIVE form of its
    DuckDB oracle on edge frames: a SINGLE month, where the anchor must
    not overrun (off=1 excluded by the bound), and an EMPTY orders
    table.  The corpus rows are test_oracle_parity[q_cte_recursive]."""
    from financialtransactionmonitoringsystem_spark.operators import extras

    import shutil
    import tempfile

    from .compare import duck_over

    # edge frames drive the MODULE FUNCTION (not a pasted SQL copy that
    # could drift -- review finding) via temp parquet corpora; the query
    # re-registers the 'orders' view itself on the next call, but the
    # real one is re-registered afterwards anyway so this test cannot
    # leak a tiny view into the session (review finding)
    schema = "o_orderkey long, o_orderdate date, o_totalprice double"
    cases = [
        # single month: anchor off=1 excluded by the bound -> one row
        ([(1, "1995-03-15", 10.0), (2, "1995-03-28", 20.0)],
         [("1995-03", 2)]),
        # EMPTY orders: the linear anchor emits one NULL-month row; the
        # offset anchor's unconditional off=0 must match it
        ([], [(None, 0)]),
    ]
    tmp = tempfile.mkdtemp(prefix="cte_dbl_")
    try:
        for i, (rows, expect) in enumerate(cases):
            d = f"{tmp}/case{i}"
            (spark.createDataFrame(rows,
                                   schema.replace(" date,", " string,"))
             .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
             .write.parquet(f"{d}/orders.parquet"))
            lin = sorted(duck_over(d, "orders").execute(
                extras.ORACLES["q_cte_recursive"]).fetchall())
            dbl = sorted(map(tuple,
                extras.q_cte_recursive(spark, d).collect()))
            assert dbl == lin == expect, (i, dbl, lin, expect)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        from financialtransactionmonitoringsystem_spark.tables import (
            register_views)
        register_views(spark, sf_dir, ("orders",))


def test_fn_json_tuple_equals_multiprobe_form(spark):
    """The registered q_fn_json (one json_tuple streaming parse for both
    paths) must be row-identical to per-path get_json_object extraction
    on a planted table of the JSON shapes where single-parse and
    per-path extraction could plausibly disagree (missing key,
    malformed JSON, NULL props, extra keys, nested object, k=null).
    The corpus rows are test_oracle_parity[q_fn_json].  The test drives
    the SHIPPED projection (scalar.json_props_extract), not an inline
    copy that could drift (review finding).  The one KNOWN divergence --
    duplicate-key JSON, where json_tuple keeps the LAST occurrence
    (serde_json's behavior, i.e. the reference's) while
    get_json_object keeps the FIRST -- is pinned explicitly below so a
    future corpus hash-fail on this key has a signposted first
    suspect."""
    from financialtransactionmonitoringsystem_spark.functions import scalar

    planted = [
        (1, '{"k": 7}'), (2, '{"k": 7, "extra": "x"}'), (3, '{}'),
        (4, None), (5, 'not json'), (6, '{"k": null}'),
        (7, '{"missing": "present"}'), (8, '{"a": {"k": 9}}'),
        (9, ''), (10, '{"k": 0}'),
    ]
    df = spark.createDataFrame(planted, "event_id long, props string")
    got = scalar.json_props_extract(df)
    ref = df.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_bucket"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    # the duplicate-key divergence, pinned as a DIVERGENCE: last-wins
    # for the shipped json_tuple form, first-wins for get_json_object
    # and the DuckDB oracle (json_extract_string)
    dup = spark.createDataFrame([(1, '{"k": 7, "k": 8}')],
                                "event_id long, props string")
    assert scalar.json_props_extract(dup).collect()[0].k == 8
    assert dup.select(F.get_json_object("props", "$.k").cast("long")
                      .alias("k")).collect()[0].k == 7


def test_fn_decimal_cents_equals_decimal_types_reference(spark):
    """The registered q_fn_decimal takes money in as integer cents; the
    cents ingress must equal 100 x the decimal(18,2) cast (the money
    type of its DuckDB oracle) on a planted table of every money shape
    where the two could plausibly disagree: >2-decimal values,
    the classic half-way float traps (1.005, 2.675 -- whose doubles sit
    BELOW the half-way point a naive round(x*100) would see after the
    multiply), negatives, zero, NULL, and values near the 10^9 money
    scale.  The corpus rows are test_oracle_parity[q_fn_decimal].  The
    test drives the SHIPPED ingress expressions
    (scalar.CENTS_PRICE_EXPR / CENTS_DISC_EXPR), not an inline copy
    that could drift (the TRY_CAST_INT_SHAPE lesson)."""
    from financialtransactionmonitoringsystem_spark.functions import scalar

    prices = [0.0, 0.01, -0.01, 1.005, 2.675, 1.0049999, 123.456,
              123.454, 99999.99, 1234567.891, 999999999.995, -4.35,
              4.35, 0.005, None,
              # r18 fast-path band edges: half-way traps across
              # magnitudes (the guarded rows must take the decimal
              # hop), near-half values just outside the band (fast
              # path), negatives of both, and both sides of the
              # overflow bound 10^11 - 1: 99999999998.99 is the fast
              # path just below it, 99999999999.5 takes the hop branch
              # and still fits decimal(13,2), so no ANSI overflow.
              0.015, 0.025, 0.065, 1.015, 2.005, 4.005, -1.005,
              -2.675, -0.005, 123456.785, 9999999.995, 12345678.905,
              1.0050001, 50.4999999, -123456.785, 99999999998.99,
              99999999999.5]
    planted = [(f"f{i % 3}", p, d)
               for i, p in enumerate(prices)
               for d in (0.0, 0.05, 0.1, None)]
    df = spark.createDataFrame(
        planted, "l_returnflag string, l_extendedprice double, l_discount double")
    # per-row ingress equality: cents == 100 * decimal(18,2) value
    diverge = df.selectExpr(
        "l_extendedprice", "l_discount",
        f"{scalar.CENTS_PRICE_EXPR} AS pc",
        f"{scalar.CENTS_DISC_EXPR} AS dc",
        "cast(l_extendedprice as decimal(18,2)) AS p18",
        "cast(l_discount as decimal(18,2)) AS d18",
    ).where(
        "(pc is distinct from cast(p18 * 100 as bigint)) or "
        "(dc is distinct from cast(d18 * 100 as bigint))")
    assert diverge.count() == 0, diverge.collect()
