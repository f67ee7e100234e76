"""Scans, filters, projections and the join family.

Reference parity (SURVEY.md §2.1): the reference's entire query surface is
full scan (O2, ``user-service/main.go:51-53``), point lookup = equality
filter + first match (O3, ``monitoring-service/src/main.rs:92-101``) and
JSON ingest (O1/O4).  Those map to ``q_scan_all`` / ``q_point_lookup`` /
``q_ingest_json``; everything else is the relational breadth the engine
adds on top (SURVEY.md §2.2).

Scale notes:
* Point lookup / range filters are plain Catalyst filters -> pushed to the
  parquet scan (row-group + page skipping), i.e. sub-linear where the
  reference does an O(n) scan per request (``main.rs:95``).
* Dimension joins broadcast (region 5 rows, nation 25, supplier tiny);
  fact-fact joins shuffle on their equi-keys and AQE handles skew.
* The as-of join is a union + window trick: one shuffle on (key), no
  cross product, state bounded per key -- survives 100x data.
* The interval join buckets the time axis so the join is an equi-join on
  (key, bucket) instead of an O(n^2) theta join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load_table
from ..util import rnd, sql_round as R

# --------------------------------------------------------------- scans ----


def q_scan_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 list-all: full scan, all columns (``main.go:51-53``)."""
    return load_table(spark, sf_dir, "lineitem")


def q_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned projection; ReadSchema in the plan shows 2 columns."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


def q_ingest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O4 JSON ingest with an explicit schema (``main.rs:49-52``).

    Parses the ``events.props`` JSON payload with a fixed schema --
    unknown fields are dropped and malformed rows become NULL, matching
    the reference's serde behavior (unknown-field tolerance, None on
    parse failure).
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.to_json(F.struct(F.col("event_id"), F.col("p.k").alias("k"))).alias("echo"),
    )


# ------------------------------------------------------------- filters ----


def first_match(df: DataFrame, pred, *tiebreak: str) -> DataFrame:
    """Deterministic first-match: filter + ORDER BY a real tiebreaker.

    The tiebreaker columns must NOT be pinned to a constant by the
    predicate (ordering by the filtered key is a no-op under duplicate
    keys); callers pass the ingest-sequence column(s) of the table.
    """
    return df.filter(pred).orderBy(*tiebreak).limit(1)


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 point lookup: equality filter + first match in ingest order.

    The reference scans linearly and returns the FIRST row whose id
    matches (``main.rs:94-95``, ``main.go:66-74``) -- under duplicate
    keys the winner is the earliest-ingested row.  ``lineitem`` genuinely
    has duplicate ``l_orderkey`` rows (4-6 per key in testdata) and its
    ingest sequence within a key is ``l_linenumber``, so the
    deterministic twin of "first match in ingest order" orders by that
    tiebreaker -- not by the filtered key, which the predicate pins to a
    constant.  Catalyst still pushes the equality into the parquet scan
    (row-group + page skipping): sub-linear where the reference is O(n)
    per request.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return first_match(li, F.col("l_orderkey") == 42, "l_linenumber")


def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") < 25)
                  & (F.col("l_shipdate") >= F.lit("1998-01-01")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    )


def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT + IN-list + prefix LIKE (O6 ``request_with``, main.rs:41-43)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus").isin("F", "O")
         & F.col("o_orderpriority").startswith("1"))
        | (~F.col("o_orderstatus").isin("F", "O") & (F.col("o_totalprice") > 100000.0))
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


def q_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        rnd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        rnd(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("charge"),
    )


def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics via nullif + IS NULL / coalesce round-trip."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("disc_or_null", F.expr("nullif(l_discount, 0.0)"))
        .filter(F.col("disc_or_null").isNull())
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_zero_discount"))
    )


# --------------------------------------------------------------- joins ----


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
    )


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table chain; dims broadcast, facts shuffle-join."""
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"),
             rnd(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("total_spend"))
    )


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer and supplier aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    s = supp.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_suppliers"))
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full")
        .select(
            F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers that placed at least one urgent order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: the monitoring question "users with no transactions"."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the dim chain (region 5 rows, nation 25)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    dim = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        cust.join(dim, cust.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             rnd(F.sum("c_acctbal")).alias("sum_acctbal"))
    )


def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join: per supplier, count customers with a larger balance.

    Catalyst executes this as broadcast nested-loop; the small side (10
    suppliers) broadcasts, so the cost is |customer| * 10 per partition.
    """
    cust = load_table(spark, sf_dir, "customer")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        cust.join(supp, cust.c_acctbal > supp.s_acctbal)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_richer_customers"))
    )


# Bloom semi-join pushdown: 2^16 bits (1024 64-bit words, 8 KB) and two
# seeded probes.  For |dim keys| = n, FPR ~ (2n/65536)^2 -- at the
# design point (dim filtered to ~10% of customers) effectively zero,
# and false positives only cost a wasted probe row, never a wrong
# answer (the exact key join behind the bloom removes them).
BLOOM_BITS = 1 << 16
BLOOM_SEEDS = (1, 2)


def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pushdown, built from first principles
    (Spark's own runtime `bloom_filter_agg` is not SQL-registered):
    filter a big fact table by a selective dim WITHOUT shuffling the
    fact and WITHOUT broadcasting the dim payload.

    Why it matters at 100 TB: a broadcast hash join needs the dim's
    (key -> row) PAYLOAD under the broadcast threshold; a shuffle join
    moves the whole fact.  The bloom is 8 KB REGARDLESS of dim key
    count -- build it with one tiny aggregation (explode 2 probe
    positions per key, bit_or per 64-bit word, collect ~1024 (word ->
    bits) entries into a one-row map), broadcast that single row, and
    pre-filter the fact with pure codegen bit arithmetic at the scan.
    The exact join that follows sees only the pre-filtered survivors,
    so ITS shuffle (when the dim outgrows broadcast) carries
    ~selectivity x |fact| rows.  This is exactly what Spark's runtime
    row-level filter injection does; spelled out as an operator so the
    technique is visible, testable, and tunable (bits/seeds).

    False-positive cleanup is an INNER join against the DISTINCT dim
    keys, not a left-semi, and that choice is load-bearing (round-8
    plan read): Catalyst's PushDownLeftSemiAntiJoin pushes a semi join
    below any Project/Filter whose output covers the join keys -- with
    the semi form the optimizer reordered the written probe-then-verify
    into verify-then-probe, so under a non-broadcast dim the fact
    shuffled UN-pruned and the bloom was dead weight above the join
    (verified with autoBroadcastJoinThreshold=-1).  No push-JOIN-down
    rule exists for inner joins, so the probe stays fused to the fact
    scan and the at-scale exchange carries only survivors (plan-pinned
    in both broadcast and no-broadcast modes).  Joining distinct keys
    duplicates no fact row, so the result is identical to the semi.

    The oracle is the plain semi-join + aggregate: the bloom is a plan
    technique, invisible in results."""
    cust = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000))
    orders = load_table(spark, sf_dir, "orders")
    pos = F.explode(F.array(
        *[F.pmod(F.xxhash64("c_custkey", F.lit(s)), F.lit(BLOOM_BITS))
          for s in BLOOM_SEEDS])).alias("p")
    bloom = (
        cust.select(pos)
        .groupBy(F.expr("CAST(p DIV 64 AS INT)").alias("w"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT),"
                    " CAST(p % 64 AS INT)))").alias("bits"))
        .agg(F.map_from_entries(
            F.collect_list(F.struct("w", "bits"))).alias("bloom"))
    )
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
    pre = probed.filter(hit)
    keys = cust.select("c_custkey").distinct()
    return (
        pre.join(keys, pre["o_custkey"] == F.col("c_custkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             rnd(F.sum("o_totalprice")).alias("sum_price"))
    )


# ----------------------------------------------------- as-of / interval ----


def asof_join(left: DataFrame, right: DataFrame, key: str, left_ts: str,
              right_ts: str, right_cols: list[str]) -> DataFrame:
    """Generic as-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` within the same ``key`` (``l.ts >= r.ts``
    semantics of DuckDB ASOF LEFT JOIN).

    Spark has no native as-of join.  This is the union + window trick:
    tag both sides, union on (key, ts), and carry the most recent right
    value forward with ``last(..., ignorenulls)`` over an ordered window.
    One shuffle on ``key``, no range cross-product -- the scale-safe plan
    (a naive theta-join + groupBy-max would be O(n*m) per key).

    Right rows sort before left rows at equal timestamps so an exact
    timestamp tie counts as "already happened" (>= semantics).
    """
    lt = left.withColumnRenamed(left_ts, "__ts") if left_ts != "__ts" else left
    rt = right.withColumnRenamed(right_ts, "__ts") if right_ts != "__ts" else right
    carried = [f"__r_{c}" for c in right_cols]
    l_tagged = lt.withColumn("__side", F.lit(1))
    for c, rc in zip(right_cols, carried):
        l_tagged = l_tagged.withColumn(rc, F.lit(None).cast(rt.schema[c].dataType))
    r_tagged = rt.select(
        F.col(key), F.col("__ts"), F.lit(0).alias("__side"),
        *[F.col(c).alias(rc) for c, rc in zip(right_cols, carried)],
    )
    left_cols = [c for c in l_tagged.columns if c not in carried]
    for c in left_cols:
        if c not in {key, "__ts", "__side"} and c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(l_tagged.schema[c].dataType))
    unioned = l_tagged.unionByName(r_tagged)
    w = (W.partitionBy(key).orderBy("__ts", "__side")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    filled = unioned
    for rc in carried:
        filled = filled.withColumn(rc, F.last(rc, ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == 1).drop("__side")
    for c, rc in zip(right_cols, carried):
        out = out.withColumnRenamed(rc, f"r_{c}")
    return out.withColumnRenamed("__ts", left_ts)


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's latest prior
    signup event ("balance as of" shape from SURVEY.md §2.2)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", "value")
    out = asof_join(purchases, signups, "user_id", "ts", "ts",
                    ["event_id", "value"])
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("r_event_id").alias("signup_event_id"),
        F.col("r_value").alias("signup_value"),
    )


def asof_join_forward(left: DataFrame, right: DataFrame, key: str,
                      left_ts: str, right_ts: str,
                      right_cols: list[str]) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right row with
    ``right.ts >= left.ts`` within the key (pandas ``merge_asof
    direction='forward'`` semantics; the "next fill after the order"
    shape in market data).

    Same union+window plan as the backward form, mirrored: descending
    timestamp order with ``last(..., ignorenulls)`` carries the nearest
    *future* right row backward.  One shuffle on the key.
    """
    lt = left.withColumnRenamed(left_ts, "__ts") if left_ts != "__ts" else left
    rt = right.withColumnRenamed(right_ts, "__ts") if right_ts != "__ts" else right
    carried = [f"__r_{c}" for c in right_cols]
    l_tagged = lt.withColumn("__side", F.lit(1))
    for c, rc in zip(right_cols, carried):
        l_tagged = l_tagged.withColumn(rc, F.lit(None).cast(rt.schema[c].dataType))
    r_tagged = rt.select(
        F.col(key), F.col("__ts"), F.lit(2).alias("__side"),
        *[F.col(c).alias(rc) for c, rc in zip(right_cols, carried)],
    )
    for c in [c for c in l_tagged.columns if c not in carried]:
        if c not in {key, "__ts", "__side"} and c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(l_tagged.schema[c].dataType))
    unioned = l_tagged.unionByName(r_tagged)
    # Descending ts; right rows (__side=2) sort before left at ties so an
    # exact-timestamp match counts (>= semantics).
    w = (W.partitionBy(key).orderBy(F.col("__ts").desc(), F.col("__side").desc())
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    filled = unioned
    for rc in carried:
        filled = filled.withColumn(rc, F.last(rc, ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == 1).drop("__side")
    for c, rc in zip(right_cols, carried):
        out = out.withColumnRenamed(rc, f"r_{c}")
    return out.withColumnRenamed("__ts", left_ts)


def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each signup matched to the user's next
    purchase at-or-after it (time-to-first-purchase shape)."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value")
    out = asof_join_forward(signups, purchases, "user_id", "ts", "ts",
                            ["event_id", "value"])
    return out.select(
        "event_id", "user_id", "ts",
        F.col("r_event_id").alias("next_purchase_id"),
        rnd(F.col("r_value")).alias("next_purchase_value"),
    )


def interval_join_bucketed(left: DataFrame, right: DataFrame, key: str,
                           left_ts: str, right_ts: str,
                           interval_s: int) -> DataFrame:
    """Pairs (l, r) with same key and ``l.ts <= r.ts < l.ts + interval``.

    Scale path: bucket the time axis by ``interval_s`` so each left row
    equi-joins only buckets b and b+1 of the right side -- an equi-join on
    (key, bucket) plus a residual filter, instead of an O(n*m) theta join.
    Each qualifying pair appears exactly once because the right row's
    bucket is fixed.
    """
    lb = left.withColumn("__lb", (F.unix_timestamp(F.col(left_ts)) / interval_s).cast("long"))
    rb = right.withColumn("__rb", (F.unix_timestamp(F.col(right_ts)) / interval_s).cast("long"))
    expanded = lb.withColumn("__probe", F.explode(F.array(F.col("__lb"), F.col("__lb") + 1)))
    # Rename the right key so the self-join condition references two
    # distinct attributes (avoids ambiguous-self-join resolution).
    rb = rb.withColumnRenamed(key, "__rkey")
    joined = expanded.join(
        rb,
        (F.col(key) == F.col("__rkey")) & (F.col("__probe") == F.col("__rb")),
        "inner",
    ).drop("__rkey")
    return joined.filter(
        (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) < F.col(left_ts) + F.expr(f"INTERVAL {interval_s} SECOND"))
    ).drop("__lb", "__rb", "__probe")


def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: per purchase, count error events by the same user in
    the following 30 minutes."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"))
    pairs = interval_join_bucketed(purchases, errors, "user_id", "p_ts", "e_ts", 1800)
    return (
        pairs.groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_errors_30m"))
    )


# Deterministic synthetic changeset for q_merge_upsert: every 7th key is
# an update (status 'R', 10% price bump), every 97th a delete; a key
# matching both is a delete (last-writer-wins with deletes ranked last).
UPSERT_MOD, DELETE_MOD = 7, 97


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins MERGE (update + delete changeset into a snapshot).

    The mutation op the reference's append-only store lacks: duplicate
    ids are appended unconditionally (monitoring-service/src/main.rs:82-84)
    and reads then rely on first-match.  Spark has no in-place MERGE INTO
    without a transactional table format, so the engine expresses merge
    relationally: base rows not named by the changeset pass through
    (anti-join on the key), updated rows are replaced, deleted keys drop.

    Scale: the base snapshot is the 100 TB side -- bucketed on the merge
    key (``bucketBy`` + ``saveAsTable``) its anti-join needs no base-side
    shuffle, only the (small) changeset shuffles; with a Delta/Iceberg
    sink the identical plan becomes a native MERGE INTO and rewrites
    only the files the changeset touches.
    """
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    updates = (
        orders.filter(key % UPSERT_MOD == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", rnd(F.col("o_totalprice") * F.lit(1.1)))
    )
    deletes = orders.filter(key % DELETE_MOD == 0).select("o_orderkey")
    changed_keys = updates.select("o_orderkey").union(deletes).distinct()
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    return (
        orders.withColumn("o_totalprice", rnd(F.col("o_totalprice")))
        .join(changed_keys, "o_orderkey", "left_anti")
        .select(*cols, F.col("o_totalprice").alias("total"))
        .unionByName(
            updates.join(deletes, "o_orderkey", "left_anti")
            .select(*cols, F.col("o_totalprice").alias("total")))
    )


ORACLES: dict[str, str] = {
    "q_join_bloom": f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               {R('SUM(o_totalprice)')} AS sum_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING'
                              AND c_acctbal > 5000)
        GROUP BY o_orderpriority
    """,
    "q_join_asof_fwd": f"""
        WITH s AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'signup'),
             p AS (SELECT user_id, ts, event_id, value FROM events
                   WHERE event_type = 'purchase')
        SELECT s.event_id, s.user_id, s.ts,
               arg_min(p.event_id, p.ts) AS next_purchase_id,
               {R('arg_min(p.value, p.ts)')} AS next_purchase_value
        FROM s LEFT JOIN p ON p.user_id = s.user_id AND p.ts >= s.ts
        GROUP BY s.event_id, s.user_id, s.ts
    """,
    "q_scan_all": "SELECT * FROM lineitem",
    "q_scan_prune": "SELECT l_orderkey, l_extendedprice FROM lineitem",
    "q_ingest_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               '{"event_id":' || event_id || ',"k":' || json_extract_string(props, '$.k') || '}' AS echo
        FROM events
    """,
    "q_point_lookup":
        "SELECT * FROM lineitem WHERE l_orderkey = 42 ORDER BY l_linenumber LIMIT 1",
    "q_filter_range": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        FROM lineitem
        WHERE l_quantity >= 10 AND l_quantity < 25 AND l_shipdate >= TIMESTAMP '1998-01-01'
    """,
    "q_filter_compound": """
        SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        FROM orders
        WHERE (o_orderstatus IN ('F','O') AND o_orderpriority LIKE '1%')
           OR (o_orderstatus NOT IN ('F','O') AND o_totalprice > 100000.0)
    """,
    "q_project_compute": f"""
        SELECT l_orderkey, l_linenumber,
               {R("l_extendedprice * (1 - l_discount)")} AS revenue,
               {R("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS charge
        FROM lineitem
    """,
    "q_filter_null": """
        SELECT l_returnflag, COUNT(*) AS n_zero_discount
        FROM (SELECT l_returnflag, NULLIF(l_discount, 0.0) AS disc_or_null FROM lineitem)
        WHERE disc_or_null IS NULL
        GROUP BY l_returnflag
    """,
    "q_join_inner": """
        SELECT o_orderkey, c_custkey, c_name, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "q_join_multiway": f"""
        SELECT r_name, n_name,
               {R("SUM(l_extendedprice * (1 - l_discount))")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY r_name, n_name
    """,
    "q_join_left": f"""
        SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
               {R("COALESCE(SUM(o_totalprice), 0.0)")} AS total_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "q_join_full": """
        SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
               COALESCE(n_customers, 0) AS n_customers,
               COALESCE(n_suppliers, 0) AS n_suppliers
        FROM (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) c
        FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
          ON c.c_nationkey = s.s_nationkey
    """,
    "q_join_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "q_join_anti": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "q_join_broadcast": f"""
        SELECT r_name, COUNT(*) AS n_customers, {R("SUM(c_acctbal)")} AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "q_join_theta": """
        SELECT s_suppkey, s_name, COUNT(*) AS n_richer_customers
        FROM customer JOIN supplier ON c_acctbal > s_acctbal
        GROUP BY s_suppkey, s_name
    """,
    "q_join_asof": """
        SELECT l.event_id, l.user_id, l.ts, l.value,
               r.event_id AS signup_event_id, r.value AS signup_value
        FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'signup') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "q_join_interval": """
        SELECT p.event_id, p.user_id, COUNT(*) AS n_errors_30m
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
          ON p.user_id = e.user_id
         AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 30 MINUTE
        GROUP BY p.event_id, p.user_id
    """,
    # 11e-1 not 1.1: bare decimal literals parse as DECIMAL in DuckDB and
    # would run the bump in decimal arithmetic (see util.sql_round).
    "q_merge_upsert": f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               {R('o_totalprice')} AS total
        FROM orders
        WHERE o_orderkey % {UPSERT_MOD} <> 0 AND o_orderkey % {DELETE_MOD} <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
               {R('o_totalprice * 11e-1')} AS total
        FROM orders
        WHERE o_orderkey % {UPSERT_MOD} = 0 AND o_orderkey % {DELETE_MOD} <> 0
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
