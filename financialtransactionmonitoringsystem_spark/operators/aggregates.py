"""Aggregation family (SURVEY.md §2.2).

The reference has no aggregation at all (verified absence, SURVEY §2.1);
this is the "monitoring" capability its name promises -- per-user spend,
per-currency volume, fraud statistics.

Scale notes: ``groupBy().agg()`` compiles to partial (map-side) + final
aggregation automatically, so the shuffle carries pre-combined rows, not
raw data.  Float aggregates are rounded at the final projection on both
the Spark and oracle sides with the cross-engine-stable formula in
``util.rnd`` (SURVEY §7 hard-part 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load_table, scan_wide
from ..util import rnd, sql_round as R


def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        rnd(F.sum("l_quantity")).alias("sum_qty"),
        rnd(F.avg("l_extendedprice")).alias("avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical per-group monitoring rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity")).alias("sum_qty"),
            rnd(F.sum("l_extendedprice")).alias("sum_base_price"),
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))).alias("sum_charge"),
            rnd(F.avg("l_quantity")).alias("avg_qty"),
            rnd(F.avg("l_extendedprice")).alias("avg_price"),
            rnd(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             rnd(F.sum("o_totalprice")).alias("spend"))
        .filter(F.col("n_orders") >= 12)
    )


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            rnd(F.sum_distinct(F.col("l_quantity"))).alias("sum_distinct_qty"),
        )
    )


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HLL++).  No exact oracle by nature; the
    driver records a rows-only check.  A sanity test asserts relative
    error vs the exact count."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"))
    )


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a DETERMINISTIC tie-break (count
    desc, value asc).  Spark's built-in ``mode()`` returns an arbitrary
    winner on ties, which can never hash-match an oracle; the two-phase
    count + row_number form is engine-portable and keeps the heavy
    aggregation map-side-combinable (the window runs on the tiny
    (group, value) count table)."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    per = (li.groupBy("l_returnflag", "l_quantity")
           .agg(F.count(F.lit(1)).alias("n_occurrences")))
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("n_occurrences").desc(), F.col("l_quantity").asc())
    return (per.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("l_returnflag", F.col("l_quantity").alias("mode_qty"),
                    "n_occurrences"))


APPROX_QUANTILE_ACC = 10_000  # GK sketch accuracy: rank error <= n/acc


def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate percentiles (Greenwald-Khanna sketch behind
    ``percentile_approx``): p50/p90/p99 of extended price per return
    flag in ONE pass with bounded-size per-partition state, where the
    exact form (``q_agg_stats``) must materialize each group's sorted
    values.  The sketch merges associatively across partitions, so the
    same query runs over 100 TB without a per-group sort.  No exact
    oracle by nature (DuckDB's approx_quantile is t-digest, a different
    sketch); rows-only check + a local rank-error test vs the exact
    percentiles."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = F.percentile_approx(
        "l_extendedprice",
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(APPROX_QUANTILE_ACC))
    return (
        li.groupBy("l_returnflag")
        .agg(qs.alias("q"))
        .select("l_returnflag",
                F.col("q")[0].alias("p50"),
                F.col("q")[1].alias("p90"),
                F.col("q")[2].alias("p99"))
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(rnd(F.sum("l_quantity")).alias("sum_qty"),
             F.count(F.lit(1)).alias("n"))
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(rnd(F.sum("l_quantity")).alias("sum_qty"),
             F.count(F.lit(1)).alias("n"))
    )


def q_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gsets_lineitem")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               {R('SUM(l_quantity)')} AS sum_qty, COUNT(*) AS n
        FROM __gsets_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion + exact interpolated percentiles, in ONE grouped pass.

    Engines disagree at rounding boundaries when each uses its own
    quantile implementation, so the family invariant is doubles that
    are bit-identical BEFORE rounding.  Here that is achieved by
    writing the ORACLE in Spark ``percentile()``'s exact op order (see
    :func:`_pct_sql_spark_order`) rather than by avoiding the builtin:
    the builtin is an ObjectHashAggregate whose partial buffers are
    (value -> count) maps, so the shuffle carries
    distinct-values-per-partition, map-side combine applies, and
    parallelism follows the scan.  A window-rank form funnels the whole
    fact table through #groups (THREE) sort partitions, plus a second
    scan and a join.  Interleaved A/B on replicas, speed of this pass
    over the window-rank form: 0.50x at 1x (per-row map upkeep costs
    more than a 3-partition sort of small data), 0.93x at 10x and 1.63x
    at 50x, diverging.  The scan
    rides :func:`tables.scan_wide`: the partial (value -> count) map
    upkeep fuses into the scan stage, which is ONE task on the
    one-row-group testdata file."""
    li = scan_wide(load_table(spark, sf_dir, "lineitem"),
                   "l_orderkey", "l_linenumber")
    return li.groupBy("l_returnflag").agg(
        rnd(F.stddev_samp("l_extendedprice")).alias("sd_price"),
        rnd(F.var_samp("l_quantity")).alias("var_qty"),
        rnd(F.percentile("l_extendedprice", F.lit(0.5))).alias("median_price"),
        rnd(F.percentile("l_extendedprice", F.lit(0.9))).alias("p90_price"),
    )


def _pct_sql_spark_order(q: str, alias: str) -> str:
    """Exact-percentile SQL in Spark's ``percentile()`` op order (probed
    empirically against all three algebraically-equal forms): 0-based
    ``pos = q*(n-1)``; exact row value when ``ceil(pos) == floor(pos)``;
    else ``(ceil(pos) - pos)*v_lo + (pos - floor(pos))*v_hi``.  The
    ~1 ulp difference vs the 1-based lerp form is real (q*(n-1) and
    q*(n-1)+1 round differently as doubles) -- this keeps oracle doubles
    bit-identical to the builtin before the 2dp floor-round."""
    pos = f"{q}*(n-1)"
    lo = f"CAST(floor({pos}) AS BIGINT) + 1"
    hi = f"CAST(ceil({pos}) AS BIGINT) + 1"
    v_lo = f"MAX(CASE WHEN rn = {lo} THEN v END)"
    v_hi = f"MAX(CASE WHEN rn = {hi} THEN v END)"
    raw = (f"CASE WHEN MAX({hi}) = MAX({lo}) THEN {v_lo} "
           f"ELSE MAX(ceil({pos}) - ({pos})) * {v_lo} "
           f"+ MAX({pos} - floor({pos})) * {v_hi} END")
    return f"{R(raw)} AS {alias}"


# The oracle: percentiles in the builtin's op order.  The DISPERSION
# aggregates deliberately stay on the bare lineitem scan (separate CTE +
# join) rather than the window-sorted ranked CTE:
# DuckDB's stddev/var accumulation is FP-order-sensitive, and feeding
# it post-window row order would silently shift the unrounded doubles
# away from the r13-attested values for no benefit (review finding --
# oracle cost at certify SFs is irrelevant; ulp drift near a .xx5
# boundary is not).  Referenced by ORACLES["q_agg_stats"].
AGG_STATS_ONEPASS_ORACLE = f"""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    pcts AS (
      SELECT l_returnflag,
             {_pct_sql_spark_order('5e-1', 'median_price')},
             {_pct_sql_spark_order('9e-1', 'p90_price')}
      FROM ranked GROUP BY l_returnflag
    ),
    disp AS (
      SELECT l_returnflag,
             {R('stddev_samp(l_extendedprice)')} AS sd_price,
             {R('var_samp(l_quantity)')} AS var_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT disp.l_returnflag, sd_price, var_qty, median_price, p90_price
    FROM disp JOIN pcts ON disp.l_returnflag = pcts.l_returnflag
"""


def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with deterministic ordering, emitted as a joined string
    so the value-hash is representation-stable across engines."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment")
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
             F.count(F.lit(1)).alias("n_customers"))
    )


def q_agg_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches built-ins, Spark 3.5+):
    per-event-type sketches of the active-user set, plus an ALL row whose
    sketch is the *union-merge* of the per-type sketches.

    The mergeable-sketch shape is what makes 100 TB distinct-counting one
    pass: sketch per partition/day/type, then any rollup is a cheap
    ``hll_union_agg`` over sketch blobs instead of a re-scan.  Estimates
    are approximate and sketch bytes engine-specific -> rows-only check
    (the survey's q_agg_approx note); a test bounds the error vs exact
    countDistinct and asserts the merge is lossless.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_type.agg(
        F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"), "sk")
    return (
        per_type.unionByName(merged)
        .select("event_type",
                F.hll_sketch_estimate("sk").alias("n_users_est"))
        .orderBy("event_type")
    )


# Columns profiled by q_profile: (name, numeric?) -- numeric ones also
# report min/max (cast to double, no arithmetic, so engines agree
# bit-for-bit).  Profiling is schema-driven; this tuple doubles as the
# generator for the oracle SQL below.
PROFILE_COLS = (
    ("event_id", True), ("ts", False), ("user_id", True),
    ("event_type", False), ("value", True), ("props", False),
)


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling of the events table: per-column null count, exact
    distinct count, numeric min/max -- the data-quality landing pass of
    any pipeline (and the absence audit the reference can't run).

    One aggregation job: all per-column aggregates evaluate in a single
    pass and unpack from an array of structs.  The exact multi-column
    countDistinct plans through one Expand (rows x |cols|); the 100 TB
    variant swaps in approx_count_distinct / HLL sketches (q_agg_hll) --
    same single-pass shape without the Expand.

    The scan rides :func:`tables.scan_wide` (r17 optimization round):
    the Expand (rows x |cols|) and the partial distinct aggregate fuse
    into the scan stage, ONE task on the one-row-group testdata file.
    r18: declared ``light`` -- the per-row cost is hash-map upkeep,
    so below the size threshold the guard's extra stage cost more than
    the serial pass it parallelized (VERDICT r17 #1: the guard made
    q_profile the most expensive bench key at sf0.1, -0.77 s, while
    the 10x/50x wins, 1.8x/2.3x, all sit above the threshold).
    """
    ev = scan_wide(load_table(spark, sf_dir, "events"), "event_id",
                   light=True)
    cells = [
        F.struct(
            F.lit(c).alias("column"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            (F.min(c).cast("double") if num
             else F.min(F.lit(None)).cast("double")).alias("min_num"),
            (F.max(c).cast("double") if num
             else F.max(F.lit(None)).cast("double")).alias("max_num"),
        )
        for c, num in PROFILE_COLS
    ]
    return (
        ev.agg(F.array(*cells).alias("a"))
        .select(F.explode("a").alias("s"))
        .select("s.*")
    )


def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample
    covariance, and sample standard deviations of quantity vs price.

    All four are algebraic aggregates (each maintained as a constant-size
    tuple of sums), so the plan is the canonical two-phase hash
    aggregate: partials before the exchange, merge after -- one shuffle
    of O(groups) pre-combined rows regardless of input size.  Rounded
    with the cross-engine formula (util.rnd) since Spark and DuckDB sum
    partitions in different orders.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             rnd(F.corr("l_quantity", "l_extendedprice"), 4)
             .alias("corr_qty_price"),
             rnd(F.covar_samp("l_quantity", "l_extendedprice"))
             .alias("covar_qty_price"),
             rnd(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
             rnd(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"))
    )


def _profile_sql() -> str:
    parts = []
    for c, num in PROFILE_COLS:
        mn = f"CAST(min({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS column, count(*) - count({c}) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, {mn} AS min_num, "
            f"{mx} AS max_num FROM events")
    return "\nUNION ALL\n".join(parts)


def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation extremal customer via ``max_by``/``min_by`` -- the
    argmax aggregate that replaces the join-back-on-max anti-pattern
    (aggregate once, no second scan or self-join).

    Spark's max_by is NON-deterministic under ties, so the ordering key
    packs (balance cents, customer key) into one BIGINT: cents * 10^10
    -/+ c_custkey makes the extremum unique while preserving the
    balance ordering (cents is exact integer money, |custkey| < 10^10;
    the subtraction form makes max_by prefer the SMALLER key on equal
    balances, the addition form does the same for min_by).  Both
    engines evaluate the identical integer expression.

    Shape: one broadcast dim join + one map-side-combinable aggregate;
    at 100 TB this is a single shuffle of 25 pre-combined rows per
    partition."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cents = "CAST(floor(c_acctbal * 1e2 + 5e-1) AS BIGINT)"
    kmax = F.expr(f"{cents} * 10000000000 - c_custkey")
    kmin = F.expr(f"{cents} * 10000000000 + c_custkey")
    return (
        cust.join(F.broadcast(nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.max_by("c_name", kmax).alias("richest"),
             rnd(F.max("c_acctbal")).alias("max_bal"),
             F.min_by("c_name", kmin).alias("poorest"),
             rnd(F.min("c_acctbal")).alias("min_bal"))
    )


def q_agg_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmaps (``bitmap_construct_agg``):
    per return flag, the number of distinct parts -- same answer as
    COUNT(DISTINCT) but a fundamentally different 100 TB plan.

    COUNT(DISTINCT k) plans as Catalyst's two-phase distinct rewrite:
    the first exchange shuffles the full (group, k) DISTINCT PAIR SET.
    The bitmap form shuffles fixed 4 KB bitmaps per (group, k DIV
    32768) bucket instead -- partial bitmaps OR together on the map
    side, so the shuffle volume is bounded by (groups x key-range /
    32768) x 4 KB regardless of row count, and the per-bucket counts
    sum exactly.  This is the standard exact-distinct-at-scale pattern
    for dense integer keys; for sparse/huge domains use q_agg_hll
    (approximate) or pay the pair-set shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    per_bucket = (
        li.select("l_returnflag",
                  F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
                  F.expr("bitmap_bit_position(l_partkey)").alias("pos"))
        .groupBy("l_returnflag", "bkt")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("c"))
    )
    return (per_bucket.groupBy("l_returnflag")
            .agg(F.sum("c").alias("n_parts")))


# DDSketch-style log-binned quantile sketch: ln-space bin width in
# integer MICRO-nats.  20000 micro-nats = 0.02 in ln space = +/-1%
# relative half-width per bin -- the sketch's error envelope.
DD_STEP_MICRO = 20000
DD_TARGET_PCTS = (50, 90, 99)


def q_agg_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (DDSketch-family, log-binned): per
    return flag, p50/p90/p99 price estimates with a guaranteed ~1%
    relative error -- the mergeable alternative to exact sort-based
    percentiles (q_agg_stats) and to approx_percentile's GK sketch
    (q_agg_approx_quantile), chosen because its state is a plain
    (bin -> count) map that ADDS across partitions/days/shards.

    Unlike a t-digest (whose centroids depend on merge order), the
    log-binned sketch is a pure deterministic projection + count, so it
    is fully ORACLE-ABLE: bin = floor(micro_ln / step) where micro_ln
    is the perplexity-style integer micro-nat snap of ln(price)
    (floor(ln*1e6+0.5) -- same residual ~4e-9/value ln-boundary odds as
    q_text_perplexity, documented there), and the quantile rank test
    cross-multiplies integers (100*cum >= pct*n), so no float compare
    anywhere.  The bin estimate is the bin midpoint in ln space.

    100 TB shape: one map-side-combinable groupBy on (flag, bin) --
    ln-binning bounds the bin count at ~2000 per flag over the entire
    double range, so the shuffle is O(groups x 2000) regardless of row
    count; the cumulative window + target explode then run on that
    tiny frame."""
    li = load_table(spark, sf_dir, "lineitem")
    micro = F.floor(F.ln(F.col("l_extendedprice")) * F.lit(1e6) + F.lit(0.5))
    bin_ = F.floor(micro / F.lit(float(DD_STEP_MICRO))).cast("long")
    bins = (li.filter(F.col("l_extendedprice") > 0)
            .select("l_returnflag", bin_.alias("bin"))
            .groupBy("l_returnflag", "bin")
            .agg(F.count(F.lit(1)).alias("cnt")))
    w = W.partitionBy("l_returnflag").orderBy("bin")
    cum = (bins
           .withColumn("cum", F.sum("cnt").over(
               w.rowsBetween(W.unboundedPreceding, W.currentRow)))
           .withColumn("n", F.sum("cnt").over(W.partitionBy("l_returnflag"))))
    return (
        cum.select("l_returnflag", "bin", "cum", "n",
                   F.explode(F.array(*[F.lit(p) for p in DD_TARGET_PCTS]))
                   .alias("q_pct"))
        .filter(F.col("cum") * 100 >= F.col("q_pct") * F.col("n"))
        .groupBy("l_returnflag", "q_pct")
        .agg(F.min("bin").alias("bin"))
        .select("l_returnflag", "q_pct", "bin",
                rnd(F.exp((F.col("bin") * DD_STEP_MICRO
                           + DD_STEP_MICRO // 2) / F.lit(1e6))).alias("est"))
    )


ORACLES: dict[str, str] = {
    "q_profile": _profile_sql(),
    "q_agg_argmax": f"""
        SELECT n_name, COUNT(*) AS n_customers,
               max_by(c_name, CAST(floor(c_acctbal * 1e2 + 5e-1) AS BIGINT)
                              * 10000000000 - c_custkey) AS richest,
               {R('MAX(c_acctbal)')} AS max_bal,
               min_by(c_name, CAST(floor(c_acctbal * 1e2 + 5e-1) AS BIGINT)
                              * 10000000000 + c_custkey) AS poorest,
               {R('MIN(c_acctbal)')} AS min_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    # the oracle is the plain distinct count -- the bitmap is a PLAN
    # technique, not a semantic change
    "q_agg_bitmap": """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_agg_ddsketch": f"""
        WITH b AS (
          SELECT l_returnflag,
                 CAST(floor(floor(ln(CAST(l_extendedprice AS DOUBLE))*1e6
                                  + 5e-1) / {DD_STEP_MICRO}) AS BIGINT)
                   AS bin,
                 COUNT(*) AS cnt
          FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1, 2
        ), c AS (
          SELECT l_returnflag, bin, cnt,
                 SUM(cnt) OVER (PARTITION BY l_returnflag
                                ORDER BY bin) AS cum,
                 SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
          FROM b
        ), t(q_pct) AS (VALUES {", ".join(f"({p})" for p in DD_TARGET_PCTS)})
        SELECT l_returnflag, q_pct, MIN(bin) AS bin,
               {R(f'exp((MIN(bin)*{DD_STEP_MICRO} '
                  f'+ {DD_STEP_MICRO // 2})/1e6)')} AS est
        FROM c, t WHERE 100 * cum >= q_pct * n
        GROUP BY 1, 2
    """,
    "q_agg_corr": f"""
        SELECT l_returnflag, COUNT(*) AS n,
               {R('corr(l_quantity, l_extendedprice)', 4)} AS corr_qty_price,
               {R('covar_samp(l_quantity, l_extendedprice)')}
                 AS covar_qty_price,
               {R('stddev_samp(l_quantity)', 4)} AS sd_qty,
               {R('stddev_samp(l_extendedprice)', 2)} AS sd_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_agg_mode": """
        SELECT l_returnflag, mode_qty, n_occurrences FROM (
          SELECT l_returnflag, l_quantity AS mode_qty,
                 COUNT(*) AS n_occurrences,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY COUNT(*) DESC, l_quantity ASC)
                   AS rn
          FROM lineitem GROUP BY l_returnflag, l_quantity
        ) WHERE rn = 1
    """,
    "q_agg_global": f"""
        SELECT COUNT(*) AS n_rows, {R('SUM(l_quantity)')} AS sum_qty,
               {R('AVG(l_extendedprice)')} AS avg_price,
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
        FROM lineitem
    """,
    "q_agg_group": f"""
        SELECT l_returnflag, l_linestatus,
               {R('SUM(l_quantity)')} AS sum_qty,
               {R('SUM(l_extendedprice)')} AS sum_base_price,
               {R('SUM(l_extendedprice * (1 - l_discount))')} AS sum_disc_price,
               {R('SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))')} AS sum_charge,
               {R('AVG(l_quantity)')} AS avg_qty,
               {R('AVG(l_extendedprice)')} AS avg_price,
               {R('AVG(l_discount)', 4)} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2002-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q_agg_having": f"""
        SELECT o_custkey, COUNT(*) AS n_orders, {R('SUM(o_totalprice)')} AS spend
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
    """,
    "q_agg_distinct": f"""
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
               {R('SUM(DISTINCT l_quantity)')} AS sum_distinct_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_agg_rollup": f"""
        SELECT l_returnflag, l_linestatus,
               {R('SUM(l_quantity)')} AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_agg_cube": f"""
        SELECT l_returnflag, l_linestatus,
               {R('SUM(l_quantity)')} AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q_agg_gsets": f"""
        SELECT l_returnflag, l_linestatus,
               {R('SUM(l_quantity)')} AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "q_agg_stats": AGG_STATS_ONEPASS_ORACLE,
    "q_agg_collect": """
        SELECT c_mktsegment,
               array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations,
               COUNT(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_mktsegment
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
