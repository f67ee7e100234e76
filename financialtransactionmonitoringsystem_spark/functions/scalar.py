"""Scalar function families (SURVEY.md §2.2).

Reference parity: the reference's only scalar operations are string prefix
matching (O6 ``request_with``, ``monitoring-service/src/main.rs:41-43``),
path splitting (O7 ``get_id``, ``main.rs:45-47``) and JSON de/serialization
(O4/O5).  ``q_fn_string`` / ``q_fn_json`` cover those; the other families
are the engine's added breadth.

All of these are built-in ``pyspark.sql.functions`` -- JVM-side, inside
whole-stage codegen; no Python UDFs anywhere in the scalar path.

Cross-engine determinism rules (learned once, applied everywhere):
* Spark's ``floor``/``ceil`` return BIGINT, DuckDB's return DOUBLE -> cast
  in the oracle.
* Spark ``unix_timestamp`` floors to seconds -> DuckDB ``epoch_us(...) //
  1_000_000`` (floor division), never ``CAST(epoch(...))`` which rounds.
* Day-of-week conventions differ -> compare via date arithmetic on DATE.
* Float folds must be sequential and double-typed on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, scan_wide
from ..util import rnd, sql_round as R


def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split / substring / prefix / regexp_extract / concat / case folding."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower(F.col("p_type")).alias("type_lc"),
        F.upper(F.col("p_name")).alias("name_uc"),
        F.substring(F.col("p_name"), 1, 5).alias("name5"),
        F.split(F.col("p_name"), " ").getItem(1).alias("tok2"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.col("p_name").startswith("large").alias("is_large"),
        F.regexp_extract(F.col("p_brand"), "([0-9]+)", 1).cast("long").alias("brand_num"),
        F.length(F.col("p_name")).alias("name_len"),
    )


def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 event-time derivations (SURVEY §1.2 temporal mapping)."""
    ev = scan_wide(load_table(spark, sf_dir, "events"), "event_id")
    return ev.select(
        "event_id", "ts",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("days_since"),
    )


def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 measured NO-GUARD verdict: sqrt/pow/floor per row are too
    # cheap for the scan_wide exchange of 30M lineitem rows to pay for
    # itself (interleaved A/B: 0.26 vs 0.53 s at 1x, 0.83 vs 2.66 at
    # 10x, ~tied at 50x) -- the q_fn_try/q_fn_decimal verdict class.
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        rnd(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.sqrt(F.col("l_quantity")).alias("sqrt_qty"),
        F.pow(F.col("l_quantity"), 2).alias("qty_sq"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor(F.col("l_extendedprice")).alias("price_floor"),
        F.ceil(F.col("l_extendedprice")).alias("price_ceil"),
        (F.col("l_orderkey") % 7).alias("mod7"),
    )


def json_props_extract(ev: DataFrame) -> DataFrame:
    """The q_fn_json projection over any (event_id, props) frame -- one
    ``json_tuple`` streaming parse for both paths, casts outside the
    JSON machinery.  Module-level so the planted-shape equality test
    exercises the SHIPPED projection instead of an inline copy that
    could drift (the TRY_CAST_INT_SHAPE lesson, re-found in review)."""
    return (ev.select("event_id",
                      F.json_tuple(F.col("props"), "k", "missing")
                      .alias("k_raw", "missing_val"))
            .select("event_id",
                    F.col("k_raw").cast("long").alias("k"),
                    "missing_val",
                    (F.col("k_raw").cast("long") % 10).alias("k_bucket")))


def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5 JSON extraction (``main.rs:49-52``): typed path extraction,
    missing-path -> NULL, matching serde's unknown/missing tolerance.

    ``json_tuple`` extracts BOTH paths from ONE Jackson streaming parse
    per row, where one ``get_json_object`` per path pays a full parse
    per distinct path -- codegen subexpression elimination merges the
    two identical ``$.k`` probes, but ``$.missing`` re-parses the
    string.  Interleaved A/B on replicas over the per-path form:
    1.57x / 1.76x / 1.79x at 1x/10x/50x.  The ``from_json``
    single-parse struct form was also measured and is WORSE than the
    per-path form (0.85-0.93x: it materializes an InternalRow per row
    where both string paths stream) -- recorded in PLANS so it is not
    re-litigated.

    KNOWN edge divergence (review finding, pinned by a planted test,
    not hidden): on DUPLICATE-KEY JSON (``{"k": 7, "k": 8}``)
    json_tuple keeps the LAST occurrence (8) while get_json_object and
    DuckDB's json_extract_string keep the FIRST (7).  Last-wins is
    what the reference's own serde_json does (``main.rs:49-52``); the
    corpus generator emits single-key props only, so oracle parity is
    unaffected -- but if a future corpus ever hash-fails on this key,
    check props for duplicate keys FIRST.  On duplicate-free JSON the
    forms are row-identical (a planted test pins the edge shapes).

    The events scan rides
    :func:`tables.scan_wide` so the per-row Jackson parse does not run
    at one-row-group scan width (no-op at real input widths)."""
    return json_props_extract(
        scan_wide(load_table(spark, sf_dir, "events"), "event_id"))


def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over embeddings, folded sequentially in
    double precision (bit-identical to the oracle's list_reduce)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dot_self = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    total = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id", "label",
        F.size("embedding").alias("dim"),
        rnd(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        rnd(total, 6).alias("sum_vals"),
        rnd(F.sqrt(dot_self), 6).alias("l2_norm"),
    )


def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction/access -- the Go ``metadata map[string]string`` shape
    (``user-service/main.go:16``)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("m_type"),
        F.element_at(m, "user").alias("m_user"),
        F.size(m).alias("m_size"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("m_keys"),
    )


def q_fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / coalesce / nullif: the credit->+ / debit->- signed-amount rule
    from the transactions domain, applied to the events stream."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "event_type",
        rnd(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .when(F.col("event_type") == "error", -F.col("value"))
            .otherwise(F.lit(0.0))).alias("signed_value"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("signup")), F.lit("NEW")).alias("type_or_new"),
    )


# The integer-cents ingress expressions for q_fn_decimal -- ONE copy
# shared with the planted ingress test (the TRY_CAST_INT_SHAPE lesson:
# impl and test must not be able to drift).  The decimal hop makes the
# double -> cents mapping value-identical to the double -> decimal(18,2)
# cast the oracle uses (HALF_UP on the shortest decimal
# representation), which a direct round(x * 100) would NOT be (the
# pre-round multiply can cross a half-way boundary in double).
#
# The decimal hop is taken only on the AMBIGUOUS rows; everything else
# rounds in pure double/long math.  Spark's double->decimal cast goes
# through java.math.BigDecimal OF THE SHORTEST DECIMAL REPRESENTATION
# (Double.toString) and was the dominant per-row cost left in
# q_fn_decimal (5.7x the all-double floor at 50x).  Derivation of the guard: let v be the shortest-repr value
# of double x (|v - x| <= ulp(x)/2) and y = |x| * 100.0 as computed
# (one more rounding, ulp(y)/2).  Then |y - 100|v|| <= 2*ulp(y), and
# HALF_UP(|v|, 2) = floor(100|v| + 0.5) differs from floor(y + 0.5)
# only when 100|v| and y straddle a half-integer -- impossible unless
# frac(y) lies within 2*ulp(y) of 0.5.  The guard routes to the
# decimal hop when |frac(y) - 0.5| <= greatest(y, 1.0) * 3.6e-15
# (= 16*2^-52, an 8x margin over the 2-ulp bound; frac(y) = y-floor(y)
# is exact in double), when |x| could overflow the target decimal
# (preserving the loud ANSI error), or when x is NaN (ANSI error) --
# +/-Infinity falls under the overflow branch.  Sign: HALF_UP rounds
# halves AWAY from zero, hence sign(x) * floor(|x|*100 + 0.5); the
# floor result is < 10^13 so the double product with +/-1.0 is exact.
# The half-way traps the planted test pins (1.005, 2.675, 0.005,
# 999999999.995) all land inside the guard band and take the hop;
# identity with the decimal cast on the planted edges is test-pinned
# (test_fn_decimal_cents_equals_decimal_types_reference), the corpus
# rows are oracle-checked, and the A/B is in OPTIMIZATION_r18.md.


def _cents_expr(col: str, precision: int, scale: int) -> str:
    """Guarded integer-cents ingress for a money double (see the block
    comment above): fast double->long round-half-away-from-zero, with
    the exact decimal hop kept for the ambiguous half-way band, the
    overflow region (ANSI must still raise), and NaN."""
    dec = f"decimal({precision},{scale})"
    hop = f"cast(cast({col} as {dec}) * 100 as bigint)"
    y = f"(abs({col}) * 100.0)"
    # largest magnitude that provably cannot round into overflow
    bound = float(10 ** (precision - scale) - 1)
    return (f"CASE WHEN isnan({col}) OR abs({col}) >= {bound!r} "
            f"OR abs({y} - floor({y}) - 0.5) <= greatest({y}, 1.0) * 3.6e-15 "
            f"THEN {hop} "
            f"ELSE cast(sign({col}) * floor({y} + 0.5) as bigint) END")


CENTS_PRICE_EXPR = _cents_expr("l_extendedprice", 13, 2)
CENTS_DISC_EXPR = _cents_expr("l_discount", 3, 2)


def q_fn_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-money arithmetic -- the production variant of the
    reference's float64 money (``main.go:13``/``main.rs:11``; SURVEY.md
    §1.2 note).  Every sum/product is exact and the final cast to
    double only converts the already-exact result, so both engines
    agree bit-for-bit with no rounding formula at all.

    Money enters through the SAME double->decimal cast as the
    DecimalType(18,2) oracle
    (HALF_UP on the double's shortest decimal representation), is
    converted ONCE per row to integer cents, and all per-row
    arithmetic is 64-bit integer -- Spark's Decimal multiply always
    routes through java.math.BigDecimal and the (18,2)x(18,2) product
    is precision 37, off the compact-long representation entirely, so
    the decimal form paid per-row BigDecimal allocation for what is
    integer math.  Two-level aggregation (guide-class "partial by
    (key, partition), merge by key"): long sums per (l_returnflag,
    spark_partition_id()) -- collapsed map-side to O(groups x
    partitions) rows -- then an exact DECIMAL(38,0) merge, an exact
    scale-restoring division (quotient scale 6 > the 2/4 true scales),
    and one correctly-rounded cast to double.

    Exactness / envelope: cast(x AS DECIMAL(13,2)) has the same VALUE
    as the (18,2) cast for every |x| < 10^11 (identical rounding;
    wider headroom differs only in overflow, which ANSI raises loudly
    rather than diverging); cents and the per-row revenue
    pc*(100-dc) are exact longs (|pc| <= 10^13, |100-dc| <= 10^3);
    a PARTIAL sum only spans one scan partition, so the 2^63 window
    needs ~9.2e18/(P*1e4) rows of price ~P in ONE partition (> 10^8
    rows at P=10^6 -- far beyond any sane split, and a breach is a
    loud ANSI error); the cross-partition merge is decimal(38,0),
    exact to 10^38.  The REJECTED variants, measured (do not
    re-litigate without new data): narrowed decimal types
    (decimal(13,2)/(3,2), product fits precision 18) are a NO-OP
    (20.00 vs 17.22 s at 50x -- Decimal.* is BigDecimal at any
    precision); single-level long sums are fastest (9.23 at 50x) but
    their 2^63 window is the whole per-group total (~2.4e10 rows at
    realistic prices -- INSIDE the 100 TB envelope); summing per-row
    longs as decimal(18,0) is far worse than the baseline (25.24 at
    50x -- per-row long->Decimal boxing into a non-compact buffer).
    Two-level A/B vs all-DecimalType(18,2) arithmetic (interleaved
    min-of-2, warm): 1.11 vs 0.77 s at 1x (fixed extra-stage cost),
    4.55 vs 5.28 at 10x, **11.84 vs 17.22 at 50x (1.45x)** -- the
    q_agg_stats trade: slower at 1x, the scale-correct shape.

    The remaining per-row cost -- the
    double->decimal ingress cast, 5.7x the all-double floor -- now
    takes a guarded fast path (:func:`_cents_expr`: pure double/long
    rounding, with the decimal hop kept for the half-way guard band,
    the overflow region, and NaN; derivation in the block comment
    above).  Interleaved A/B (min-of-2/3, warm): 0.76 -> 0.57 s at 1x,
    2.79 -> 1.06 at 10x, **9.79 -> 2.34 at 50x (4.2x)**.
    Value-identical to the pure-hop ingress on the corpus, the 10x
    replica, and the extended planted half-way edges
    (test_fn_decimal_cents_equals_decimal_types_reference).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pc = F.expr(CENTS_PRICE_EXPR)
    dc = F.expr(CENTS_DISC_EXPR)
    part = (
        li.select(F.col("l_returnflag"), pc.alias("pc"), dc.alias("dc"),
                  F.spark_partition_id().alias("__pid"))
        .groupBy("l_returnflag", "__pid")
        .agg(F.sum("pc").alias("spc"),
             F.sum(F.col("pc") * (F.lit(100) - F.col("dc"))).alias("src"),
             F.count(F.lit(1)).alias("n"))
    )
    return (
        part.groupBy("l_returnflag")
        .agg(F.sum(F.col("spc").cast("decimal(38,0)")).alias("__spc"),
             F.sum(F.col("src").cast("decimal(38,0)")).alias("__src"),
             F.sum("n").alias("n"))
        .select("l_returnflag",
                (F.col("__spc") / F.lit(100).cast("decimal(3,0)"))
                .cast("double").alias("sum_price"),
                (F.col("__src") / F.lit(10000).cast("decimal(5,0)"))
                .cast("double").alias("sum_revenue"),
                "n")
    )


# The numeric-shape guard for q_fn_try, as a SQL-literal regex
# ('\\xNN' reaches Java regex as \xNN).  Pad class = what the ANSI
# cast's UTF8String.trimAll strips: ASCII controls + space + DEL.
# Shared with tests/test_llm_pipeline.py so the planted equality test
# always pins the exact pattern that ships.
TRY_CAST_INT_SHAPE = r"^[\\x00-\\x20\\x7F]*[+-]?[0-9]+[\\x00-\\x20\\x7F]*$"


def q_fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling: ``try_divide`` / ``try_cast`` return
    NULL instead of raising -- the semantics a 100 TB batch needs so one
    malformed row cannot kill a 10-hour job.  Division by zero (every
    5th customer key) and a non-numeric cast both surface as NULLs the
    downstream query can count/filter, attested row-for-row against the
    oracle's NULLIF/TRY_CAST equivalents.

    A bare ``try_cast(o_orderpriority AS INT)`` over a column of
    "1-URGENT"-style non-numerics makes the ANSI cast's
    throw-and-catch -- SparkNumberFormatException message +
    query-context construction included -- the STEADY-STATE path
    (~8.7 us/row; 65 s at 50x, the heaviest per-row cost in the
    registry).  The guard makes NULL the computed fast path: a
    numeric-shape rlike admits exactly the strings an ANSI string->int
    cast can parse, and only those reach the inner try_cast, which
    still handles the one failure the shape test cannot see (int
    overflow) by returning NULL.  Interleaved A/B on replicas: ~24x at
    50x.

    Pad class (ADVICE r15): the ANSI cast trims via
    ``UTF8String.trimAll``, which strips ASCII controls + space + DEL
    (``[\\x00-\\x20\\x7F]``) -- WIDER than Java regex ``\\s``.  Probed
    empirically in r16: NUL/US/DEL-padded numerics parse (a
    ``\\s``-based guard would wrongly reject them) while C1 controls
    (0x85-0x9F) and Unicode spaces (NBSP, EN QUAD, IDEOGRAPHIC) do
    NOT parse, so the class is exact, not conservative.  Guarded and
    bare casts are pinned equal on a planted edge-case table
    (control-char pads, whitespace, signs, overflow, decimals, empty,
    NULL) by tests/test_llm_pipeline.py.

    Measured NO-GUARD verdict: with the rlike
    guard making NULL the computed fast path, per-row cost is too
    cheap for the narrow-scan exchange to pay for itself --
    :func:`tables.scan_wide` was A/B'd at 0.71 vs 0.92 s (10x) and
    2.31 vs 3.40 s (50x) AGAINST the plain scan and reverted; the
    ``selectExpr`` form (needed so a guard could apply without
    mutating the shared ``orders`` view) is kept."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.selectExpr(
        "o_orderkey",
        "try_divide(o_totalprice, o_custkey % 5) AS safe_div",
        f"CASE WHEN o_orderpriority RLIKE '{TRY_CAST_INT_SHAPE}' "
        "THEN try_cast(o_orderpriority AS INT) END AS pri_num",
        "try_cast(substring(o_orderpriority, 1, 1) AS INT) AS pri_digit",
    )


ORACLES: dict[str, str] = {
    "q_fn_try": """
        SELECT o_orderkey,
               o_totalprice / NULLIF(o_custkey % 5, 0) AS safe_div,
               TRY_CAST(o_orderpriority AS INT) AS pri_num,
               TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri_digit
        FROM orders
    """,
    "q_fn_decimal": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS sum_revenue,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_fn_string": """
        SELECT p_partkey,
               lower(p_type) AS type_lc,
               upper(p_name) AS name_uc,
               substring(p_name, 1, 5) AS name5,
               split_part(p_name, ' ', 2) AS tok2,
               concat_ws('-', p_brand, p_type) AS brand_type,
               starts_with(p_name, 'large') AS is_large,
               CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
               CAST(length(p_name) AS INTEGER) AS name_len
        FROM part
    """,
    "q_fn_date": """
        SELECT event_id, ts,
               CAST(year(ts) AS INTEGER) AS y,
               CAST(month(ts) AS INTEGER) AS m,
               CAST(day(ts) AS INTEGER) AS d,
               CAST(hour(ts) AS INTEGER) AS h,
               date_trunc('hour', ts) AS ts_hour,
               strftime(ts, '%Y-%m-%d') AS day_str,
               epoch_us(ts) // 1000000 AS epoch_s,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS days_since
        FROM events
    """,
    "q_fn_math": f"""
        SELECT l_orderkey, l_linenumber,
               {R("l_extendedprice / l_quantity")} AS unit_price,
               sqrt(l_quantity) AS sqrt_qty,
               power(l_quantity, 2) AS qty_sq,
               abs(l_discount - 0.05) AS disc_dev,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
               l_orderkey % 7 AS mod7
        FROM lineitem
    """,
    "q_fn_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               json_extract_string(props, '$.missing') AS missing_val,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
        FROM events
    """,
    "q_fn_array": f"""
        SELECT vec_id, label,
               CAST(len(embedding) AS INTEGER) AS dim,
               {R("CAST(embedding[1] AS DOUBLE)", 6)} AS first_val,
               {R('''list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 (a, b) -> a + b)''', 6)} AS sum_vals,
               {R('''sqrt(list_reduce(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                 (a, b) -> a + b))''', 6)} AS l2_norm
        FROM embeddings
    """,
    "q_fn_map": """
        SELECT event_id,
               map(['type','user'], [event_type, CAST(user_id AS VARCHAR)])['type'][1] AS m_type,
               map(['type','user'], [event_type, CAST(user_id AS VARCHAR)])['user'][1] AS m_user,
               CAST(cardinality(map(['type','user'], [event_type, CAST(user_id AS VARCHAR)])) AS INTEGER) AS m_size,
               array_to_string(list_sort(map_keys(map(['type','user'],
                   [event_type, CAST(user_id AS VARCHAR)]))), ',') AS m_keys
        FROM events
    """,
    "q_fn_cond": f"""
        SELECT event_id, event_type,
               {R('''CASE WHEN event_type = 'purchase' THEN value
                          WHEN event_type = 'error' THEN -value
                          ELSE 0.0 END''')} AS signed_value,
               COALESCE(NULLIF(event_type, 'signup'), 'NEW') AS type_or_new
        FROM events
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
