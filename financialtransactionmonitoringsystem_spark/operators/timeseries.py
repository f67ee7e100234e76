"""Time-series analytics over the events stream: regular-grid resampling
with gap fill, change-history (SCD Type 2) reconstruction, and value
histograms.

The reference's monitoring surface (monitoring-service/src/main.rs:82-95)
stores a raw transaction timeline but can only replay it row by row;
these are the standard time-axis queries a monitoring system asks of
that timeline.  All three are pure DataFrame compositions -- no UDFs,
no driver-side iteration.

Scale notes (100 TB):

* ``q_ts_resample``: the only data-sized operation is the hourly
  pre-aggregation (map-side combinable, one shuffle).  Everything after
  runs on the aggregated series, whose cardinality is O(types x hours
  of history) -- a few thousand rows per YEAR regardless of event
  volume -- so the per-type gap-fill window is metadata-sized by
  construction, not a skew hazard.
* ``q_scd2``: one hash exchange on ``user_id`` serves the change-flag
  window, the regime aggregation (grouping keys are a superset of the
  partitioning key, so no re-exchange), and the valid_to lead window.
  tests/test_plans.py pins the single-exchange shape.
* ``q_agg_histogram``: fixed-width binning is a pure projection; the
  (type, bucket) aggregate has bounded cardinality and partial
  aggregation, the canonical two-phase shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load_table
from ..util import rnd, sql_round as R


def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each event type's value stream onto a dense hourly grid
    (its own [first, last] hour span), filling silent hours with
    n_events = 0 and forward-filling the last observed hourly sum --
    the gap-fill shape every time-series store (hypertable rollup,
    PromQL range vector) provides and a raw event log lacks.
    """
    ev = load_table(spark, sf_dir, "events")
    # hourly feeds BOTH the bounds aggregate and the grid join; without
    # reuse the events scan + aggregation runs twice.  The result is
    # O(types x hours) -- metadata-sized -- so materialize it once
    # (reference-tracked localCheckpoint, the dedup-family pattern); at
    # corpus scale this halves the only data-sized pass the query has.
    from .dedup import _scoped_build

    hourly = _scoped_build(
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value")).alias("sv"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL '1' HOUR"))).alias("hour"))
    # The first grid hour per type is h0 = an observed hour, so the
    # forward fill never sees a leading null.
    w = (W.partitionBy("event_type").orderBy("hour")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select("event_type", "hour",
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
                F.coalesce("sv", F.lit(0.0)).alias("sum_value"),
                F.last("sv", ignorenulls=True).over(w).alias("ffill_value"))
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild a Slowly-Changing-Dimension Type 2 history from the raw
    event log: per user, each maximal run of consecutive same-type
    events becomes one validity interval [valid_from, valid_to), open
    (valid_to NULL, is_current true) for the last run -- the
    gaps-and-islands construction behind every warehouse dimension
    table.

    Ordering ties break on event_id, so the regime assignment is a
    total order and the output deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(wo)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    regimes = (
        ev.withColumn("chg", chg)
        .withColumn("regime", F.sum("chg").over(
            wo.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("user_id", "regime")
        .agg(F.min("event_type").alias("event_type"),   # constant per regime
             F.min("ts").alias("valid_from"),
             F.count(F.lit(1)).alias("n_events"))
    )
    wr = W.partitionBy("user_id").orderBy("regime")
    valid_to = F.lead("valid_from").over(wr)
    return regimes.select(
        "user_id", "event_type", "valid_from",
        valid_to.alias("valid_to"), "n_events",
        valid_to.isNull().alias("is_current"))


SESSION_GAP_S = 1800  # same 30-minute inactivity gap as the streaming form


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization: per user, a new session starts
    whenever the gap since the previous event exceeds 30 minutes; each
    session reports its span, event count, and spend.

    This is the batch/historical counterpart of a streaming
    ``session_window`` (batch_twins.q_stream_session is its batch
    statement): a streaming form can only sessionize the live tail,
    while reprocessing 100 TB of history needs this window+aggregate
    form.  Ties in ``ts`` break on ``event_id`` so the session
    assignment is a total order.  Boundary semantics differ from
    ``session_window`` by design: Spark's gap is exclusive at
    microsecond precision (a gap of exactly 30:00.000000
    starts a new session), while this operator splits on
    whole-second gaps STRICTLY greater than the threshold -- the
    convention its DuckDB oracle can replicate exactly.

    Shape: ONE hash exchange on ``user_id`` serves the lag window, the
    running-sum window, and the (user_id, sess) aggregation (grouping
    keys are a superset of the partitioning key -- no re-exchange);
    identical single-exchange plan to :func:`q_scd2`, which pins it in
    tests/test_plans.py.  Per-user data is bounded (human activity), so
    the per-group window is not a skew hazard at corpus scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("long")
    gap = secs - F.lag(secs).over(wo)
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .withColumn("sess", F.sum("new_s").over(
            wo.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("user_id", "sess")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             rnd(F.sum("value")).alias("total_value"))
        .withColumn("duration_s",
                    F.col("session_end").cast("long")
                    - F.col("session_start").cast("long"))
    )


def q_funnel_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed sessionized funnel (VERDICT r6 #4): the q_funnel
    composition applied WITHIN q_sessionize's gap-based sessions -- per
    (user, session), the furthest stage of the ordered view -> click ->
    purchase funnel reached inside that session, where each stage only
    counts at or after the session's previous stage.  The per-user
    funnel says "did this user ever convert"; the per-session form says
    "does a single visit convert", the metric growth teams actually
    track.

    Shape: ONE hash exchange on ``user_id`` serves everything -- the
    lag/running-sum session assignment (q_sessionize's plan), the three
    chained conditional-min windows over (user_id, sess) (a subset
    partitioning, so no re-exchange, only a sort), and the final
    (user_id, sess) aggregation.  Same single-exchange guarantee
    tests/test_plans.py pins for q_sessionize/q_scd2.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("long")
    gap = secs - F.lag(secs).over(wo)
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    ws = W.partitionBy("user_id", "sess")
    ts, et = F.col("ts"), F.col("event_type")
    staged = (
        ev.withColumn("new_s", new_s)
        .withColumn("sess", F.sum("new_s").over(
            wo.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("vt", F.min(F.when(et == "view", ts)).over(ws))
        .withColumn("ct", F.min(F.when((et == "click")
                                       & (ts >= F.col("vt")), ts)).over(ws))
        .withColumn("pt", F.min(F.when((et == "purchase")
                                       & (ts >= F.col("ct")), ts)).over(ws))
    )
    stage = (F.when(F.col("pt").isNotNull(), 3)
             .when(F.col("ct").isNotNull(), 2)
             .when(F.col("vt").isNotNull(), 1).otherwise(0))
    return (
        staged.groupBy("user_id", "sess")
        .agg(F.min("ts").alias("session_start"),
             F.count(F.lit(1)).alias("n_events"),
             F.max(stage).alias("stage"))
    )


WEEK_S = 7 * 86400  # cohort-offset arithmetic in exact integer seconds


def q_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed retention x funnel composition (VERDICT r7 #3): per
    weekly SIGNUP cohort, how many users completed the ordered
    signup -> click -> purchase funnel, bucketed by how many weeks
    after the cohort week the conversion landed.  Retention curves say
    "did the user come back"; this says "did the visit that came back
    CONVERT" -- the composed metric growth teams actually report.

    Shape: ONE hash exchange on ``user_id`` serves the three chained
    conditional-min windows (q_funnel's pattern) and the per-user
    collapse (grouping key == partitioning key, no re-exchange); the
    cohort size then comes from a COUNT window over the per-user frame
    partitioned by cohort_week -- NOT a join back to a second
    aggregate, which would re-scan events end to end (the plan-read
    finding that shaped this: Spark recomputes shared subtrees per
    consumer) -- and the final rollup groups on a superset of that
    partitioning, so the whole query is exactly TWO exchanges and ONE
    events scan (plan-pinned).  Week offsets are exact integer second
    arithmetic ((conv - week_start) DIV 604800), so both engines
    bucket identically.  Determinism conventions (ADVICE r8): the
    oracle floors epoch(pt) -- bare CAST(epoch(...)) rounds to nearest
    second in DuckDB, which could flip week_offset for a conversion in
    the final second before a weekly boundary -- and cohort_week is
    emitted as the 'yyyy-MM-dd' STRING on both sides (the exact
    q_retention precedent, extras.py: date_format / strftime after the
    internal DATE cast; the previous Spark TIMESTAMP vs oracle DATE
    divergence only passed because pandas coerces both to datetime64,
    a hazard for any non-pandas comparison path)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    wu = W.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    staged = (
        ev.withColumn("st", F.min(F.when(et == "signup", ts)).over(wu))
        .withColumn("ct", F.min(F.when((et == "click")
                                       & (ts >= F.col("st")), ts)).over(wu))
        .withColumn("pt", F.min(F.when((et == "purchase")
                                       & (ts >= F.col("ct")), ts)).over(wu))
    )
    per_user = (staged.filter(F.col("st").isNotNull())
                .groupBy("user_id")
                .agg(F.min("st").alias("st"), F.min("pt").alias("pt"))
                .withColumn("cohort_week",
                            F.date_trunc("week", F.col("st"))))
    offset = F.expr(
        f"(CAST(pt AS LONG) - CAST(cohort_week AS LONG)) DIV {WEEK_S}")
    return (
        per_user.withColumn("n_cohort", F.count(F.lit(1)).over(
            W.partitionBy("cohort_week")))
        .filter(F.col("pt").isNotNull())
        .groupBy("cohort_week", offset.alias("week_offset"), "n_cohort")
        .agg(F.count(F.lit(1)).alias("n_converted"))
        .select(F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
                "week_offset", "n_cohort", "n_converted")
    )


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the hourly grid: q_ts_resample's
    dense grid, but silent hours take the LINEAR blend of the previous
    and next observed hourly sums instead of a forward fill -- the
    imputation time-series stores call ``interpolate('linear')``.

    Same scale shape as q_ts_resample (the only data-sized pass is the
    map-side-combinable hourly pre-aggregation; everything after is
    O(types x hours)).  The blend fraction is a ratio of exact integer
    hour distances, and the observed values are already cents-rounded,
    so both engines compute identical doubles before the final round.
    Boundary hours are always observed (each type's grid spans its own
    [first, last] hour), so neither neighbor is ever missing."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("hour"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   rnd(F.sum("value")).alias("sv")))
    from .dedup import _scoped_build

    hourly = _scoped_build(hourly)
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1",
                             F.expr("INTERVAL '1' HOUR"))).alias("hour"))
    wp = (W.partitionBy("event_type").orderBy("hour")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wn = (W.partitionBy("event_type").orderBy("hour")
          .rowsBetween(W.currentRow, W.unboundedFollowing))
    hsec = F.col("hour").cast("long")
    obs_h = F.when(F.col("sv").isNotNull(), hsec)
    joined = (
        grid.join(hourly, ["event_type", "hour"], "left")
        .withColumn("pv", F.last("sv", ignorenulls=True).over(wp))
        .withColumn("ph", F.last(obs_h, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("sv", ignorenulls=True).over(wn))
        .withColumn("nh", F.first(obs_h, ignorenulls=True).over(wn))
    )
    frac = ((hsec - F.col("ph"))
            / F.when(F.col("nh") != F.col("ph"),
                     F.col("nh") - F.col("ph")))
    return joined.select(
        "event_type", "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        rnd(F.when(F.col("sv").isNotNull(), F.col("sv"))
            .otherwise(F.col("pv")
                       + frac * (F.col("nv") - F.col("pv"))))
        .alias("interp_value"))


HIST_WIDTH = 25.0   # value-axis bin width
HIST_TOP = 15       # values >= HIST_WIDTH * HIST_TOP clamp into the top bin


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (bin width 25,
    top bin open-ended): the distribution profile behind threshold
    tuning for rules like ``q_anomaly``'s.  Bin edges are data-
    independent, so unlike percentile sketches the histogram needs no
    second pass and merges trivially across partitions.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / HIST_WIDTH), F.lit(HIST_TOP))
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             rnd(F.sum("value")).alias("sum_value"))
        .select("event_type", "bucket",
                (F.col("bucket") * HIST_WIDTH).alias("lo"), "n", "sum_value")
    )


ORACLES: dict[str, str] = {
    "q_retention_funnel": f"""
        WITH s AS (
          SELECT user_id, ts, event_type,
                 MIN(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER w AS st
          FROM events WINDOW w AS (PARTITION BY user_id)
        ), c AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= st
                             THEN ts END) OVER w AS ct
          FROM s WINDOW w AS (PARTITION BY user_id)
        ), p AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= ct
                             THEN ts END) OVER w AS pt
          FROM c WINDOW w AS (PARTITION BY user_id)
        ), per_user AS (
          SELECT user_id, MIN(st) AS st, MIN(pt) AS pt,
                 CAST(date_trunc('week', MIN(st)) AS DATE) AS cohort_week
          FROM p WHERE st IS NOT NULL GROUP BY user_id
        ), sized AS (
          SELECT *, COUNT(*) OVER (PARTITION BY cohort_week)
                   AS n_cohort
          FROM per_user
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               (CAST(floor(epoch(pt)) AS BIGINT)
                - CAST(floor(epoch(cohort_week)) AS BIGINT)) // {WEEK_S}
                 AS week_offset,
               n_cohort, COUNT(*) AS n_converted
        FROM sized WHERE pt IS NOT NULL
        GROUP BY 1, 2, 3
    """,
    # Deliberate exception to the "never bare CAST(epoch(...))" rule
    # (functions/scalar.py:16): every epoch() below takes an
    # HOUR-TRUNCATED timestamp (date_trunc / whole-hour series), whose
    # epoch is integral, so DuckDB's round-on-CAST cannot differ from
    # floor -- no sub-second component exists to round.
    "q_ts_interpolate": f"""
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 count(*) AS n_events, {R('sum(value)')} AS sv
          FROM events GROUP BY 1, 2
        ), b AS (
          SELECT event_type, min(hour) AS h0, max(hour) AS h1
          FROM h GROUP BY 1
        ), g AS (
          SELECT b.event_type,
                 unnest(generate_series(b.h0, b.h1, INTERVAL '1 hour'))
                   AS hour
          FROM b
        ), j AS (
          SELECT g.event_type, g.hour, h.n_events, h.sv,
                 last_value(h.sv IGNORE NULLS) OVER wp AS pv,
                 last_value(CASE WHEN h.sv IS NOT NULL
                            THEN CAST(epoch(g.hour) AS BIGINT) END
                            IGNORE NULLS) OVER wp AS ph,
                 first_value(h.sv IGNORE NULLS) OVER wn AS nv,
                 first_value(CASE WHEN h.sv IS NOT NULL
                             THEN CAST(epoch(g.hour) AS BIGINT) END
                             IGNORE NULLS) OVER wn AS nh
          FROM g LEFT JOIN h
            ON g.event_type = h.event_type AND g.hour = h.hour
          WINDOW wp AS (PARTITION BY g.event_type ORDER BY g.hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (PARTITION BY g.event_type ORDER BY g.hour
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, hour, COALESCE(n_events, 0) AS n_events,
               {R('''CASE WHEN sv IS NOT NULL THEN sv
                     ELSE pv + (CAST(epoch(hour) AS BIGINT) - ph)
                          / (CASE WHEN nh <> ph THEN nh - ph END)
                          * (nv - pv) END''')} AS interp_value
        FROM j
    """,
    "q_ts_resample": f"""
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 count(*) AS n_events, {R('sum(value)')} AS sv
          FROM events GROUP BY 1, 2
        ), b AS (
          SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM h GROUP BY 1
        ), g AS (
          SELECT b.event_type,
                 unnest(generate_series(b.h0, b.h1, INTERVAL '1 hour')) AS hour
          FROM b
        )
        SELECT g.event_type, g.hour,
               COALESCE(h.n_events, 0) AS n_events,
               COALESCE(h.sv, 0.0) AS sum_value,
               last_value(h.sv IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
        FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hour = h.hour
    """,
    "q_scd2": """
        WITH o AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), r AS (
          SELECT user_id, ts, event_type,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS regime
          FROM o
        ), s AS (
          SELECT user_id, regime, min(event_type) AS event_type,
                 min(ts) AS valid_from, count(*) AS n_events
          FROM r GROUP BY 1, 2
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER w2 AS valid_to, n_events,
               lead(valid_from) OVER w2 IS NULL AS is_current
        FROM s
        WINDOW w2 AS (PARTITION BY user_id ORDER BY regime)
    """,
    "q_sessionize": f"""
        WITH g AS (
          SELECT user_id, ts, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts, value,
                 CAST(SUM(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S}
                               THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sess
          FROM g
        )
        SELECT user_id, sess, min(ts) AS session_start,
               max(ts) AS session_end, count(*) AS n_events,
               {R('sum(value)')} AS total_value,
               CAST(floor(epoch(max(ts))) AS BIGINT)
                 - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
        FROM s GROUP BY 1, 2
    """,
    # Same session assignment as q_sessionize, then three chained
    # conditional-min windows over (user_id, sess) for the staged funnel.
    "q_funnel_sessionized": f"""
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts, event_type,
                 CAST(SUM(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S}
                               THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sess
          FROM g
        ), v AS (
          SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                      OVER (PARTITION BY user_id, sess) AS vt
          FROM s
        ), c AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= vt
                             THEN ts END)
                      OVER (PARTITION BY user_id, sess) AS ct
          FROM v
        ), p AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= ct
                             THEN ts END)
                      OVER (PARTITION BY user_id, sess) AS pt
          FROM c
        )
        SELECT user_id, sess, MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               MAX(CASE WHEN pt IS NOT NULL THEN 3
                        WHEN ct IS NOT NULL THEN 2
                        WHEN vt IS NOT NULL THEN 1 ELSE 0 END) AS stage
        FROM p GROUP BY 1, 2
    """,
    "q_agg_histogram": f"""
        SELECT event_type,
               CAST(least(floor(value / {HIST_WIDTH}), {HIST_TOP}) AS BIGINT)
                 AS bucket,
               CAST(least(floor(value / {HIST_WIDTH}), {HIST_TOP}) AS BIGINT)
                 * {HIST_WIDTH} AS lo,
               count(*) AS n, {R('sum(value)')} AS sum_value
        FROM events GROUP BY 1, 2, 3
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
