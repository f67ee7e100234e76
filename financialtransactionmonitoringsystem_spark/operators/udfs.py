"""The user-extension surface: an Arrow-vectorized UDAF (grouped-agg
``pandas_udf``), and the UDTF-shaped per-user gap statistics, which
run on built-ins.

The reference has no extension mechanism at all (204 LoC of hard-coded
handlers); SURVEY.md §2.2 commits this engine to the standard PySpark
surface instead.  ``mapInPandas`` (multimodal.py) is attested
elsewhere; ``q_udaf_centsum`` attests the grouped-agg pandas UDF with
a registry key + oracle.  Only the registered ``q_dedup_embed``
(operators/dedup.py) covers the grouped-map surface: its chunked-BLAS
grouped map is a computation a built-in genuinely cannot express.

``q_udaf_centsum`` deliberately computes in EXACT INTEGER units
(micro-cents) inside the Python worker: integer addition is associative,
so the result is bit-identical whatever partitioning or batch order
Arrow delivers -- the same determinism trick as q_text_perplexity's
micro-nat NLLs.  A float UDAF would be partition-order-dependent and
could never hash-match an oracle.

Worker closures import pandas/numpy inside the function and touch no
repo modules (the multimodal round-4 lesson: ship workers by value, so
executors need no repo on sys.path).

Scale notes: grouped-agg pandas UDFs get partial aggregation ONLY if
Spark can plan it (it cannot for arbitrary Python -- the whole group's
column ships to the worker); that is the documented cost of dropping
out of Catalyst, and why ``q_udaf_centsum``'s built-in twin is the
production form.  ``applyInPandas`` shuffles each group to one task --
fine for bounded groups (``q_dedup_embed``'s label blocks), the wrong
tool for corpus-sized groups.
"""

# NO `from __future__ import annotations` here: postponed evaluation
# stringifies the pandas_udf type hints and Spark's eval-type inference
# (pyspark/sql/pandas/typehints.py) rejects string annotations.
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..tables import load_table

def q_udaf_centsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type money totals via a grouped-agg pandas UDF summing
    integer micro-cents (the UDAF surface; built-in ``sum`` is the
    production twin and the oracle)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def cent_sum(cents: pd.Series) -> int:
        return int(cents.sum())

    # A grouped-agg pandas UDF cannot share an agg() with JVM aggregate
    # functions (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a
    # second pandas aggregate rather than F.count.
    @pandas_udf("bigint")
    def n_rows(cents: pd.Series) -> int:
        return len(cents)

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(0.5)).cast("bigint")
    return (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(cent_sum("cents").alias("total_cents"),
             n_rows("cents").alias("n"))
    )


def q_udtf_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-gap statistics: lag window + one-pass
    aggregate, all JVM codegen.

    No Python boundary where a built-in exists: a grouped-map pandas
    form ships the ENTIRE events table through Arrow -- a
    FlatMapGroupsInPandas over corpus-sized input for what is a lag +
    max/percentile.  This form computes the gaps with ``F.lag`` over
    (user_id | ts_us, event_id) and aggregates with built-in ``max`` +
    exact ``percentile(gap, 0.5)``; the window's hash exchange on
    user_id is reused by the groupBy (one Exchange total, the same as
    the grouped map -- the win is removing the Arrow round-trip and
    Python eval, not a shuffle).  A/B at sf0.1 (interleaved min-of-2,
    warm): 0.44 s vs 3.73 s for the pandas form (8.5x).

    Exactness: gaps are integer microseconds; ``percentile`` at 0.5
    interpolates the two middle integers as doubles, which is exact
    for any |gap| < 2^52 (corpus gaps are < 2^40), so the result is
    bit-identical to the DuckDB oracle's ``median`` whatever the op
    order.  Single-event users aggregate
    all-NULL gaps to NULL stats, mirroring the oracle's left join.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select("user_id",
                  (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.max("gap").alias("max_gap_us"),
             F.percentile("gap", F.lit(0.5)).alias("p50_gap_us"))
    )


ORACLES: dict[str, str] = {
    "q_udaf_centsum": """
        SELECT event_type,
               CAST(SUM(CAST(floor(value * 1e2 + 5e-1) AS BIGINT))
                    AS BIGINT) AS total_cents,
               COUNT(*) AS n
        FROM events GROUP BY 1
    """,
    "q_udtf_gaps": """
        WITH g AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ) AS gap
          FROM events
        ), s AS (
          SELECT user_id, MAX(gap) AS max_gap_us,
                 median(gap) AS p50_gap_us
          FROM g WHERE gap IS NOT NULL GROUP BY 1
        ), c AS (
          SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1
        )
        SELECT c.user_id, c.n_events, s.max_gap_us,
               CAST(s.p50_gap_us AS DOUBLE) AS p50_gap_us
        FROM c LEFT JOIN s ON c.user_id = s.user_id
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
