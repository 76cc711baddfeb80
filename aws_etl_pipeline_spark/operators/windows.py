"""Window functions (SURVEY §2B): ranking, analytic, framed aggregates.

Determinism discipline for the oracle gate: any function whose result
depends on intra-tie row order (row_number, ntile, lag/lead, framed
sums) runs over a total order (sort key + unique tie-breaker); rank
and dense_rank are exercised over a genuinely coarse key where their
tie semantics differ from row_number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .relational import _dsum  # SQL twin helper


@query(
    "window_ranking",
    oracle="""
SELECT o_orderkey,
       row_number() OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS rn,
       rank()       OVER (PARTITION BY o_orderstatus
                          ORDER BY o_orderpriority)::BIGINT AS rnk,
       dense_rank() OVER (PARTITION BY o_orderstatus
                          ORDER BY o_orderpriority)::BIGINT AS drnk,
       ntile(4)     OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS quartile
FROM orders
""",
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/ntile over a total order; rank/dense_rank over a
    coarse key (priority) where ties make their semantics observable."""
    o = load_table(spark, sf_dir, "orders")
    total = W.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    coarse = W.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    return o.select(
        "o_orderkey",
        F.row_number().over(total).cast("long").alias("rn"),
        F.rank().over(coarse).cast("long").alias("rnk"),
        F.dense_rank().over(coarse).cast("long").alias("drnk"),
        F.ntile(4).over(total).cast("long").alias("quartile"),
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT event_id,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       first_value(value) OVER w AS first_value,
       lag(value, 2, -1.0) OVER w AS prev2_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic functions per user session stream: lag/lead/first and an
    offset lag with default."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
    )


@query(
    "window_running",
    oracle="""
SELECT event_id,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3
FROM events
""",
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed aggregates: running total and 3-row moving average
    (decimal-exact so both engines agree bit-for-bit)."""
    ev = load_table(spark, sf_dir, "events")
    base = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    mov = base.rowsBetween(-2, W.currentRow)
    dec = F.col("value").cast("decimal(18,2)")
    return ev.select(
        "event_id",
        F.sum(dec).over(run).cast("double").alias("running_total"),
        (F.sum(dec).over(mov).cast("double") / F.count("value").over(mov)).alias(
            "moving_avg3"
        ),
    )


@query(
    "window_range_frame",
    oracle="""
SELECT o_orderkey,
       count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)::BIGINT AS n_similar
FROM orders
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric sort key: peers within a 1000-unit
    price band below each row (tie rows share results, so the count is
    order-deterministic by value)."""
    o = load_table(spark, sf_dir, "orders")
    # Python Window.rangeBetween only takes ints; a float range frame is
    # expressed through the SQL window syntax (same Catalyst plan).
    return o.selectExpr(
        "o_orderkey",
        """CAST(count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
           RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_similar""",
    )


@query(
    "topk_per_group",
    oracle=f"""
SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority via row_number filter (the scalable
    grouped-top-k idiom: one shuffle, no per-group sort spill beyond
    the window)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "window_cume_pct",
    oracle="""
SELECT o_orderkey,
       round(percent_rank() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice, o_orderkey), 8) AS pct_rank,
       round(cume_dist() OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice, o_orderkey), 8) AS cume
FROM orders
""",
)
def window_cume_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist distribution functions (rounded: the
    division is float, same formula both engines)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 8).alias("cume"),
    )


@query(
    "window_gaps_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
),
grp AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS island_key
  FROM days
),
islands AS (
  SELECT user_id, island_key,
         count(*)::BIGINT AS streak_len,
         min(day) AS streak_start
  FROM grp GROUP BY user_id, island_key
)
SELECT user_id,
       sum(streak_len)::BIGINT AS n_active_days,
       count(*)::BIGINT AS n_streaks,
       max(streak_len)::BIGINT AS longest_streak,
       min(streak_start) FILTER (
         WHERE streak_len = (SELECT max(i2.streak_len) FROM islands i2
                             WHERE i2.user_id = islands.user_id)
       ) AS longest_streak_start
FROM islands
GROUP BY user_id
""",
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of CONSECUTIVE active days
    (day minus dense row_number is constant within a run — the
    canonical SQL islands trick), rolled up to activity-streak
    statistics: total active days, number of streaks, longest streak
    and its (earliest, for tie determinism) start date.

    Scale shape: dedup to (user, day) pairs first — the window and
    every later aggregate run on the calendar-bounded day relation,
    never raw events; one shuffle on user_id carries the whole
    computation (the dedup, the island window and the rollup all
    share the user_id partitioning)."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    grp = days.withColumn("island_key", F.date_sub(F.col("day"), rn))
    islands = grp.groupBy("user_id", "island_key").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    longest = F.max("streak_len").over(W.partitionBy("user_id"))
    flagged = islands.withColumn("is_longest", F.col("streak_len") == longest)
    return flagged.groupBy("user_id").agg(
        F.sum("streak_len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.min(F.when(F.col("is_longest"), F.col("streak_start"))).alias(
            "longest_streak_start"
        ),
    )


@query(
    "window_rolling_median",
    oracle="""
WITH daily AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, v,
       round(median(v) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS rolling_median_7d,
       round(min(v) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
         AS rolling_min_7d,
       round(max(v) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
         AS rolling_max_7d
FROM daily
""",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day EXACT median (plus min/max) of daily per-type
    totals — the robust-statistics window the mean-based rolling
    aggregates can't replace (one outlier day poisons a mean; the
    median shrugs). Spark runs `percentile()` as a true window
    aggregate over the bounded ROWS frame.

    Scale shape: exact median needs the frame's values, but the frame
    is BOUNDED (7 rows) and the input is the calendar-bounded daily
    relation, so per-row cost is sorting 7 values — at 100 TB the
    event->daily rollup (map-side combined) does the data reduction
    and the window never sees raw events. Unbounded-frame medians at
    scale go to `sketch_histogram_quantiles` instead (mergeable bins);
    this pair documents the boundary."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("v")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, W.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "v",
        F.round(F.expr("percentile(v, 0.5)").over(w), 4).alias(
            "rolling_median_7d"
        ),
        F.round(F.min("v").over(w), 2).alias("rolling_min_7d"),
        F.round(F.max("v").over(w), 2).alias("rolling_max_7d"),
    )


@query(
    "window_skyline_pareto",
    oracle="""
WITH pm AS (
  SELECT p_type, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         max(p_size) AS size
  FROM part GROUP BY 1, 2
),
run AS (
  SELECT p_type, cents, size,
         max(size) OVER (PARTITION BY p_type ORDER BY cents
                         RANGE BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prior
  FROM pm
),
fr AS (
  SELECT p_type, cents, size FROM run
  WHERE prior IS NULL OR prior < size
),
n AS (
  SELECT p_type, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         p_size AS size, count(*)::BIGINT AS n_parts
  FROM part GROUP BY 1, 2, 3
)
SELECT f.p_type, round(f.cents / 100.0, 2) AS price, f.size, n.n_parts
FROM fr f JOIN n USING (p_type, cents, size)
""",
)
def window_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) per part type: the parts where no
    same-type part is both cheaper-or-equal AND larger-or-equal with
    at least one strict — the multi-objective preference query
    (cheapest-for-the-size / largest-for-the-price) behind product
    search and model-checkpoint selection (best loss-vs-cost points).

    The naive spelling is a quadratic NOT EXISTS self-join. The 2-D
    scalable form: (1) collapse to one candidate per (type, price
    cent) — max size wins; this is map-side combinable and bounds the
    relation by the PRICE DOMAIN (the feature_quantile_binning value-
    histogram device), not row count; (2) one per-type window over
    the collapsed relation, RANGE-framed to strictly-cheaper rows —
    a point survives iff its size beats the running max; (3) a keyed
    join back for the carrier count. Prices ride as exact integer
    cents so the RANGE frame's arithmetic bound (1 PRECEDING) is
    exact on both engines. At 100 TB stage (1) does all the heavy
    lifting in one shuffle; the window runs on domain-bounded data
    per type. Dominated-within-equal-price rows fall in stage (1);
    equal (price, size) duplicates are one frontier point with
    n_parts > 1 (neither dominates the other)."""
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long").alias("cents")
    pm = part.groupBy("p_type", cents).agg(F.max("p_size").alias("size"))
    w = (
        W.partitionBy("p_type")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    fr = (
        pm.withColumn("prior", F.max("size").over(w))
        .filter(F.col("prior").isNull() | (F.col("prior") < F.col("size")))
        .select("p_type", "cents", "size")
    )
    n = part.groupBy(
        "p_type", cents, F.col("p_size").alias("size")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    return fr.join(n, ["p_type", "cents", "size"]).select(
        "p_type",
        F.round(F.col("cents") / 100.0, 2).alias("price"),
        "size",
        "n_parts",
    )
