"""Product/warehouse analytics operators (SURVEY §2B depth): funnel
conversion, retention cohorts, one-pass table profiling, and
incremental materialized-view refresh.

These are the standard "analytics engine" workloads a user of the
reference's warehouse tier (Redshift load, `lambda_function.py:176`)
would run downstream — re-expressed as single-scan, partial-agg-
friendly Spark plans so they hold at 100 TB:

* funnel / cohorts: one shuffle on ``user_id`` (hash agg or window),
  then a tiny second agg — no self-joins over the event log;
* profiling: ONE scan of the table with every per-column statistic
  computed in the same Aggregate (the multi-``count(distinct)``
  Expand is the documented cost; at 100 TB swap in
  ``approx_count_distinct`` — same plan, no Expand);
* MV refresh: merges pre-aggregated partials (count/sum are
  mergeable, avg is derived) so a daily delta never rescans the base
  — the point of incremental view maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..cache import track
from ..catalog import load_spread, load_table
from ..registry import query

__all__ = [
    "events_funnel",
    "events_retention_cohort",
    "profile_table",
    "mv_incremental_refresh",
]


@query(
    "events_funnel",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
tot AS (
  SELECT count(*)::BIGINT                                          AS n_users,
         count(t_view)::BIGINT                                     AS n_view,
         count_if(t_click > t_view)::BIGINT                        AS n_click,
         count_if(t_purchase > t_click AND t_click > t_view)::BIGINT
                                                                   AS n_purchase
  FROM per_user
)
SELECT 1::BIGINT AS stage_idx, 'view' AS stage, n_view AS n_users,
       round(n_view::DOUBLE / n_users, 6) AS pct_of_prev FROM tot
UNION ALL
SELECT 2, 'click', n_click, round(n_click::DOUBLE / n_view, 6) FROM tot
UNION ALL
SELECT 3, 'purchase', n_purchase, round(n_purchase::DOUBLE / n_click, 6) FROM tot
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase).

    Loose-funnel semantics: a user converts a stage when their first
    occurrence of the stage's event strictly follows their first
    occurrence of the previous stage. One conditional-min hash agg per
    user (single shuffle on ``user_id``, partial aggs map-side), then
    a scalar agg — the event log is scanned exactly once, no
    per-stage self-joins (the naive funnel query is k-1 joins over the
    full log and falls over at 100 TB).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    tot = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t_view").cast("long").alias("n_view"),
        F.count_if(F.col("t_click") > F.col("t_view")).cast("long").alias("n_click"),
        F.count_if(
            (F.col("t_purchase") > F.col("t_click"))
            & (F.col("t_click") > F.col("t_view"))
        )
        .cast("long")
        .alias("n_purchase"),
    )
    return tot.select(
        F.expr(
            """
            stack(3,
              1L, 'view',     n_view,     round(n_view     / cast(n_users as double), 6),
              2L, 'click',    n_click,    round(n_click    / cast(n_view  as double), 6),
              3L, 'purchase', n_purchase, round(n_purchase / cast(n_click as double), 6)
            ) AS (stage_idx, stage, n_users, pct_of_prev)
            """
        )
    )


@query(
    "events_retention_cohort",
    oracle="""
WITH u AS (
  SELECT user_id, ts,
         min(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
)
SELECT date_trunc('week', first_ts)::DATE AS cohort_week,
       (date_diff('day', date_trunc('week', first_ts),
                  date_trunc('week', ts)) // 7)::BIGINT AS week_offset,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM u
GROUP BY 1, 2
""",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in every subsequent week they return.

    The first-seen timestamp is a ``min`` window over the ``user_id``
    partition — one shuffle, and the same exchange then feeds the
    cohort agg. Week arithmetic stays on day-diffs (``datediff/7``)
    so Spark's Monday-truncated weeks and the oracle agree exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    first_ts = F.min("ts").over(W.partitionBy("user_id"))
    cohort = F.to_date(F.date_trunc("week", first_ts))
    event_week = F.to_date(F.date_trunc("week", F.col("ts")))
    return (
        ev.select(
            "user_id",
            cohort.alias("cohort_week"),
            (F.datediff(event_week, cohort) / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


#: column kinds for the profiler: numeric columns report min/max as
#: DOUBLE, everything else as a canonically-formatted string.
_PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"min({c})::DOUBLE", f"max({c})::DOUBLE"
            mns = mxs = "NULL::VARCHAR"
        elif kind == "ts":
            mn = mx = "NULL::DOUBLE"
            mns = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
            mxs = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = mx = "NULL::DOUBLE"
            mns, mxs = f"min({c})", f"max({c})"
        parts.append(
            f"""
SELECT '{c}' AS col_name,
       count(*)::BIGINT - count({c})::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT           AS n_distinct,
       {mn} AS min_num,
       {mx} AS max_num,
       {mns} AS min_str,
       {mxs} AS max_str
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


@query("profile_table", oracle=_profile_oracle())
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling of ``orders``: per column null count,
    exact distinct count, min/max.

    ALL statistics for ALL columns live in a single Aggregate node —
    one scan of the table, then a ``stack`` pivots the scalar row into
    one row per column. The multi-``count(distinct)`` Expand (one
    duplicated input row per distinct-agg) is the deliberate cost of
    exactness; the 100 TB variant swaps ``approx_count_distinct`` into
    the same plan and the Expand disappears.
    """
    o = load_table(spark, sf_dir, "orders")
    aggs, stack_args = [], []
    for c, kind in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"),
        ]
        if kind == "num":
            aggs += [
                F.min(c).cast("double").alias(f"mn_{c}"),
                F.max(c).cast("double").alias(f"mx_{c}"),
            ]
            lo, hi, los, his = f"mn_{c}", f"mx_{c}", "null", "null"
        elif kind == "ts":
            aggs += [
                F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"mns_{c}"),
                F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"mxs_{c}"),
            ]
            lo, hi, los, his = "cast(null as double)", "cast(null as double)", f"mns_{c}", f"mxs_{c}"
        else:
            aggs += [F.min(c).alias(f"mns_{c}"), F.max(c).alias(f"mxs_{c}")]
            lo, hi, los, his = "cast(null as double)", "cast(null as double)", f"mns_{c}", f"mxs_{c}"
        stack_args.append(f"'{c}', nn_{c}, nd_{c}, {lo}, {hi}, {los}, {his}")
    scalar = o.agg(*aggs)
    return scalar.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {', '.join(stack_args)}) "
            "AS (col_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
        )
    )


#: refresh cutover: rows before this date are the "materialized base",
#: rows on/after are the incoming delta.
_MV_CUTOVER = "1996-07-01"


@query(
    "mv_incremental_refresh",
    oracle="""
SELECT date_trunc('month', o_orderdate)::DATE AS month,
       count(*)::BIGINT                       AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6)                   AS avg_price
FROM orders
GROUP BY 1
""",
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: monthly order
    rollup = merge(base partial aggs, delta partial aggs).

    The base (rows before the cutover) and the delta (rows after) are
    aggregated SEPARATELY to mergeable partials — count and
    DECIMAL-sum combine by addition, avg is derived at the end — then
    merged by key. At 100 TB the base partial is a stored table the
    size of the key space; a daily refresh aggregates only the delta
    and merges, never rescanning the base. The oracle is the full
    recompute the merge must equal.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        F.col("o_orderdate"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cut = F.lit(_MV_CUTOVER).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("price").alias("tot")
        )

    base = partial(o.filter(F.col("o_orderdate") < cut))
    delta = partial(o.filter(F.col("o_orderdate") >= cut))
    merged = base.unionByName(delta).groupBy("month").agg(
        F.sum("cnt").cast("long").alias("n_orders"),
        F.sum("tot").alias("tot"),
    )
    return merged.select(
        "month",
        "n_orders",
        F.col("tot").cast("double").alias("total_price"),
        F.round(F.col("tot").cast("double") / F.col("n_orders"), 6).alias("avg_price"),
    )


#: inactivity gap that closes a session.
_SESSION_GAP_MIN = 30


@query(
    "events_sessionize",
    oracle=f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '{_SESSION_GAP_MIN} minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked
)
SELECT user_id,
       session_idx::BIGINT                       AS session_idx,
       min(ts)                                   AS session_start,
       max(ts)                                   AS session_end,
       count(*)::BIGINT                          AS n_events,
       (date_diff('microsecond', min(ts), max(ts)) // 1000000)::BIGINT
                                                 AS duration_sec,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sess
GROUP BY user_id, session_idx
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after 30 minutes
    of inactivity; events roll up to (user, session) rows.

    The lag-mark and the running-sum session counter share ONE window
    spec (same partition, same order), so Catalyst plans a single
    shuffle+sort on ``user_id`` and both window functions run in the
    same Window node; the rollup agg then reuses the hash partitioning.
    This is the batch twin of `stream_session_window` — same sessions,
    but with explicit per-session IDs a downstream join can use.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # gap in exact microseconds: TIMESTAMP_NTZ has no epoch cast, and
    # second-granularity diffs truncate differently across engines.
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over "
        "(partition by user_id order by ts, event_id), ts)"
    )
    marked = ev.withColumn(
        "new_session",
        F.when(
            gap_us.isNull() | (gap_us > _SESSION_GAP_MIN * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts)) div 1000000")
        .cast("long")
        .alias("duration_sec"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "agg_percentile_exact",
    oracle="""
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 6)  AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 6)  AS p90_price,
       round(quantile_cont(o_totalprice, 0.99), 6) AS p99_price,
       count(*)::BIGINT                            AS n
FROM orders GROUP BY o_orderpriority
""",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) per
    group — Spark's ``percentile`` aggregate, which buffers and sorts
    each group's values exactly.

    Scale note: exact percentiles hold the group's values in memory —
    correct for bounded groups (here: 5 priorities × row share); for
    100 TB-wide groups the engine's `agg_approx_quantile`
    (KLL-sketch-style, mergeable, bounded memory) is the drop-in with
    the same plan shape. Shipping both, oracle-checked, is the point.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 6).alias("p99_price"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


#: minimum co-occurrence count for a pair to surface.
_BASKET_MIN_SUPPORT = 3


@query(
    "basket_copurchase",
    oracle=f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM basket),
part_cnt AS (
  SELECT l_partkey, count(*)::BIGINT AS n_part FROM basket GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS n_co
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p1, p2, n_co,
       round(n_co * (SELECT n_orders FROM n)
             / (CAST(ca.n_part AS DOUBLE) * cb.n_part), 6) AS lift
FROM pairs
JOIN part_cnt ca ON ca.l_partkey = p1
JOIN part_cnt cb ON cb.l_partkey = p2
WHERE n_co >= {_BASKET_MIN_SUPPORT}
""",
)
def basket_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase mining: part pairs appearing in the
    same order at least {min_support} times, with lift.

    The pair join is an EQUI-join on the basket key (order), so the
    quadratic blowup is bounded by basket size (~7 lines/order),
    never corpus size — per-key quadratic with small keys is the one
    shape where pair enumeration survives 100 TB. Part-frequency
    tables join back for lift; at scale those are broadcast-sized
    relative to the pair relation.
    """
    # persist: the distinct basket relation feeds FOUR consumers (order
    # count, part frequencies, both self-join sides); without it Spark
    # recomputes the 2-column distinct shuffle per consumer — invisible
    # at sf0.1, the dominant cost at the 100x replica (SCALING.md).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(track)
    )
    n = li.agg(F.count_distinct("l_orderkey").cast("long").alias("n_orders"))
    part_cnt = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= _BASKET_MIN_SUPPORT)
    )
    ca = part_cnt.select(F.col("l_partkey").alias("p1"), F.col("n_part").alias("na"))
    cb = part_cnt.select(F.col("l_partkey").alias("p2"), F.col("n_part").alias("nb"))
    return (
        pairs.join(ca, "p1")
        .join(cb, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "n_co",
            F.round(
                F.col("n_co") * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "events_anomaly_days",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         count(*)::BIGINT  AS n_days,
         sum(n)::BIGINT    AS sum_n,
         sum(n * n)::BIGINT AS sum_n2
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.n,
       round((d.n - CAST(s.sum_n AS DOUBLE) / s.n_days)
             / nullif(sqrt((CAST(s.sum_n2 AS DOUBLE)
                     - CAST(s.sum_n AS DOUBLE) * s.sum_n / s.n_days)
                    / nullif(s.n_days - 1, 0)), 0), 6) AS zscore,
       abs(round((d.n - CAST(s.sum_n AS DOUBLE) / s.n_days)
             / nullif(sqrt((CAST(s.sum_n2 AS DOUBLE)
                     - CAST(s.sum_n AS DOUBLE) * s.sum_n / s.n_days)
                    / nullif(s.n_days - 1, 0)), 0), 6)) > 2.0 AS is_anomaly
FROM daily d JOIN stats s USING (event_type)
""",
)
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume anomaly detection per event type: z-score of each
    day's count against the type's mean/std, |z| > 2 flagged.

    Variance is derived from INTEGER sums (count, sum, sum-of-squares
    are exact BIGINTs), so mean/std/z are identical doubles on every
    engine and partition order — no stddev_samp whose merge order
    could wiggle the last bits. One shuffle to daily counts; the
    5-row stats table broadcasts back. The flag compares the ROUNDED
    z-score so the boolean can never disagree with the reported value.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n").cast("long").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_n2"),
    )
    mean = F.col("sum_n").cast("double") / F.col("n_days")
    # nullif guards: a type seen on one day (n_days-1 == 0) or with
    # zero variance must yield NULL z on BOTH engines — unguarded,
    # Spark's double division and DuckDB's IEEE ops disagree here.
    var = (
        F.col("sum_n2").cast("double")
        - F.col("sum_n").cast("double") * F.col("sum_n") / F.col("n_days")
    ) / F.nullif((F.col("n_days") - 1).cast("double"), F.lit(0.0))
    z = F.round((F.col("n") - mean) / F.nullif(F.sqrt(var), F.lit(0.0)), 6)
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n",
        z.alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


@query(
    "join_asof_tolerance",
    oracle="""
WITH m AS (
  SELECT *, CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events
),
matched AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(click_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
  FROM m
)
SELECT event_id, user_id, ts,
       CASE WHEN ts - prev_click_ts <= INTERVAL '30 minutes'
            THEN prev_click_ts END AS prev_click_ts,
       (prev_click_ts IS NOT NULL
        AND ts - prev_click_ts <= INTERVAL '30 minutes') AS attributed
FROM matched
WHERE event_type = 'purchase'
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound (pandas ``merge_asof``
    ``tolerance=`` semantics): each purchase matches the latest
    strictly-earlier click by the same user ONLY if it happened within
    30 minutes — stale matches null out, and `attributed` carries the
    attribution verdict.

    Same single-pass conditional last_value window as `join_asof`
    (one shuffle on user_id, no build side); the tolerance is a
    post-window expression, so the plan cost is identical to the
    unbounded variant. Gap compared in exact microseconds.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    asof = marked.withColumn(
        "prev_raw", F.last("click_ts", ignorenulls=True).over(w)
    ).filter(F.col("event_type") == "purchase")
    within = F.expr(
        "timestampdiff(MICROSECOND, prev_raw, ts) <= 30 * 60 * 1000000"
    )
    return asof.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("prev_raw")).alias("prev_click_ts"),
        (F.col("prev_raw").isNotNull() & within).alias("attributed"),
    )


@query(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
cnt AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
         AS p_transition
FROM cnt
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: counts and row-normalized transition probabilities.

    One lead window per user (single shuffle), a 25-key count agg,
    and a per-from normalization window over the TINY transition
    relation (k² rows) — sequence mining whose heavy pass touches the
    log exactly once.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    norm = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm).cast("double"), 6).alias(
            "p_transition"
        ),
    )


@query(
    "events_rolling_active_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM du),
contrib AS (
  SELECT user_id, day + g.i::INTEGER AS rday
  FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) g
),
wau AS (
  SELECT c.rday AS day, count(DISTINCT c.user_id)::BIGINT AS wau7
  FROM contrib c JOIN days d ON c.rday = d.day GROUP BY 1
),
dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau FROM du GROUP BY 1)
SELECT d.day, dau.dau, wau.wau7
FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
""",
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per calendar day, distinct users active that
    day (DAU) and in the trailing 7 days (WAU) — the dashboard metric
    every event pipeline serves.

    A RANGE-interval window cannot do COUNT(DISTINCT), so the scalable
    spelling dedups to (user, day) pairs FIRST (one shuffle on pairs —
    at 100 TB this collapses billions of raw events to |users| x
    |days| rows), then each pair contributes to the <= 7 report days it
    covers via a bounded sequence-explode, and the per-day distinct
    count reuses the pair relation. Expansion is x7 of the DEDUPED
    pairs, never of raw events; report days are restricted to days
    that actually occur."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct().transform(track)
    days = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("rday"),
    )
    wau = (
        contrib.join(days, contrib.rday == days.day)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau7"))
    )
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return days.join(dau, "day").join(wau, "day").select("day", "dau", "wau7")


K_ANON = 5  # minimum group size for a quasi-identifier combination


@query(
    "privacy_k_anonymity",
    oracle=f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         (floor(c_acctbal / 1000) * 1000)::BIGINT AS bal_band,
         count(*)::BIGINT AS n
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_nationkey,
       count(*)::BIGINT AS groups_total,
       (count(*) FILTER (WHERE n < {K_ANON}))::BIGINT AS groups_suppressed,
       coalesce(sum(n) FILTER (WHERE n < {K_ANON}), 0)::BIGINT AS rows_suppressed,
       coalesce(sum(n) FILTER (WHERE n >= {K_ANON}), 0)::BIGINT AS rows_kept
FROM qi GROUP BY 1
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit + suppression accounting over a
    quasi-identifier tuple — the privacy gate a training-data release
    runs before shipping user-adjacent records: any (nationkey,
    market segment, $1000 balance band) combination identifying fewer
    than {K_ANON} customers is suppressed, and the per-nation summary
    reports how much data that policy costs (groups/rows suppressed
    vs kept). Generalization (the coarse balance band) happens BEFORE
    counting, as the standard Samarati/Sweeney workflow prescribes.

    Plan: one QI-keyed count (map-side combined — QI cardinality is
    bounded by the generalization lattice, not row count) and one
    nation-keyed rollup of the group table. At 100 TB the shuffle
    carries one row per occupied QI cell."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    small = F.col("n") < K_ANON
    return qi.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("groups_total"),
        F.count_if(small).alias("groups_suppressed"),
        F.coalesce(F.sum(F.when(small, F.col("n"))), F.lit(0)).alias("rows_suppressed"),
        F.coalesce(F.sum(F.when(~small, F.col("n"))), F.lit(0)).alias("rows_kept"),
    )


EWMA_TERMS = 7  # truncation horizon (alpha = 0.5 -> residual weight < 0.8%)


def _ewma_sql(col: str = "v", a: float = 0.5) -> str:
    """Truncated EWMA convolution of ``col`` over window ``w``: weight
    a(1-a)^k on lag k, EWMA_TERMS terms. For a = 0.5 every weight is
    0.5**(k+1) exactly, so the literals match `_ewma`'s doubles."""
    terms = [f"{a!r} * {col}"] + [
        f"{a * (1 - a) ** k!r} * coalesce(lag({col}, {k}) OVER w, 0)"
        for k in range(1, EWMA_TERMS)
    ]
    return " + ".join(terms)


def _ewma(col: F.Column, w, a: float = 0.5) -> F.Column:
    """`_ewma_sql` as a Column over window spec ``w``."""
    terms = F.lit(a) * col
    for k in range(1, EWMA_TERMS):
        terms = terms + F.lit(a * (1 - a) ** k) * F.coalesce(
            F.lag(col, k).over(w), F.lit(0.0)
        )
    return terms


@query(
    "events_ewma",
    oracle=f"""
WITH daily AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, round(v, 2) AS daily_value,
       round({_ewma_sql()}, 6) AS ewma
FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
""",
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume per
    type (alpha = 0.5), spelled as the TRUNCATED convolution sum
    {EWMA_TERMS} lags deep — the distributable form: the textbook
    recursive EWMA is inherently sequential, but with alpha = 0.5 the
    weight of everything beyond {EWMA_TERMS} observed days is under
    0.8%, so the convolution over a bounded window is both
    deterministic and within rounding of the recursion, and it runs
    as ONE per-type window pass (state = {EWMA_TERMS} lag slots). The
    smoothing is over OBSERVED days (compose with ts_resample_gapfill
    first for calendar-exact decay across gaps). Daily totals are
    DECIMAL-summed so both engines convolve identical inputs."""
    from .relational import dsum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(dsum("value").alias("v"))
    w = W.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        F.round("v", 2).alias("daily_value"),
        F.round(_ewma(F.col("v"), w), 6).alias("ewma"),
    )


# ---------------------------------------------------------------- quality
#: declarative expectation list evaluated in ONE pass (deequ-style).
QE_PRICE_MAX = 1_000_000.0


@query(
    "quality_expectations",
    oracle=f"""
WITH m AS (
  SELECT
    count(*)::DOUBLE AS n_rows,
    count(o_custkey)::DOUBLE AS n_custkey,
    count(DISTINCT o_orderkey)::DOUBLE AS n_distinct_key,
    min(o_totalprice) AS min_price,
    max(o_totalprice) AS max_price,
    count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))::DOUBLE
      AS n_bad_status,
    count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-'))::DOUBLE
      AS n_bad_priority,
    count(*) FILTER (WHERE o_totalprice <= 0)::DOUBLE AS n_nonpositive_price
  FROM orders
)
SELECT * FROM (
  SELECT 'completeness_o_custkey' AS constraint, round(n_custkey / n_rows, 6) AS metric,
         (n_custkey = n_rows) AS passed FROM m
  UNION ALL
  SELECT 'uniqueness_o_orderkey', round(n_distinct_key / n_rows, 6),
         (n_distinct_key = n_rows) FROM m
  UNION ALL
  SELECT 'min_o_totalprice_positive', round(min_price, 6), (min_price > 0) FROM m
  UNION ALL
  SELECT 'max_o_totalprice_bounded', round(max_price, 6),
         (max_price <= {QE_PRICE_MAX}) FROM m
  UNION ALL
  SELECT 'status_in_domain', round(n_bad_status / n_rows, 6),
         (n_bad_status = 0) FROM m
  UNION ALL
  SELECT 'priority_matches_pattern', round(n_bad_priority / n_rows, 6),
         (n_bad_priority = 0) FROM m
  UNION ALL
  SELECT 'price_nonpositive_fraction', round(n_nonpositive_price / n_rows, 6),
         (n_nonpositive_price = 0) FROM m
)
""",
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the deequ/Great-
    Expectations pattern) over `orders`: completeness, key uniqueness,
    bounds, domain membership and pattern conformance — ALL metrics
    computed in ONE Aggregate over ONE scan, then unpivoted into
    (constraint, metric, passed) verdict rows.

    100 TB shape: a constraint suite must never cost one scan per
    constraint; everything here folds into a single pass with map-side
    partials (the count-distinct Expand is the one documented extra,
    same trade as `profile_table`). The verdict relation is
    constant-size (one row per declared expectation), so downstream
    gating (fail the pipeline when any `passed` is false) is a
    driver-free broadcast join."""
    o = load_table(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        F.count("o_custkey").cast("double").alias("n_custkey"),
        F.countDistinct("o_orderkey").cast("double").alias("n_distinct_key"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1))
        .cast("double")
        .alias("n_bad_status"),
        F.count(F.when(~F.col("o_orderpriority").rlike("^[1-5]-"), 1))
        .cast("double")
        .alias("n_bad_priority"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1))
        .cast("double")
        .alias("n_nonpositive_price"),
    )
    rows = [
        ("completeness_o_custkey", F.round(F.col("n_custkey") / F.col("n_rows"), 6),
         F.col("n_custkey") == F.col("n_rows")),
        ("uniqueness_o_orderkey",
         F.round(F.col("n_distinct_key") / F.col("n_rows"), 6),
         F.col("n_distinct_key") == F.col("n_rows")),
        ("min_o_totalprice_positive", F.round(F.col("min_price"), 6),
         F.col("min_price") > 0),
        ("max_o_totalprice_bounded", F.round(F.col("max_price"), 6),
         F.col("max_price") <= QE_PRICE_MAX),
        ("status_in_domain", F.round(F.col("n_bad_status") / F.col("n_rows"), 6),
         F.col("n_bad_status") == 0),
        ("priority_matches_pattern",
         F.round(F.col("n_bad_priority") / F.col("n_rows"), 6),
         F.col("n_bad_priority") == 0),
        ("price_nonpositive_fraction",
         F.round(F.col("n_nonpositive_price") / F.col("n_rows"), 6),
         F.col("n_nonpositive_price") == 0),
    ]
    verdicts = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                metric.cast("double").alias("metric"),
                passed.alias("passed"),
            )
            for name, metric, passed in rows
        ]
    )
    return (
        m.select(F.explode(verdicts).alias("v"))
        .select("v.constraint", "v.metric", "v.passed")
    )


L_DIV = 3  # minimum distinct sensitive values per quasi-identifier group


@query(
    "privacy_l_diversity",
    oracle=f"""
WITH qi AS (
  SELECT c_nationkey,
         (floor(c_acctbal / 1000) * 1000)::BIGINT AS bal_band,
         count(DISTINCT c_mktsegment)::BIGINT AS l,
         count(*)::BIGINT AS n
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey,
       count(*)::BIGINT AS groups_total,
       (count(*) FILTER (WHERE l < {L_DIV}))::BIGINT AS groups_not_diverse,
       min(l)::BIGINT AS min_l,
       coalesce(sum(n) FILTER (WHERE l < {L_DIV}), 0)::BIGINT AS rows_at_risk
FROM qi GROUP BY 1
""",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.) — the stronger
    privacy gate layered on `privacy_k_anonymity`: a quasi-identifier
    group is safe only if the SENSITIVE attribute (market segment)
    takes at least l={L_DIV} distinct values inside it, so group
    membership alone cannot disclose the sensitive value. Per nation:
    group counts, the minimum observed l, and how many rows sit in
    non-diverse groups.

    Plan: one QI-keyed distinct-count aggregation (shuffle bounded by
    the generalization lattice, not row count) and a per-nation
    rollup — identical scale shape to the k-anonymity audit."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("long").alias("bal_band"),
    ).agg(
        F.countDistinct("c_mktsegment").cast("long").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    weak = F.col("l") < L_DIV
    return qi.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("groups_total"),
        F.count_if(weak).cast("long").alias("groups_not_diverse"),
        F.min("l").cast("long").alias("min_l"),
        F.coalesce(F.sum(F.when(weak, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


#: t-closeness: ordered sensitive bins (account-balance bands over the
#: TPC-H [-999.99, 9999.99] range) and the max allowed EMD.
T_CLOSE_EDGES = (1750, 4500, 7250)  # 4 ordered bins
T_CLOSE = 0.25

_TC_BIN_SQL = (
    "CASE WHEN c_acctbal < 1750 THEN 0 WHEN c_acctbal < 4500 THEN 1 "
    "WHEN c_acctbal < 7250 THEN 2 ELSE 3 END"
)


@query(
    "privacy_t_closeness",
    oracle=f"""
WITH binned AS (
  SELECT c_nationkey, c_mktsegment, {_TC_BIN_SQL} AS b FROM customer
),
g AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n,
         count(*) FILTER (b = 0)::BIGINT AS c0,
         count(*) FILTER (b = 1)::BIGINT AS c1,
         count(*) FILTER (b = 2)::BIGINT AS c2,
         count(*) FILTER (b = 3)::BIGINT AS c3
  FROM binned GROUP BY 1, 2
),
tot AS (
  SELECT count(*)::BIGINT AS nn,
         count(*) FILTER (b = 0)::BIGINT AS t0,
         count(*) FILTER (b = 1)::BIGINT AS t1,
         count(*) FILTER (b = 2)::BIGINT AS t2,
         count(*) FILTER (b = 3)::BIGINT AS t3
  FROM binned
),
emd AS (
  SELECT c_nationkey, c_mktsegment, n,
         round((abs(c0::DOUBLE / n - t0::DOUBLE / nn)
                + abs((c0::DOUBLE / n - t0::DOUBLE / nn)
                      + (c1::DOUBLE / n - t1::DOUBLE / nn))
                + abs((c0::DOUBLE / n - t0::DOUBLE / nn)
                      + (c1::DOUBLE / n - t1::DOUBLE / nn)
                      + (c2::DOUBLE / n - t2::DOUBLE / nn))) / 3, 6) AS emd
  FROM g, tot
)
SELECT c_nationkey, c_mktsegment, n, emd, emd <= {T_CLOSE} AS t_close
FROM emd
""",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian) — the third rung
    of the privacy ladder after `privacy_k_anonymity` and
    `privacy_l_diversity`: a quasi-identifier group leaks through
    DISTRIBUTION SKEW even when it is diverse, so the group's
    sensitive-attribute distribution must stay within t of the global
    one. The sensitive attribute (account-balance band) is ORDERED, so
    the distance is the 1-D earth-mover's distance: mean absolute
    cumulative difference over the {len(T_CLOSE_EDGES)} bin boundaries.

    Plan: ONE scan feeding two aggregates — the QI-keyed conditional
    bin counts (one shuffle, map-side combined) and a global 1-row bin
    total broadcast back via the tiny-relation cross join (the verdict-
    scalar pattern). Per-group EMD is then pure projection arithmetic:
    no per-bin explode, no second pass over the data, holds at 100 TB.
    The flag compares the ROUNDED emd so flag and statistic never
    disagree across engines."""
    c = load_table(spark, sf_dir, "customer")
    e0, e1, e2 = T_CLOSE_EDGES
    bal = F.col("c_acctbal")
    binned = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(bal < e0, 0)
        .when(bal < e1, 1)
        .when(bal < e2, 2)
        .otherwise(3)
        .alias("b"),
    )

    def bin_counts(prefix: str) -> list:
        return [
            F.count_if(F.col("b") == i).cast("long").alias(f"{prefix}{i}")
            for i in range(4)
        ]

    g = binned.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"), *bin_counts("c")
    )
    tot = binned.agg(F.count(F.lit(1)).cast("long").alias("nn"), *bin_counts("t"))
    d0 = F.col("c0").cast("double") / F.col("n") - F.col("t0").cast("double") / F.col("nn")
    d1 = F.col("c1").cast("double") / F.col("n") - F.col("t1").cast("double") / F.col("nn")
    d2 = F.col("c2").cast("double") / F.col("n") - F.col("t2").cast("double") / F.col("nn")
    emd = F.round((F.abs(d0) + F.abs(d0 + d1) + F.abs(d0 + d1 + d2)) / 3, 6)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            emd.alias("emd"),
            (emd <= T_CLOSE).alias("t_close"),
        )
    )


#: Chi-square independence: deterministic user cohorts (hash-split
#: arms) tested against event type.
CHISQ_COHORTS = 4


@query(
    "events_chisq_independence",
    oracle=f"""
WITH cells AS (
  SELECT event_type, (user_id % {CHISQ_COHORTS})::BIGINT AS cohort,
         count(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, sum(o)::BIGINT AS rtot FROM cells GROUP BY 1),
ct AS (SELECT cohort, sum(o)::BIGINT AS ctot FROM cells GROUP BY 1),
nn AS (SELECT sum(o)::BIGINT AS n FROM cells)
SELECT n, count(*)::BIGINT AS n_cells,
       (count(DISTINCT c.event_type) - 1) * (count(DISTINCT c.cohort) - 1)
         AS dof,
       round(CAST(sum(CAST(
           (c.o - rt.rtot * ct.ctot / CAST(nn.n AS DOUBLE))
           * (c.o - rt.rtot * ct.ctot / CAST(nn.n AS DOUBLE))
           / (rt.rtot * ct.ctot / CAST(nn.n AS DOUBLE))
         AS DECIMAL(30,12))) AS DOUBLE), 6) AS chi2
FROM cells c
JOIN rt USING (event_type) JOIN ct USING (cohort), nn
GROUP BY n
""",
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and a
    deterministic {CHISQ_COHORTS}-way user cohort (the hash-split arms
    an experimentation platform assigns): observed cell counts vs the
    independence expectation rowTotal*colTotal/N, the classic guardrail
    that a traffic split is not correlated with behavior.

    Plan: the event log collapses in ONE map-side-combined aggregation
    to the contingency cells (types x cohorts — a few dozen rows no
    matter the corpus size); margins, expectations, and the statistic
    are arithmetic on that tiny relation. Per-cell contributions are
    double-computed identically on both engines from exact BIGINT
    margins, then DECIMAL(30,12)-cast before the final sum so the
    reduction is order-independent; a 1-ulp cast wobble cannot reach
    the 1e-6 rounding of the emitted statistic."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % CHISQ_COHORTS).cast("long").alias("cohort")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    cells = track(cells)
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("rtot"))
    ct = cells.groupBy("cohort").agg(F.sum("o").cast("long").alias("ctot"))
    nn = cells.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("rtot") * F.col("ctot") / F.col("n").cast("double")
    contrib = (F.col("o") - e) * (F.col("o") - e) / e
    return (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "cohort")
        .crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("cohort") - 1)
            ).cast("long").alias("dof"),
            F.round(
                F.sum(contrib.cast("decimal(30,12)")).cast("double"), 6
            ).alias("chi2"),
        )
        .select("n", "n_cells", "dof", "chi2")
    )


@query(
    "events_anova_f",
    oracle="""
WITH g AS (
  SELECT event_type,
         count(*)::BIGINT AS ng,
         sum(CAST(value AS DECIMAL(18,2))) AS sg,
         sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS ssg
  FROM events GROUP BY 1
),
terms AS (
  SELECT ng, sg, ssg,
         CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
              AS DECIMAL(30,10)) AS t_between,
         CAST(CAST(ssg AS DOUBLE)
              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
              AS DECIMAL(30,10)) AS t_within
  FROM g
),
tot AS (
  SELECT count(*)::BIGINT AS k,
         sum(ng)::BIGINT AS n,
         CAST(sum(CAST(sg AS DECIMAL(30,2))) AS DOUBLE) AS s,
         CAST(sum(t_between) AS DOUBLE) AS sum_between,
         CAST(sum(t_within) AS DOUBLE) AS ssw
  FROM terms
)
SELECT k, n,
       round(sum_between - s * s / n, 6) AS ssb,
       round(ssw, 6) AS ssw,
       round(((sum_between - s * s / n) / (k - 1)) / (ssw / (n - k)), 6)
         AS f_stat
FROM tot
""",
)
def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of `value` across event types — the
    k>2 sibling of `events_abtest_welch`: does ANY arm differ before
    pairwise drill-down. Decomposes total variance into between-group
    (SSB = sum sg^2/ng - S^2/N) and within-group (SSW = sum(ssg -
    sg^2/ng)); F = (SSB/(k-1)) / (SSW/(N-k)).

    Plan: ONE map-side-combined pass reduces the log to k rows of
    exact sufficient statistics (BIGINT count, DECIMAL sum and sum of
    squares); the decomposition is arithmetic on that k-row relation.
    Per-group double terms are computed with identical operation order
    on both engines from the exact decimal sums, then DECIMAL(30,10)-
    cast before the cross-group sum so the k-way reduction is
    order-independent — the same exactness discipline as
    `events_chisq_independence`. Linear scan, no second pass, holds at
    any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(v).alias("sg"),
        F.sum(v * v).alias("ssg"),
    )
    sgd = F.col("sg").cast("double")
    terms = g.select(
        "ng",
        "sg",
        "ssg",
        (sgd * sgd / F.col("ng")).cast("decimal(30,10)").alias("t_between"),
        (F.col("ssg").cast("double") - sgd * sgd / F.col("ng"))
        .cast("decimal(30,10)")
        .alias("t_within"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum(F.col("sg").cast("decimal(30,2)")).cast("double").alias("s"),
        F.sum("t_between").cast("double").alias("sum_between"),
        F.sum("t_within").cast("double").alias("ssw"),
    )
    ssb = F.col("sum_between") - F.col("s") * F.col("s") / F.col("n")
    return tot.select(
        "k",
        "n",
        F.round(ssb, 6).alias("ssb"),
        F.round(F.col("ssw"), 6).alias("ssw"),
        F.round(
            (ssb / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ------------------------------------------------------------- time series
TS_PERIOD = 7  # weekly seasonality over daily buckets


@query(
    "ts_seasonal_decompose",
    oracle=f"""
WITH daily AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS v
  FROM events GROUP BY 1, 2
),
tr AS (
  SELECT event_type, day, v,
         CASE WHEN count(*) OVER w = {TS_PERIOD}
              THEN round(CAST(sum(CAST(v AS DECIMAL(18,2))) OVER w AS DOUBLE)
                         / {TS_PERIOD}, 6)
         END AS trend
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
season AS (
  SELECT event_type, (day::DATE - DATE '1970-01-01') % {TS_PERIOD} AS dow,
         round(CAST(sum(CAST(round(v - trend, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS seasonal
  FROM tr WHERE trend IS NOT NULL
  GROUP BY 1, 2
)
SELECT t.event_type, t.day, t.v, t.trend, s.seasonal,
       round(t.v - t.trend - s.seasonal, 6) AS residual
FROM tr t
LEFT JOIN season s
  ON s.event_type = t.event_type
 AND s.dow = (t.day::DATE - DATE '1970-01-01') % {TS_PERIOD}
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily
    per-event-type value series: trend = centered {TS_PERIOD}-day
    moving average (null at the edges where the window is partial),
    seasonal = day-of-week mean of the detrended series, residual =
    value - trend - seasonal.

    Every stage is distributable: the daily rollup is one hash agg
    (exact DECIMAL sums), the moving average one bounded-frame window
    per event_type, the seasonal profile a {TS_PERIOD}-row-per-series
    broadcastable aggregate joined back by weekday index. Weekday is
    epoch-day mod {TS_PERIOD} — engine-neutral, no locale-dependent
    dayofweek(). Sums route through DECIMAL before rounding so both
    engines see order-insensitive exact values."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("v")
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(TS_PERIOD // 2), TS_PERIOD // 2)
    )
    tr = daily.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(w) == TS_PERIOD,
            F.round(
                F.sum(F.col("v").cast("decimal(18,2)")).over(w).cast("double")
                / TS_PERIOD,
                6,
            ),
        ),
    ).transform(track)  # feeds the seasonal profile AND the final join
    dow = (F.datediff(F.col("day").cast("date"), F.lit("1970-01-01")) % TS_PERIOD)
    season = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("event_type", dow.alias("dow"))
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("v") - F.col("trend"), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("seasonal")
        )
    )
    return (
        tr.withColumn("dow", dow)
        .join(F.broadcast(season), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "day",
            "v",
            "trend",
            "seasonal",
            F.round(
                F.col("v") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )


# ------------------------------------------------------------ RFM scoring
RFM_TILES = 5


def _global_rank(df: DataFrame, order_cols, out: str) -> DataFrame:
    """Exact global row_number over an arbitrary order WITHOUT a
    single-partition window: range-repartition by the order key (the
    scalable distributed sort Spark already has), then stitch per-range
    local row_numbers together with a broadcast prefix-sum over the
    tiny per-range count relation. Rank values are partition-layout
    independent (rank = position in the total order), so the sampled
    range boundaries affect balance only, never the result. The ranked
    input is persisted so both branches (counts, local ranks) see one
    spark_partition_id assignment."""
    s = track(
        df.repartitionByRange(*order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = s.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = counts.select(
        "_pid",
        F.coalesce(
            F.sum("_cnt").over(
                # global-ok: per-range-partition counts (~shuffle
                # partition count rows)
                W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    local = F.row_number().over(W.partitionBy("_pid").orderBy(*order_cols))
    return (
        s.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_off") + local).cast("long"))
        .drop("_pid", "_off")
    )


def _ntile_from_rank(rank: F.Column, n: F.Column, k: int) -> F.Column:
    """ntile(k) reconstructed from a global rank and the row count —
    the first (n % k) tiles hold ceil(n/k) rows, the rest floor(n/k),
    exactly Spark's and DuckDB's NTILE contract."""
    q = F.floor(n / k)
    rem = n % k
    cut = (q + 1) * rem
    return F.when(
        rank <= cut, F.floor((rank - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((rank - cut - 1) / q) + 1)


@query(
    "events_rfm_segmentation",
    oracle=f"""
WITH maxd AS (SELECT max(ts) AS corpus_max FROM events),
base AS (
  SELECT user_id,
         date_diff('day', max(ts), (SELECT corpus_max FROM maxd))::BIGINT
           AS recency_days,
         count(*)::BIGINT AS frequency,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
scored AS (
  SELECT user_id, recency_days, frequency, round(monetary, 2) AS monetary,
         ntile({RFM_TILES}) OVER (ORDER BY recency_days ASC, user_id)
           AS r_score,
         ntile({RFM_TILES}) OVER (ORDER BY frequency DESC, user_id)
           AS f_score,
         ntile({RFM_TILES}) OVER (ORDER BY monetary DESC, user_id)
           AS m_score
  FROM base
)
SELECT user_id, recency_days, frequency, monetary,
       r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
       m_score::BIGINT AS m_score,
       (r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR) AS segment
FROM scored
""",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring
    workload: per purchasing user, Recency (days since last purchase,
    vs the corpus max date so the query is reproducible), Frequency
    and Monetary totals, each quintile-scored with ntile({RFM_TILES})
    and concatenated into the familiar '543'-style segment label.
    Ties inside every ntile ordering are broken by user_id so both
    engines tile identically.

    Scale shape: one user-keyed aggregation reduces the event log to
    the user relation; each quintile is then ntile ARITHMETIC over an
    exact global rank from `_global_rank` — a range-partitioned sort
    stitched by a broadcast prefix-sum, never a single-partition ORDER
    BY window (the r10 sweep retired those for data-sized relations).
    The corpus max date and row count are broadcast 1-row aggregates,
    not driver round-trips."""
    e = load_table(spark, sf_dir, "events")
    maxd = e.agg(F.max("ts").alias("corpus_max"))
    base = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "user_id",
            F.datediff(
                F.col("corpus_max").cast("date"),
                F.col("last_purchase").cast("date"),
            )
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    n1 = base.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    ranked = _global_rank(
        base, [F.asc("recency_days"), F.asc("user_id")], "r_rk"
    )
    ranked = _global_rank(
        ranked, [F.desc("frequency"), F.asc("user_id")], "f_rk"
    )
    ranked = _global_rank(
        ranked, [F.desc("monetary"), F.asc("user_id")], "m_rk"
    )
    n = F.col("n_users")
    scored = ranked.crossJoin(F.broadcast(n1)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        _ntile_from_rank(F.col("r_rk"), n, RFM_TILES).cast("long").alias("r_score"),
        _ntile_from_rank(F.col("f_rk"), n, RFM_TILES).cast("long").alias("f_score"),
        _ntile_from_rank(F.col("m_rk"), n, RFM_TILES).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# --------------------------------------------------- Markov attribution
MK_CHANNELS = ("view", "click", "signup", "error")
MK_ITERS = 8
_MKDEC = "DECIMAL(30,18)"


def _mk_trans_sql() -> str:
    """Journey transitions (src, dst) with removal labels, DuckDB."""
    chans = ", ".join(f"'{c}'" for c in MK_CHANNELS)
    return f"""
seq AS (
  SELECT user_id, ts, event_id, event_type,
         count(*) FILTER (WHERE event_type = 'purchase')
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS journey
  FROM events
),
hops AS (
  SELECT user_id, journey, event_type,
         lag(event_type) OVER w AS prev_type,
         lead(event_type) OVER w AS next_type
  FROM seq
  WINDOW w AS (PARTITION BY user_id, journey ORDER BY ts, event_id)
),
raw_edges AS (
  SELECT 'START' AS src,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS dst
  FROM hops WHERE prev_type IS NULL
  UNION ALL
  SELECT event_type,
         CASE WHEN next_type = 'purchase' THEN 'CONV'
              WHEN next_type IS NULL THEN 'NULL'
              ELSE next_type END
  FROM hops WHERE event_type <> 'purchase'
),
labels AS (SELECT unnest(['none', {chans}]) AS removed),
edges AS (
  SELECT l.removed, e.src,
         CASE WHEN e.dst = l.removed THEN 'NULL' ELSE e.dst END AS dst,
         count(*)::DOUBLE AS n
  FROM raw_edges e CROSS JOIN labels l
  WHERE e.src <> l.removed
  GROUP BY 1, 2, 3
),
trans AS (
  SELECT removed, src, dst,
         n / sum(n) OVER (PARTITION BY removed, src) AS p
  FROM edges
)"""


def _mk_oracle() -> str:
    head = "WITH " + _mk_trans_sql().lstrip() + f""",
v0 AS (
  SELECT removed, s, val FROM (
    SELECT DISTINCT removed, src AS s, 0.0 AS val FROM trans
    UNION ALL SELECT DISTINCT removed, 'CONV', 1.0 FROM trans
    UNION ALL SELECT DISTINCT removed, 'NULL', 0.0 FROM trans
  )
)"""
    steps = []
    for k in range(1, MK_ITERS + 1):
        steps.append(f"""
v{k} AS (
  SELECT removed, s, val FROM (
    SELECT t.removed, t.src AS s,
           round(CAST(sum(CAST(t.p * v.val AS {_MKDEC})) AS DOUBLE), 12) AS val
    FROM trans t JOIN v{k - 1} v ON v.removed = t.removed AND v.s = t.dst
    GROUP BY t.removed, t.src
    UNION ALL SELECT DISTINCT removed, 'CONV', 1.0 FROM trans
    UNION ALL SELECT DISTINCT removed, 'NULL', 0.0 FROM trans
  )
)""")
    chans = ", ".join(f"'{c}'" for c in MK_CHANNELS)
    return (
        head
        + ","
        + ",".join(steps)
        + f""",
conv AS (
  SELECT removed, val AS conv_prob FROM v{MK_ITERS} WHERE s = 'START'
),
eff AS (
  SELECT c.removed AS channel,
         round(f.conv_prob, 12) AS conv_prob_full,
         round(c.conv_prob, 12) AS conv_prob_removed,
         round(1.0 - c.conv_prob / f.conv_prob, 10) AS removal_effect
  FROM conv c, (SELECT conv_prob FROM conv WHERE removed = 'none') f
  WHERE c.removed IN ({chans})
)
SELECT channel, conv_prob_full, conv_prob_removed, removal_effect,
       round(removal_effect / sum(removal_effect) OVER (), 10)
         AS attribution_share
FROM eff
"""
    )


@query("events_markov_attribution", oracle=_mk_oracle())
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain conversion attribution with removal effects — the
    data-driven alternative to last-touch: user event streams are cut
    into journeys at purchases, first-order transition probabilities
    estimated (START / channels / absorbing CONV and NULL), absorption
    probability from START computed by {MK_ITERS} unrolled value
    iterations (the `graph_pagerank` precedent — DECIMAL-summed,
    per-round rounding, so both engines walk the identical
    trajectory), and each channel's removal effect = the conversion
    drop when the channel is deleted (its incoming mass diverted to
    NULL, the standard non-renormalizing construction). Shares are the
    normalized removal effects.

    100 TB shape: ONE shuffle of the event log (user-keyed windows to
    build journeys and hops) reduces everything to the transition
    matrix — at most (channels+1) x (channels+2) cells per removal
    label — and the value iteration runs on that constant-size
    relation; the removal dimension is a 5-label cross join of the
    TINY edge table, never of events."""
    e = load_table(spark, sf_dir, "events")
    wj = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .over(wj)
        .alias("journey"),
    )
    wh = W.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    hops = seq.select(
        "event_type",
        F.lag("event_type").over(wh).alias("prev_type"),
        F.lead("event_type").over(wh).alias("next_type"),
    )
    starts = hops.filter(F.col("prev_type").isNull()).select(
        F.lit("START").alias("src"),
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    follows = hops.filter(F.col("event_type") != "purchase").select(
        F.col("event_type").alias("src"),
        F.when(F.col("next_type") == "purchase", "CONV")
        .when(F.col("next_type").isNull(), "NULL")
        .otherwise(F.col("next_type"))
        .alias("dst"),
    )
    raw_edges = starts.unionByName(follows)
    labels = spark.createDataFrame(
        [("none",)] + [(c,) for c in MK_CHANNELS], ["removed"]
    )
    edges = (
        raw_edges.crossJoin(F.broadcast(labels))
        .filter(F.col("src") != F.col("removed"))
        .select(
            "removed",
            "src",
            F.when(F.col("dst") == F.col("removed"), "NULL")
            .otherwise(F.col("dst"))
            .alias("dst"),
        )
        .groupBy("removed", "src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    trans = edges.select(
        "removed",
        "src",
        "dst",
        (F.col("n") / F.sum("n").over(W.partitionBy("removed", "src"))).alias("p"),
    ).transform(track)  # the iteration consumes it MK_ITERS times
    absorbing = (
        trans.select("removed")
        .distinct()
        .select(
            "removed",
            F.explode(
                F.array(
                    F.struct(F.lit("CONV").alias("s"), F.lit(1.0).alias("val")),
                    F.struct(F.lit("NULL").alias("s"), F.lit(0.0).alias("val")),
                )
            ).alias("a"),
        )
        .select("removed", "a.s", "a.val")
        .transform(track)
    )
    val = trans.select(
        "removed", F.col("src").alias("s"), F.lit(0.0).alias("val")
    ).distinct().unionByName(absorbing)
    for _ in range(MK_ITERS):
        prop = (
            trans.join(
                val.withColumnRenamed("s", "dst"),
                ["removed", "dst"],
            )
            .groupBy("removed", "src")
            .agg(
                F.round(
                    F.sum((F.col("p") * F.col("val")).cast(_MKDEC)).cast("double"),
                    12,
                ).alias("val")
            )
            .select("removed", F.col("src").alias("s"), "val")
        )
        val = prop.unionByName(absorbing)
    conv = val.filter(F.col("s") == "START").select(
        "removed", F.col("val").alias("conv_prob")
    )
    full = conv.filter(F.col("removed") == "none").select(
        F.col("conv_prob").alias("full_prob")
    )
    eff = (
        conv.filter(F.col("removed").isin(*MK_CHANNELS))
        .crossJoin(F.broadcast(full))
        .select(
            F.col("removed").alias("channel"),
            F.round(F.col("full_prob"), 12).alias("conv_prob_full"),
            F.round(F.col("conv_prob"), 12).alias("conv_prob_removed"),
            F.round(
                F.lit(1.0) - F.col("conv_prob") / F.col("full_prob"), 10
            ).alias("removal_effect"),
        )
    )
    return eff.select(
        "channel",
        "conv_prob_full",
        "conv_prob_removed",
        "removal_effect",
        F.round(
            F.col("removal_effect") / F.sum("removal_effect").over(W.partitionBy()),
            10,
        ).alias("attribution_share"),
    )


# --------------------------------------------------------------------------
# Statistical testing & monitoring (round-8 batch): the measurement
# layer a production pipeline runs NEXT TO the warehouse queries —
# churn survival curves, distribution-drift monitors, trend fits and
# experiment readouts. Reference scope: the warehouse tier downstream
# of `lambda_function.py:176` is where these run today as hand-rolled
# SQL; here each is ONE mergeable aggregation (count / integer sums /
# DECIMAL-exact sums of a bounded-scale cast), so the map-side combine
# reduces 100 TB of events to a constant-size statistics relation
# before the only shuffle. Nothing downstream of the first agg ever
# touches the event log again. Cross-engine determinism discipline:
# every mean/variance/slope is DERIVED from exact integer/DECIMAL sums
# (never stddev_samp/regr_slope, whose float merge order wiggles last
# bits), transcendentals (ln/exp) are applied to identical doubles and
# the results DECIMAL-cast before any reduction, and every boolean
# verdict compares the ROUNDED statistic so the flag can never
# disagree with the reported value (the events_anomaly_days precedent).
# --------------------------------------------------------------------------

#: Users whose last activity is within this many days of the corpus
#: horizon are right-censored (still alive), not churned.
KM_CENSOR_DAYS = 7


@query(
    "events_survival_km",
    oracle=f"""
WITH pu AS (
  SELECT user_id, min(ts::DATE) AS first_day, max(ts::DATE) AS last_day
  FROM events GROUP BY 1
),
hz AS (SELECT max(ts::DATE) AS horizon FROM events),
dur AS (
  SELECT date_diff('day', first_day, last_day) AS duration,
         (date_diff('day', last_day, horizon) < {KM_CENSOR_DAYS}) AS censored
  FROM pu CROSS JOIN hz
),
km AS (
  SELECT duration,
         sum(CASE WHEN censored THEN 0 ELSE 1 END)::BIGINT AS d_churned,
         sum(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT AS c_censored
  FROM dur GROUP BY 1
),
risk AS (
  SELECT duration, d_churned, c_censored,
         sum(d_churned + c_censored) OVER
           (ORDER BY duration
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT
           AS n_at_risk
  FROM km
)
SELECT duration, n_at_risk, d_churned, c_censored,
       coalesce(round(exp(CAST(sum(CAST(ln(nullif(
           (n_at_risk - d_churned)::DOUBLE / n_at_risk, 0.0))
         AS DECIMAL(30,18))) OVER
           (ORDER BY duration
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DOUBLE)), 6), 0.0) AS survival
FROM risk
""",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention survival curve over the event log.

    Per user: duration = days between first and last event; users still
    active within ``KM_CENSOR_DAYS`` of the corpus horizon are
    right-censored. The KM estimator S(t) = prod_{t'<=t} (1 - d/n) is
    computed in log space — each factor's ln is DECIMAL(30,18)-cast,
    summed over an ORDER BY duration window (a deterministic total
    order, so both engines add in the identical sequence), and
    exponentiated once. A factor of exactly 0 (everyone at risk churns)
    NULLs the running sum from that point on; coalesce pins survival to
    0.0 there on both engines, which is the true KM value.

    Scale shape: ONE user_id shuffle reduces the event log to one row
    per user (map-side combine on min/max); everything after operates
    on the duration histogram, which is bounded by the observation
    span in days — a constant-size relation no matter the corpus. The
    unpartitioned ORDER BY windows run on that constant-size table
    only. Reference: the retention readout a warehouse user would run
    downstream of the load at `lambda_function.py:176`.
    """
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    hz = ev.agg(F.max(F.to_date("ts")).alias("horizon"))
    dur = pu.crossJoin(F.broadcast(hz)).select(
        F.datediff("last_day", "first_day").alias("duration"),
        (F.datediff("horizon", "last_day") < KM_CENSOR_DAYS).alias("censored"),
    )
    km = dur.groupBy("duration").agg(
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("long")
        .alias("d_churned"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("c_censored"),
    )
    # global-ok: duration histogram, bounded by observation span in days
    w_tail = W.orderBy("duration").rowsBetween(W.currentRow, W.unboundedFollowing)
    w_head = W.orderBy("duration").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = km.withColumn(
        "n_at_risk",
        F.sum(F.col("d_churned") + F.col("c_censored")).over(w_tail).cast("long"),
    )
    factor = (
        (F.col("n_at_risk") - F.col("d_churned")).cast("double")
        / F.col("n_at_risk")
    )
    ln_term = F.log(F.nullif(factor, F.lit(0.0))).cast("decimal(30,18)")
    survival = F.coalesce(
        F.round(F.exp(F.sum(ln_term).over(w_head).cast("double")), 6),
        F.lit(0.0),
    )
    return risk.select(
        "duration", "n_at_risk", "d_churned", "c_censored",
        survival.alias("survival"),
    )


#: PSI verdict threshold (industry convention: <0.1 stable, >0.25 major).
PSI_THRESHOLD = 0.1

#: Laplace smoothing mass: 0.5 per bucket, 5 nominal value buckets.
_PSI_SMOOTH, _PSI_SMOOTH_TOT = 0.5, 2.5

_PSI_BUCKET_SQL = """CASE WHEN value IS NULL THEN 'null'
              WHEN abs(value) < 25 THEN 'small'
              WHEN abs(value) < 100 THEN 'medium'
              WHEN abs(value) < 500 THEN 'large'
              ELSE 'very_large' END"""


@query(
    "quality_drift_psi",
    oracle=f"""
WITH days AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE) AS day, value
  FROM events
),
bounds AS (
  SELECT min(day) + CAST(floor((max(day) - min(day)) / 2.0) AS BIGINT)
           AS dmid
  FROM days
),
b AS (
  SELECT event_type,
         {_PSI_BUCKET_SQL} AS bucket,
         CASE WHEN day <= dmid THEN 1 ELSE 0 END AS is_base
  FROM days CROSS JOIN bounds
),
cnt AS (
  SELECT event_type, bucket,
         sum(is_base)::BIGINT AS n_base,
         sum(1 - is_base)::BIGINT AS n_cur
  FROM b GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(n_base)::BIGINT AS t_base,
         sum(n_cur)::BIGINT AS t_cur
  FROM cnt GROUP BY 1
),
terms AS (
  SELECT c.event_type,
         (c.n_base + {_PSI_SMOOTH}) / (t.t_base + {_PSI_SMOOTH_TOT}) AS p,
         (c.n_cur + {_PSI_SMOOTH}) / (t.t_cur + {_PSI_SMOOTH_TOT}) AS q
  FROM cnt c JOIN tot t USING (event_type)
)
SELECT event_type,
       round(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(30,18)))
                  AS DOUBLE), 6) AS psi,
       round(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(30,18)))
                  AS DOUBLE), 6) > {PSI_THRESHOLD} AS drifted
FROM terms GROUP BY event_type
""",
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: compares the `value`
    distribution per event type between the first and second half of
    the observation window (split at the midpoint day, integer date
    arithmetic so both engines cut identically).

    Buckets are the engine's fixed bucketize edges (25/100/500, the
    R9 thresholds) plus a null bucket — fixed edges rather than
    period-1 quantiles so the monitor is deterministic and the bucket
    function is a single codegen CASE. Counts are exact integers;
    p/q are Laplace-smoothed (0.5 per bucket over 5 nominal buckets)
    so ln never sees 0; each (p-q)*ln(p/q) term is DECIMAL-cast before
    the per-type sum, making the reduction order-independent. The
    drift verdict compares the ROUNDED psi.

    Scale shape: one scan, one groupBy(event_type, bucket) with
    map-side combine — the monitor's state is (types x 6) rows
    regardless of corpus size; totals re-aggregate that tiny relation.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
        "value",
    )
    bounds = days.agg(
        (
            F.min("day")
            + F.floor((F.max("day") - F.min("day")) / 2.0).cast("long")
        ).alias("dmid")
    )
    av = F.abs(F.col("value"))
    bucket = (
        F.when(F.col("value").isNull(), "null")
        .when(av < 25, "small")
        .when(av < 100, "medium")
        .when(av < 500, "large")
        .otherwise("very_large")
    )
    b = days.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        bucket.alias("bucket"),
        F.when(F.col("day") <= F.col("dmid"), 1).otherwise(0).alias("is_base"),
    )
    cnt = b.groupBy("event_type", "bucket").agg(
        F.sum("is_base").cast("long").alias("n_base"),
        F.sum(F.lit(1) - F.col("is_base")).cast("long").alias("n_cur"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n_base").cast("long").alias("t_base"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p = (F.col("n_base") + _PSI_SMOOTH) / (F.col("t_base") + _PSI_SMOOTH_TOT)
    q = (F.col("n_cur") + _PSI_SMOOTH) / (F.col("t_cur") + _PSI_SMOOTH_TOT)
    term = ((p - q) * F.log(p / q)).cast("decimal(30,18)")
    psi = F.round(F.sum(term).cast("double"), 6)
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(psi.alias("psi"), (psi > PSI_THRESHOLD).alias("drifted"))
    )


@query(
    "agg_regression_ols",
    oracle="""
WITH pts AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS x,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type, count(*)::BIGINT AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM pts GROUP BY 1
)
SELECT event_type, n,
       round((n * sxy - sx * sy)
             / nullif(n * sxx - sx * sx, 0.0), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) * sx)
             / n, 6) AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 6)
         AS r2
FROM s
""",
)
def agg_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend fit (value vs. day) from
    closed-form sufficient statistics — the distributed alternative to
    `regr_slope`/`regr_r2`, whose streaming float merges are
    partition-order-dependent.

    The five sufficient statistics (sum x, sum x2, sum y, sum xy,
    sum y2) are EXACT: x is an integer day number, y is value cast to
    DECIMAL(18,6), so every sum is integer/DECIMAL arithmetic that any
    merge order reproduces bit-for-bit. Slope/intercept/R2 are then
    derived in IEEE double from those exact sums — identical on both
    engines. This is the textbook one-pass OLS: at 100 TB the map-side
    combine reduces the corpus to 5 numbers per group before the only
    shuffle, and the fit itself is free.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_x_n = n * sxx - sx * sx
    slope = cov_n / F.nullif(var_x_n, F.lit(0.0))
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            cov_n * cov_n
            / F.nullif(var_x_n * (n * syy - sy * sy), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


#: Two-sided 5% critical value of the normal approximation.
TTEST_CRIT = 1.96


@query(
    "events_abtest_welch",
    oracle=f"""
WITH pts AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type,
         count(*) FILTER (variant = 0)::BIGINT AS n0,
         count(*) FILTER (variant = 1)::BIGINT AS n1,
         CAST(sum(y) FILTER (variant = 0) AS DOUBLE) AS s0,
         CAST(sum(y) FILTER (variant = 1) AS DOUBLE) AS s1,
         CAST(sum(y * y) FILTER (variant = 0) AS DOUBLE) AS ss0,
         CAST(sum(y * y) FILTER (variant = 1) AS DOUBLE) AS ss1
  FROM pts GROUP BY 1
),
w AS (
  SELECT event_type, n0, n1,
         s0 / n0 AS m0, s1 / n1 AS m1,
         (ss0 - s0 * s0 / n0) / (n0 - 1) / n0 AS vn0,
         (ss1 - s1 * s1 / n1) / (n1 - 1) / n1 AS vn1
  FROM s
)
SELECT event_type, n0, n1,
       round(m0, 6) AS mean_control,
       round(m1, 6) AS mean_treatment,
       round((m1 - m0) / nullif(sqrt(vn0 + vn1), 0.0), 6) AS t_stat,
       round((vn0 + vn1) * (vn0 + vn1)
             / nullif(vn0 * vn0 / (n0 - 1) + vn1 * vn1 / (n1 - 1), 0.0), 2)
         AS welch_dof,
       abs(round((m1 - m0) / nullif(sqrt(vn0 + vn1), 0.0), 6))
         > {TTEST_CRIT} AS significant
FROM w
""",
)
def events_abtest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t-test of the
    `value` metric between two deterministic variants (user_id parity —
    the stable hash-split an experimentation platform uses), per event
    type, with the Welch-Satterthwaite effective degrees of freedom.

    Means and variances are DERIVED from exact sums (count, DECIMAL
    sum, DECIMAL sum of squares) in a SINGLE conditional aggregate —
    never avg/var_samp, whose float merge order differs per partition
    layout. The significance flag compares the ROUNDED t statistic to
    the 5% normal critical value so flag and statistic can never
    disagree. One scan, one event_type shuffle of 7 numbers per group:
    the experiment readout over 100 TB costs exactly one map-side-
    combined aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    is0 = F.col("variant") == 0
    is1 = F.col("variant") == 1
    s = pts.groupBy("event_type").agg(
        F.count(F.when(is0, 1)).cast("long").alias("n0"),
        F.count(F.when(is1, 1)).cast("long").alias("n1"),
        F.sum(F.when(is0, F.col("y"))).cast("double").alias("s0"),
        F.sum(F.when(is1, F.col("y"))).cast("double").alias("s1"),
        F.sum(F.when(is0, F.col("y") * F.col("y"))).cast("double").alias("ss0"),
        F.sum(F.when(is1, F.col("y") * F.col("y"))).cast("double").alias("ss1"),
    )
    n0, n1 = F.col("n0"), F.col("n1")
    m0 = F.col("s0") / n0
    m1 = F.col("s1") / n1
    vn0 = (F.col("ss0") - F.col("s0") * F.col("s0") / n0) / (n0 - 1) / n0
    vn1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1) / n1
    t = F.round((m1 - m0) / F.nullif(F.sqrt(vn0 + vn1), F.lit(0.0)), 6)
    return s.select(
        "event_type",
        "n0",
        "n1",
        F.round(m0, 6).alias("mean_control"),
        F.round(m1, 6).alias("mean_treatment"),
        t.alias("t_stat"),
        F.round(
            (vn0 + vn1) * (vn0 + vn1)
            / F.nullif(
                vn0 * vn0 / (n0 - 1) + vn1 * vn1 / (n1 - 1), F.lit(0.0)
            ),
            2,
        ).alias("welch_dof"),
        (F.abs(t) > TTEST_CRIT).alias("significant"),
    )


# --------------------------------------------------------------------------
# Time-series statistics (round-8 seventh batch): autocorrelation,
# CUSUM changepoint detection, Theil-Sen robust trend. All three run
# on the DAILY ROLLUP — one event_type-keyed shuffle reduces the event
# log to at most (types x observation-span-in-days) rows, a
# calendar-bounded relation no matter the corpus size — so even the
# O(n^2) pair work in Theil-Sen is constant-cost at 100 TB. The
# determinism discipline is the statistical-testing batch's: means,
# variances and every summed product are DECIMAL-cast before
# reduction; ordered windows order by day (a total order within a
# type); verdicts compare ROUNDED statistics.
# --------------------------------------------------------------------------

#: Shared daily value rollup: exact DECIMAL sum of `value` per
#: (event_type, epoch-day). Engine-neutral day index (datediff from
#: 1970-01-01) — the agg_regression_ols precedent.
_DAILY_SQL = """
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


def _daily_value_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rollup = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    )
    # the rollup feeds 2-3 branches (self-joins, stats passes); persist
    # the calendar-bounded relation so the event log is scanned ONCE
    # (session-scoped cache, cleared at harness boundaries)
    return track(rollup)


#: Maximum autocorrelation lag emitted (days).
ACF_MAX_LAG = 7


@query(
    "ts_autocorrelation",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
d2 AS (
  SELECT event_type, day, v,
         CAST(sum(CAST(v AS DECIMAL(18,2))) OVER (PARTITION BY event_type) AS DOUBLE)
           / count(*) OVER (PARTITION BY event_type) AS mean,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
stats AS (
  SELECT event_type,
         CAST(sum(CAST((v - mean) * (v - mean) AS DECIMAL(38,10))) AS DOUBLE) AS denom,
         count(*)::BIGINT AS n_days
  FROM d2 GROUP BY 1
),
pairs AS (
  SELECT a.event_type, k.lag, a.v AS va, a.mean AS mean, b.v AS vb
  FROM d2 a
  CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) k(lag)
  JOIN d2 b ON b.event_type = a.event_type AND b.rn = a.rn - k.lag
),
acf AS (
  SELECT event_type, lag::BIGINT AS lag,
         CAST(sum(CAST((va - mean) * (vb - mean) AS DECIMAL(38,10))) AS DOUBLE) AS num,
         count(*)::BIGINT AS n_pairs
  FROM pairs GROUP BY 1, 2
)
SELECT a.event_type, a.lag, round(a.num / s.denom, 6) AS acf, a.n_pairs
FROM acf a JOIN stats s USING (event_type)
""",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily value series at lags 1..7
    per event type — the seasonality/persistence diagnostic behind
    every forecasting decision (a weekly cycle shows as a lag-7 peak).

    ACF_k = sum((v_t - mean)(v_{t-k} - mean)) / sum((v_t - mean)^2),
    lags taken over the row sequence of OBSERVED days ordered by day
    (the synthetic series is dense; on a gappy series resample through
    ts_resample_gapfill first — documented boundary). Every summed
    product is DECIMAL(38,10)-cast so reduction order cannot wiggle
    bits; the mean comes from the exact DECIMAL sum over an
    unpartitioned-by-order window. Lag pairing is a rank self-join
    (b.rn = a.rn - k) on the daily rollup — at 100 TB that relation is
    (types x span-days), constant-bounded, so the 7x pair expansion is
    free; the event log is touched exactly once.
    """
    daily = _daily_value_rollup(spark, sf_dir)
    w_all = W.partitionBy("event_type")
    w_ord = W.partitionBy("event_type").orderBy("day")
    d2 = daily.select(
        "event_type",
        "day",
        "v",
        (
            F.sum(F.col("v").cast("decimal(18,2)")).over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("mean"),
        F.row_number().over(w_ord).alias("rn"),
    )
    stats = d2.groupBy("event_type").agg(
        F.sum(((F.col("v") - F.col("mean")) * (F.col("v") - F.col("mean"))).cast("decimal(38,10)"))
        .cast("double")
        .alias("denom"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = d2.crossJoin(F.broadcast(lags))
    b = d2.select(
        F.col("event_type").alias("b_type"),
        F.col("rn").alias("b_rn"),
        F.col("v").alias("vb"),
    )
    pairs = a.join(
        b,
        (F.col("b_type") == F.col("event_type")) & (F.col("b_rn") == F.col("rn") - F.col("lag")),
    )
    acf = pairs.groupBy("event_type", "lag").agg(
        F.sum(((F.col("v") - F.col("mean")) * (F.col("vb") - F.col("mean"))).cast("decimal(38,10)"))
        .cast("double")
        .alias("num"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return acf.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "lag",
        F.round(F.col("num") / F.col("denom"), 6).alias("acf"),
        "n_pairs",
    )


#: Brownian-bridge max-|B(t)| 5% critical value (the Kolmogorov
#: distribution's 1.358): threshold = KS_CRIT * sqrt(n) for the CUSUM
#: of standardized deviations under the no-shift null.
KS_CRIT = 1.358


@query(
    "ts_cusum_changepoint",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
d2 AS (
  SELECT event_type, day, v,
         CAST(sum(CAST(v AS DECIMAL(18,2))) OVER (PARTITION BY event_type) AS DOUBLE)
           / count(*) OVER (PARTITION BY event_type) AS mean,
         count(*) OVER (PARTITION BY event_type)::BIGINT AS n
  FROM daily
),
d3 AS (
  SELECT *, sqrt(
           CAST(sum(CAST((v - mean) * (v - mean) AS DECIMAL(38,10)))
                OVER (PARTITION BY event_type) AS DOUBLE) / (n - 1)
         ) AS sd
  FROM d2
),
c AS (
  SELECT event_type, day, n,
         round(abs(CAST(sum(CAST((v - mean) / sd AS DECIMAL(38,10)))
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE)), 6) AS abs_s
  FROM d3
),
m AS (SELECT *, max(abs_s) OVER (PARTITION BY event_type) AS mx FROM c)
SELECT event_type, max(n) AS n_days,
       min(CASE WHEN abs_s = mx THEN day END)::BIGINT AS change_day,
       max(mx) AS max_abs_cusum,
       (max(mx) > {KS_CRIT} * sqrt(max(n))) AS shift_detected
FROM m GROUP BY 1
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detector per event type: the running sum of
    standardized daily deviations, its maximum |S_t|, the day it
    peaks (= the estimated shift point), and a Brownian-bridge
    significance verdict (max > 1.358*sqrt(n) rejects "no shift" at
    ~5%).

    The cumulative window orders by day — a total order within a type,
    so both engines add the DECIMAL-cast standardized terms in the
    identical sequence. The argmax tie-break is min(day) among rows
    whose ROUNDED |S| equals the rounded max, so the reported
    changepoint can never disagree with the reported statistic. Scale:
    everything after the one event_type-day shuffle runs on the
    calendar-bounded rollup.
    """
    daily = _daily_value_rollup(spark, sf_dir)
    w_all = W.partitionBy("event_type")
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d2 = daily.select(
        "event_type",
        "day",
        "v",
        (
            F.sum(F.col("v").cast("decimal(18,2)")).over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("mean"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    d3 = d2.withColumn(
        "sd",
        F.sqrt(
            F.sum(
                ((F.col("v") - F.col("mean")) * (F.col("v") - F.col("mean"))).cast(
                    "decimal(38,10)"
                )
            )
            .over(w_all)
            .cast("double")
            / (F.col("n") - 1)
        ),
    )
    c = d3.select(
        "event_type",
        "day",
        "n",
        F.round(
            F.abs(
                F.sum(((F.col("v") - F.col("mean")) / F.col("sd")).cast("decimal(38,10)"))
                .over(w_cum)
                .cast("double")
            ),
            6,
        ).alias("abs_s"),
    )
    m = c.withColumn("mx", F.max("abs_s").over(w_all))
    return m.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.min(F.when(F.col("abs_s") == F.col("mx"), F.col("day")))
        .cast("long")
        .alias("change_day"),
        F.max("mx").alias("max_abs_cusum"),
        (F.max("mx") > KS_CRIT * F.sqrt(F.max("n"))).alias("shift_detected"),
    )


@query(
    "ts_theil_sen",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
pairs AS (
  SELECT a.event_type, (b.v - a.v) / (b.day - a.day) AS slope
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
),
sl AS (
  SELECT event_type, round(quantile_cont(slope, 0.5), 6) AS sen_slope,
         count(*)::BIGINT AS n_pairs
  FROM pairs GROUP BY 1
)
SELECT d.event_type, count(*)::BIGINT AS n_days, max(s.n_pairs) AS n_pairs,
       max(s.sen_slope) AS sen_slope,
       round(quantile_cont(d.v - s.sen_slope * d.day, 0.5), 6) AS sen_intercept
FROM daily d JOIN sl s ON s.event_type = d.event_type
GROUP BY 1
""",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all
    pairwise daily slopes plus the matching median intercept — the
    outlier-resistant complement to agg_regression_ols (one corrupted
    day moves OLS; it cannot move a median of ~n^2/2 slopes).

    The O(n^2) pair self-join runs on the daily rollup, whose row
    count is calendar-bounded (types x span-days) at ANY corpus size —
    the same reason dedup_substring's window expansion is safe. Slopes
    are identical doubles on both engines (differences and one
    division of exact-rollup values); the median is the exact
    interpolated percentile ROUNDED before the intercept pass reuses
    it, so the two stages cannot disagree across engines. The event
    log is scanned once.
    """
    daily = _daily_value_rollup(spark, sf_dir)
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("v").alias("b_v"),
    )
    pairs = daily.join(
        b,
        (F.col("b_type") == F.col("event_type")) & (F.col("b_day") > F.col("day")),
    ).select(
        "event_type",
        ((F.col("b_v") - F.col("v")) / (F.col("b_day") - F.col("day"))).alias("slope"),
    )
    sl = pairs.groupBy("event_type").agg(
        F.round(F.percentile("slope", 0.5), 6).alias("sen_slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return (
        daily.join(F.broadcast(sl), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("n_pairs").alias("n_pairs"),
            F.max("sen_slope").alias("sen_slope"),
            F.round(
                F.percentile(F.col("v") - F.col("sen_slope") * F.col("day"), 0.5), 6
            ).alias("sen_intercept"),
        )
    )


#: conversion path: a view, any clicks/errors, then a purchase.
PATTERN_RE = "V[CE]*P"

_SYM_SQL = """CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
              WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S'
              ELSE 'E' END"""


@query(
    "events_pattern_match",
    oracle=f"""
WITH sym AS (
  SELECT user_id, ts, event_id, {_SYM_SQL} AS s
  FROM events
),
seq AS (
  SELECT user_id,
         string_agg(s, '' ORDER BY ts, event_id) AS path,
         count(*)::BIGINT AS n_events
  FROM sym GROUP BY 1
)
SELECT user_id, n_events, path,
       len(regexp_extract_all(path, '{PATTERN_RE}'))::BIGINT AS n_conversions,
       (len(regexp_extract_all(path, '{PATTERN_RE}')) > 0) AS converted
FROM seq
""",
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event paths — the
    MATCH_RECOGNIZE workload expressed relationally: symbolize each
    event to one character, fold a user's time-ordered events into a
    path string, and count non-overlapping regex matches of the
    conversion pattern view -> (clicks|errors)* -> purchase.

    Ordering is total (ts, then event_id), so both engines build the
    byte-identical path — the emitted ``path`` column makes the digest
    a hard test of that ordering. Left-to-right non-overlapping match
    counting agrees between Java regex and RE2 for this
    backreference-free pattern class (the boundary: avoid constructs
    where the engines' greediness semantics diverge). Scale: ONE
    user-keyed shuffle; per-user paths are bounded by user activity —
    on an unbounded log, sessionize first (events_sessionize) so the
    folded string is session-sized, not lifetime-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    sym = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(_SYM_SQL).alias("s"),
    )
    seq = sym.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "s"))),
                lambda x: x["s"],
            ),
        ).alias("path"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    n_match = F.regexp_count(F.col("path"), F.lit(PATTERN_RE))
    return seq.select(
        "user_id",
        "n_events",
        "path",
        n_match.cast("long").alias("n_conversions"),
        (n_match > 0).alias("converted"),
    )


#: Iglewicz-Hoaglin modified-z-score cutoff.
MAD_Z_CUT = 3.5


@query(
    "quality_outlier_mad",
    oracle=f"""
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(n, 0.5) AS med FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
  FROM daily d JOIN med m ON m.event_type = d.event_type
),
madt AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, d.n,
       round(0.6745 * (d.n - d.med) / nullif(t.mad, 0.0), 4) AS robust_z,
       coalesce(abs(round(0.6745 * (d.n - d.med) / nullif(t.mad, 0.0), 4))
                > {MAD_Z_CUT}, false) AS is_outlier
FROM dev d JOIN madt t ON t.event_type = d.event_type
""",
)
def quality_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume outlier detection per event type using the
    median/MAD modified z-score (0.6745*(n - median)/MAD, flag at
    |z| > 3.5 — Iglewicz-Hoaglin). The robust complement to
    events_anomaly_days: one corrupted day inflates a mean/stddev
    z-score's own baseline and can mask itself; it cannot move the
    median or the MAD.

    A zero MAD (more than half the days identical) nulls the score
    rather than dividing by zero; the flag compares the ROUNDED score
    and coalesces to false so the boolean never disagrees with the
    emitted value. Scale: one shuffle to the calendar-bounded daily
    rollup (persisted — three passes read it); medians are exact
    interpolated percentiles over that bounded relation, and the
    per-type statistics broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = track(
        ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("n", 0.5).alias("med")
    )
    dev = track(
        daily.join(F.broadcast(med), "event_type").select(
            "event_type",
            "day",
            "n",
            "med",
            F.abs(F.col("n") - F.col("med")).alias("adev"),
        )
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    z = F.round(
        0.6745
        * (F.col("n") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0)),
        4,
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "n",
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > MAD_Z_CUT, F.lit(False)).alias("is_outlier"),
    )


#: Brown's DES forecast horizon (days ahead from each observation).
DES_HORIZON = 7


@query(
    "ts_brown_des_forecast",
    oracle=f"""
WITH daily AS (
  SELECT event_type, date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
s1 AS (
  SELECT event_type, day, v, round({_ewma_sql('v')}, 6) AS sp
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
s2 AS (
  SELECT event_type, day, v, sp, round({_ewma_sql('sp')}, 6) AS spp
  FROM s1 WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, round(v, 2) AS daily_value,
       round(2 * sp - spp, 6) AS level,
       round(sp - spp, 6) AS trend,
       round((2 * sp - spp) + {DES_HORIZON} * (sp - spp), 6) AS forecast_{DES_HORIZON}d
FROM s2
""",
)
def ts_brown_des_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing (trend-aware forecasting)
    per event type: level = 2S' - S'', trend = (a/(1-a))(S' - S'')
    with a = 0.5, forecast_h = level + h*trend — the classic
    low-state forecaster, built from TWO chained truncated-convolution
    EWMAs (the events_ewma device: the textbook recursion is
    sequential, the truncated convolution is a bounded window sum that
    distributes; residual weight past the horizon < 0.8%).

    S' is ROUNDED before feeding the second convolution, so both
    engines convolve byte-identical intermediates — without that pin,
    fourteen chained double ops would still agree, but the contract is
    cheaper to keep at the boundary. One event shuffle to the daily
    rollup; both window passes run per type on the calendar-bounded
    series with EWMA_TERMS lag slots of state. Smoothing is over
    OBSERVED days (compose with ts_resample_gapfill for calendar-exact
    decay across gaps — the events_ewma caveat).
    """
    daily = _daily_value_rollup(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day")
    s1 = daily.select(
        "event_type", "day", "v", F.round(_ewma(F.col("v"), w), 6).alias("sp")
    )
    s2 = s1.select(
        "event_type",
        "day",
        "v",
        "sp",
        F.round(_ewma(F.col("sp"), w), 6).alias("spp"),
    )
    level = 2 * F.col("sp") - F.col("spp")
    trend = F.col("sp") - F.col("spp")
    return s2.select(
        "event_type",
        "day",
        F.round("v", 2).alias("daily_value"),
        F.round(level, 6).alias("level"),
        F.round(trend, 6).alias("trend"),
        F.round(level + DES_HORIZON * trend, 6).alias(f"forecast_{DES_HORIZON}d"),
    )


#: Holt-Winters additive triple smoothing: weekly seasonality over the
#: observed-day sequence, 7-step forecast horizon. Coefficients and
#: their complements are separate literals so BOTH engines compute
#: with the same double constants (1 - 0.3 recomputed per engine is
#: the same double, but the literal pin is free).
HW_PERIOD = 7
HW_H = 7
HW_A, HW_A1 = 0.3, 0.7  # level alpha, 1-alpha
HW_B, HW_B1 = 0.1, 0.9  # trend beta, 1-beta
HW_G, HW_G1 = 0.2, 0.8  # seasonal gamma, 1-gamma


def _hw_oracle() -> str:
    m, h = HW_PERIOD, HW_H
    sum1 = "+".join(f"ys[{i}]" for i in range(1, m + 1))
    sum2 = "+".join(f"ys[{i}]" for i in range(m + 1, 2 * m + 1))
    lnew = f"{HW_A}*(nb.y - r.s[1]) + {HW_A1}*(r.l + r.b)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, row_number() OVER (PARTITION BY event_type ORDER BY day) AS t, y
  FROM daily
),
tmax AS (SELECT event_type, max(t)::BIGINT AS tm FROM base GROUP BY 1),
init AS (
  SELECT b.event_type, list(y ORDER BY t) AS ys
  FROM base b JOIN tmax USING (event_type)
  WHERE t <= {2 * m} AND tm >= {2 * m + 1}
  GROUP BY b.event_type
),
st0 AS (
  SELECT event_type,
         ({sum1}) / {m} AS l,
         (({sum2}) / {m} - ({sum1}) / {m}) / {m} AS b,
         list_transform(ys[1:{m}], x -> x - ({sum1}) / {m}) AS s
  FROM init
),
rec AS (
  SELECT event_type, CAST({m} AS BIGINT) AS t, l, b, s FROM st0
  UNION ALL
  SELECT r.event_type, r.t + 1,
         {lnew} AS l,
         {HW_B}*(({lnew}) - r.l) + {HW_B1}*r.b AS b,
         r.s[2:{m}] || [{HW_G}*(nb.y - ({lnew})) + {HW_G1}*r.s[1]] AS s
  FROM rec r JOIN base nb ON nb.event_type = r.event_type AND nb.t = r.t + 1
),
fin AS (
  SELECT r.event_type, r.t, r.l, r.b, r.s
  FROM rec r JOIN tmax USING (event_type) WHERE r.t = tm
)
SELECT event_type, t AS n_days, h,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + h * b + s[h], 6) AS forecast
FROM fin, (SELECT unnest(range(1, {h + 1})) AS h)
"""


def _hw_group(pdf):
    """Per-series Holt-Winters recursion — the pandas twin of the
    oracle's recursive CTE, written with the IDENTICAL operation
    order so every intermediate double is bit-equal."""
    import pandas as pd

    m, hh = HW_PERIOD, HW_H
    pdf = pdf.sort_values("day")
    ys = [float(v) for v in pdf["y"]]
    cols = ["event_type", "n_days", "h", "level", "trend", "forecast"]
    if len(ys) < 2 * m + 1:
        return pd.DataFrame({c: [] for c in cols})
    acc1 = ys[0]
    for i in range(1, m):
        acc1 = acc1 + ys[i]
    l = acc1 / m
    acc2 = ys[m]
    for i in range(m + 1, 2 * m):
        acc2 = acc2 + ys[i]
    b = (acc2 / m - l) / m
    s = [ys[i] - l for i in range(m)]
    for t in range(m, len(ys)):
        y = ys[t]
        l_new = HW_A * (y - s[0]) + HW_A1 * (l + b)
        b = HW_B * (l_new - l) + HW_B1 * b
        s = s[1:] + [HW_G * (y - l_new) + HW_G1 * s[0]]
        l = l_new
    et = pdf["event_type"].iloc[0]
    rows = {
        "event_type": [et] * hh,
        "n_days": [len(ys)] * hh,
        "h": list(range(1, hh + 1)),
        "level": [round(l, 6)] * hh,
        "trend": [round(b, 6)] * hh,
        "forecast": [round(l + h * b + s[h - 1], 6) for h in range(1, hh + 1)],
    }
    return pd.DataFrame(rows, columns=cols)


@query("ts_holt_winters", oracle=_hw_oracle())
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing (level +
    trend + weekly seasonality) per event type, with a 7-step
    forecast. Completes the forecasting ladder: `events_ewma` (level),
    `ts_brown_des_forecast` (level+trend), and now seasonality — the
    first model in the ladder whose recursion genuinely cannot be
    distributed: level, trend, and the 7 seasonal slots are COUPLED,
    so no truncated-convolution rewrite exists (the events_ewma
    device stops here). This is exactly the case SURVEY §2's custom-
    operator policy routes to an Arrow-batched grouped map: the heavy
    reduction (event log -> daily totals) is a distributed map-side-
    combined aggregate; the recursion then runs per series inside
    `applyInPandas`, where a series is CALENDAR-bounded (365 points/
    year regardless of corpus bytes) — per-group sequential work with
    bounded state, the applyInPandasWithState batch twin.

    Exactness: the pandas recursion and the oracle's recursive CTE
    are written with the identical operation order over identical
    DECIMAL-summed daily inputs, so every intermediate IEEE double
    matches bit-for-bit; outputs round at 6. Init: first-season mean
    level, two-season mean-difference trend, first-season additive
    seasonals; series shorter than two seasons + 1 are excluded on
    both sides."""
    from .relational import dsum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(dsum("value").alias("y"))
    return daily.groupBy("event_type").applyInPandas(
        _hw_group,
        schema="event_type string, n_days long, h long, level double, "
        "trend double, forecast double",
    )


@query(
    "events_uplift_cuped",
    oracle="""
WITH days AS (
  SELECT user_id, date_diff('day', DATE '1970-01-01', ts::DATE) AS day, value
  FROM events WHERE value IS NOT NULL
),
bounds AS (
  SELECT min(day) + CAST(floor((max(day) - min(day)) / 2.0) AS BIGINT) AS dmid
  FROM days
),
per_user AS (
  SELECT user_id, user_id % 2 AS grp,
         CAST(sum(CASE WHEN day <= dmid THEN CAST(value AS DECIMAL(18,2)) END)
              AS DOUBLE) AS pre_sum,
         sum(CASE WHEN day <= dmid THEN 1 ELSE 0 END)::BIGINT AS pre_n,
         CAST(sum(CASE WHEN day > dmid THEN CAST(value AS DECIMAL(18,2)) END)
              AS DOUBLE) AS post_sum,
         sum(CASE WHEN day > dmid THEN 1 ELSE 0 END)::BIGINT AS post_n
  FROM days CROSS JOIN bounds GROUP BY 1, 2
),
xy AS (
  SELECT grp, pre_sum / pre_n AS x, post_sum / post_n AS y
  FROM per_user WHERE pre_n > 0 AND post_n > 0
),
s AS (
  SELECT count(*)::BIGINT AS n,
         CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         CAST(sum(CASE WHEN grp = 1 THEN CAST(y AS DECIMAL(38,12)) END)
              AS DOUBLE) AS sy1,
         CAST(sum(CASE WHEN grp = 1 THEN CAST(x AS DECIMAL(38,12)) END)
              AS DOUBLE) AS sx1
  FROM xy
)
SELECT n AS n_users,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS var_reduction_pct,
       round(sy1 / n1 - (sy - sy1) / (n - n1), 6) AS diff_raw,
       round((sy1 / n1 - (sy - sy1) / (n - n1))
             - (n * sxy - sx * sy) / (n * sxx - sx * sx)
               * (sx1 / n1 - (sx - sx1) / (n - n1)), 6) AS diff_adj
FROM s
""",
)
def events_uplift_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al.'s
    controlled-experiment workhorse): the pre-period per-user mean is
    the covariate, theta = cov(x,y)/var(x), and the adjusted metric
    y - theta*(x - mean_x) removes the share of outcome variance the
    pre-period already explains — var_reduction_pct is exactly the
    squared correlation rho^2, often 30-50% smaller confidence
    intervals for free on real logs.

    Same machinery as the statistical-testing batch: the event log
    reduces in ONE user-keyed shuffle to per-user (pre, post) exact
    sums, the covariate moments fold in one more constant-size
    aggregate of DECIMAL-cast products, and theta / the adjusted
    treatment difference (user_id parity split, the Welch device) are
    closed-form arithmetic on that single row. Pre/post split at the
    midpoint day, integer date arithmetic (the PSI device). The
    adjusted difference must equal diff_raw - theta * (covariate
    imbalance) — pinned in pytest.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.where(F.col("value").isNotNull()).select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
        "value",
    )
    bounds = days.agg(
        (
            F.min("day")
            + F.floor((F.max("day") - F.min("day")) / 2.0).cast("long")
        ).alias("dmid")
    )
    dec = "decimal(18,2)"
    per_user = (
        days.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", (F.col("user_id") % 2).alias("grp"))
        .agg(
            F.sum(F.when(F.col("day") <= F.col("dmid"), F.col("value").cast(dec)))
            .cast("double")
            .alias("pre_sum"),
            F.sum(F.when(F.col("day") <= F.col("dmid"), 1).otherwise(0))
            .cast("long")
            .alias("pre_n"),
            F.sum(F.when(F.col("day") > F.col("dmid"), F.col("value").cast(dec)))
            .cast("double")
            .alias("post_sum"),
            F.sum(F.when(F.col("day") > F.col("dmid"), 1).otherwise(0))
            .cast("long")
            .alias("post_n"),
        )
    )
    xy = per_user.where((F.col("pre_n") > 0) & (F.col("post_n") > 0)).select(
        "grp",
        (F.col("pre_sum") / F.col("pre_n")).alias("x"),
        (F.col("post_sum") / F.col("post_n")).alias("y"),
    )
    d38 = "decimal(38,12)"
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast("double").alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).cast("double").alias("syy"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("y").cast(d38)))
        .cast("double")
        .alias("sy1"),
        F.sum(F.when(F.col("grp") == 1, F.col("x").cast(d38)))
        .cast("double")
        .alias("sx1"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    n1, sy1, sx1 = F.col("n1"), F.col("sy1"), F.col("sx1")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    diff_raw = sy1 / n1 - (sy - sy1) / (n - n1)
    return s.select(
        n.alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("var_reduction_pct"),
        F.round(diff_raw, 6).alias("diff_raw"),
        F.round(
            diff_raw - theta * (sx1 / n1 - (sx - sx1) / (n - n1)), 6
        ).alias("diff_adj"),
    )


#: chi-square critical value, df=8 (nine leading digits), alpha=0.05.
_BENFORD_CRIT = 15.507


@query(
    "quality_benford",
    oracle=f"""
WITH vals AS (
  SELECT event_type,
         substr(CAST(CAST(floor(abs(value)) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM events
  WHERE value IS NOT NULL AND abs(value) >= 1
),
cnt AS (
  SELECT event_type, digit, count(*)::BIGINT AS n_d
  FROM vals GROUP BY 1, 2
),
digits AS (SELECT CAST(d AS VARCHAR) AS digit, log10(1.0 + 1.0 / d) AS p
           FROM range(1, 10) t(d)),
grid AS (
  SELECT t.event_type, t.n_vals, d.digit, d.p, coalesce(c.n_d, 0)::BIGINT AS n_d
  FROM (SELECT event_type, sum(n_d)::BIGINT AS n_vals FROM cnt GROUP BY 1) t
  CROSS JOIN digits d
  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.digit = d.digit
)
SELECT event_type,
       max(n_vals) AS n_vals,
       round(sum((n_d - n_vals * p) * (n_d - n_vals * p) / (n_vals * p)), 6)
         AS chi2,
       round(sum((n_d - n_vals * p) * (n_d - n_vals * p) / (n_vals * p)), 6)
         > {_BENFORD_CRIT} AS anomalous,
       round(max(CASE WHEN digit = '1' THEN n_d END) / CAST(max(n_vals) AS DOUBLE),
             6) AS p_leading_1
FROM grid GROUP BY event_type
""",
)
def quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit per event type — the classic
    forensic screen for fabricated or machine-generated numeric columns
    (Nigrini's audit statistic; in a training-data pipeline the same
    test flags synthetic/spam sources whose metric fields were drawn
    uniformly instead of organically).

    The leading significant digit is extracted through exact integer
    string arithmetic (``floor(abs(v))`` as BIGINT, first character) on
    values with ``|v| >= 1`` — NOT via ``log10`` float gymnastics,
    whose last-ulp behavior near powers of ten differs across engines.
    Expected shares are Benford's ``log10(1 + 1/d)``; the chi-square
    statistic is computed on the (type x 9) count grid — all arithmetic
    AFTER aggregation, on exact integer counts, so no sum-order float
    drift exists to pin, and one final round(6) seals the comparison.
    ``anomalous`` flags chi2 above the df=8, alpha=.05 critical value.

    Scale shape: ONE scan of events, one partial-agg-friendly
    groupBy(event_type, digit) whose state is at most (types x 9)
    rows; the grid join and chi-square run on that tiny relation.
    At 100 TB this is a metadata-priced audit riding a single pass.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = ev.where(F.col("value").isNotNull() & (F.abs("value") >= 1)).select(
        "event_type",
        F.substring(
            F.floor(F.abs("value")).cast("long").cast("string"), 1, 1
        ).alias("digit"),
    )
    cnt = vals.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_d")
    )
    tot = cnt.groupBy("event_type").agg(F.sum("n_d").cast("long").alias("n_vals"))
    digits = spark.range(1, 10).select(
        F.col("id").cast("string").alias("digit"),
        F.log10(1.0 + 1.0 / F.col("id")).alias("p"),
    )
    grid = (
        tot.crossJoin(F.broadcast(digits))
        .join(cnt, ["event_type", "digit"], "left")
        .select(
            "event_type",
            "n_vals",
            "digit",
            "p",
            F.coalesce("n_d", F.lit(0)).cast("long").alias("n_d"),
        )
    )
    dev = F.col("n_d") - F.col("n_vals") * F.col("p")
    chi2 = F.round(F.sum(dev * dev / (F.col("n_vals") * F.col("p"))), 6)
    return grid.groupBy("event_type").agg(
        F.max("n_vals").alias("n_vals"),
        chi2.alias("chi2"),
        (chi2 > _BENFORD_CRIT).alias("anomalous"),
        F.round(
            F.max(F.when(F.col("digit") == "1", F.col("n_d")))
            / F.max("n_vals").cast("double"),
            6,
        ).alias("p_leading_1"),
    )


#: Mann-Whitney / KS cohort split: the same deterministic hash-split
#: arms as the chi-square guardrail.
_MWU_KS_ALPHA_Z = 1.96  # two-sided 5% normal critical value
_KS_COEFF = 1.358  # two-sample KS 5% coefficient (same as CUSUM)

_RANK_HIST_SQL = """
h AS (
  SELECT event_type, value AS v,
         count(*) FILTER (user_id % 2 = 0)::BIGINT AS c0,
         count(*) FILTER (user_id % 2 = 1)::BIGINT AS c1
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, v, c0, c1,
         coalesce(sum(c0 + c1) OVER (
             PARTITION BY event_type ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_all,
         sum(c0) OVER (PARTITION BY event_type ORDER BY v) AS f0,
         sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS f1
  FROM h
),
tot AS (
  SELECT event_type, sum(c0)::BIGINT AS n0, sum(c1)::BIGINT AS n1
  FROM h GROUP BY 1
)"""


@query(
    "events_mannwhitney_u",
    oracle=f"""
WITH {_RANK_HIST_SQL},
rsum AS (
  SELECT event_type,
         CAST(sum(CAST(c0 * (before_all + (c0 + c1 + 1) / 2.0)
                       AS DECIMAL(30,1))) AS DOUBLE) AS r0,
         CAST(sum(CAST((c0 + c1) AS DECIMAL(38,0))
                  * (c0 + c1) * (c0 + c1)
                  - (c0 + c1)) AS DOUBLE) AS tie_cubes
  FROM cum GROUP BY 1
),
st AS (
  SELECT t.event_type, t.n0, t.n1,
         r.r0 - t.n0 * (t.n0 + 1) / 2.0 AS u0,
         CAST(t.n0 AS DOUBLE) * t.n1 / 2.0 AS mu,
         CAST(t.n0 AS DOUBLE) * t.n1
           / (CAST(t.n0 + t.n1 AS DOUBLE) * (t.n0 + t.n1 - 1))
           * ((CAST(t.n0 + t.n1 AS DOUBLE) * (t.n0 + t.n1) * (t.n0 + t.n1)
               - (t.n0 + t.n1)) / 12.0
              - r.tie_cubes / 12.0) AS var,
         r.tie_cubes
  FROM tot t JOIN rsum r USING (event_type)
)
SELECT event_type, n0, n1,
       round(u0, 1) AS u0,
       round((u0 - mu) / sqrt(var), 6) AS z,
       abs(round((u0 - mu) / sqrt(var), 6)) > {_MWU_KS_ALPHA_Z} AS significant
FROM st
""",
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the hash-split cohorts per
    event type — the NON-PARAMETRIC sibling of `events_abtest_welch`
    (detects any stochastic-dominance shift, not just a mean shift),
    with the tie-corrected normal approximation.

    Ranks at 100 TB without a global sort: the same VALUE-HISTOGRAM
    device as `feature_quantile_binning` — the log collapses to
    per-(type, value) split counts (bounded by the 2-dp value domain),
    and every tied observation's average rank is before_all +
    (t_v+1)/2, so the rank sum needs one window pass over the
    domain-bounded histogram, never over rows. Rank-sum terms are
    half-integers, exactly representable — DECIMAL(30,1)-cast before
    summing so the reduction is order-free; the tie-correction
    Σ(t³−t) rides DECIMAL(38,0). The z pipeline is arithmetic on
    exact BIGINTs written identically on both engines; the
    significance flag compares the ROUNDED z."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count_if(F.col("user_id") % 2 == 0).cast("long").alias("c0"),
        F.count_if(F.col("user_id") % 2 == 1).cast("long").alias("c1"),
    )
    h = track(h)
    wprev = (
        W.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    t = F.col("c0") + F.col("c1")
    cum = h.select(
        "event_type",
        "c0",
        "c1",
        F.coalesce(F.sum(t).over(wprev), F.lit(0)).alias("before_all"),
    )
    rsum = cum.groupBy("event_type").agg(
        F.sum(
            (
                F.col("c0")
                * (F.col("before_all") + (F.col("c0") + F.col("c1") + 1) / 2.0)
            ).cast("decimal(30,1)")
        )
        .cast("double")
        .alias("r0"),
        F.sum(
            t.cast("decimal(38,0)") * t * t - t
        )
        .cast("double")
        .alias("tie_cubes"),
    )
    tot = h.groupBy("event_type").agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    n0d = F.col("n0").cast("double")
    nd = (F.col("n0") + F.col("n1")).cast("double")
    u0 = F.col("r0") - F.col("n0") * (F.col("n0") + 1) / 2.0
    mu = n0d * F.col("n1") / 2.0
    var = (
        n0d
        * F.col("n1")
        / (nd * (F.col("n0") + F.col("n1") - 1))
        * (
            (nd * (F.col("n0") + F.col("n1")) * (F.col("n0") + F.col("n1"))
             - (F.col("n0") + F.col("n1"))) / 12.0
            - F.col("tie_cubes") / 12.0
        )
    )
    z = F.round((u0 - mu) / F.sqrt(var), 6)
    return (
        tot.join(rsum, "event_type")
        .select(
            "event_type",
            "n0",
            "n1",
            F.round(u0, 1).alias("u0"),
            z.alias("z"),
            (F.abs(z) > _MWU_KS_ALPHA_Z).alias("significant"),
        )
    )


@query(
    "events_ks_test",
    oracle=f"""
WITH {_RANK_HIST_SQL},
d AS (
  SELECT c.event_type,
         max(abs(CAST(c.f0 AS DOUBLE) / t.n0
                 - CAST(c.f1 AS DOUBLE) / t.n1)) AS d
  FROM cum c JOIN tot t USING (event_type)
  GROUP BY 1
)
SELECT t.event_type, t.n0, t.n1,
       round(d.d, 6) AS ks_d,
       round({_KS_COEFF} * sqrt(CAST(t.n0 + t.n1 AS DOUBLE)
                                / (CAST(t.n0 AS DOUBLE) * t.n1)), 6)
         AS crit_05,
       round(d.d, 6) > round({_KS_COEFF} * sqrt(CAST(t.n0 + t.n1 AS DOUBLE)
                             / (CAST(t.n0 AS DOUBLE) * t.n1)), 6)
         AS rejected
FROM tot t JOIN d USING (event_type)
""",
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distribution test between the
    hash-split cohorts per event type: D = max |F0(v) - F1(v)| with
    the 5% critical value 1.358*sqrt(N/(n0*n1)) — the whole-shape
    drift detector that complements `quality_drift_psi` (PSI needs
    binning choices; KS is binning-free) and the location-only tests.

    Same scale shape as `events_mannwhitney_u`: empirical CDFs are
    running sums over the domain-bounded value histogram, so the max
    deviation is one window pass + one max — no global sort, no
    per-row work. D is a MAX of identically-computed doubles (order-
    free by construction, no decimal carrier needed); the verdict
    compares ROUNDED statistic to ROUNDED critical value so the flag
    and the emitted numbers can never disagree across engines."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count_if(F.col("user_id") % 2 == 0).cast("long").alias("c0"),
        F.count_if(F.col("user_id") % 2 == 1).cast("long").alias("c1"),
    )
    h = track(h)
    wrun = (
        W.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = h.select(
        "event_type",
        F.sum("c0").over(wrun).alias("f0"),
        F.sum("c1").over(wrun).alias("f1"),
    )
    tot = h.groupBy("event_type").agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    d = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("f0").cast("double") / F.col("n0")
                    - F.col("f1").cast("double") / F.col("n1")
                )
            ).alias("d")
        )
    )
    crit = F.round(
        _KS_COEFF
        * F.sqrt(
            (F.col("n0") + F.col("n1")).cast("double")
            / (F.col("n0").cast("double") * F.col("n1"))
        ),
        6,
    )
    return tot.join(d, "event_type").select(
        "event_type",
        "n0",
        "n1",
        F.round("d", 6).alias("ks_d"),
        crit.alias("crit_05"),
        (F.round("d", 6) > crit).alias("rejected"),
    )


#: rolling-origin backtest: one-step-ahead naive (lag-1) vs
#: seasonal-naive (lag-7) forecasts, scored on every day both exist.
BT_SEASON = 7


@query(
    "ts_backtest_rolling",
    oracle=f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, y,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS f_naive,
         lag(y, {BT_SEASON}) OVER (PARTITION BY event_type ORDER BY day)
           AS f_snaive
  FROM daily
),
scored AS (
  SELECT event_type,
         count(*)::BIGINT AS n_eval,
         CAST(sum(CAST(abs(y - f_naive) AS DECIMAL(18,2))) AS DOUBLE)
           / count(*) AS mae_naive,
         CAST(sum(CAST(abs(y - f_snaive) AS DECIMAL(18,2))) AS DOUBLE)
           / count(*) AS mae_snaive,
         CAST(sum(CAST(abs(y - f_naive) / y AS DECIMAL(30,12))) AS DOUBLE)
           / count(*) AS mape_naive,
         CAST(sum(CAST(abs(y - f_snaive) / y AS DECIMAL(30,12))) AS DOUBLE)
           / count(*) AS mape_snaive
  FROM lagged WHERE f_snaive IS NOT NULL
  GROUP BY 1
)
SELECT event_type, n_eval,
       round(mae_naive, 6) AS mae_naive,
       round(mae_snaive, 6) AS mae_snaive,
       round(mape_naive, 6) AS mape_naive,
       round(mape_snaive, 6) AS mape_snaive,
       CASE WHEN round(mae_snaive, 6) < round(mae_naive, 6)
            THEN 'seasonal_naive' ELSE 'naive' END AS winner
FROM scored
""",
)
def ts_backtest_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest: one-step-ahead naive (carry
    yesterday) vs seasonal-naive (carry last week's same day) scored
    by MAE and MAPE over every evaluable day — the evaluation harness
    that tells you whether the forecasting ladder (`events_ewma`,
    `ts_brown_des_forecast`, `ts_holt_winters`) is even beating the
    no-model baselines, and the standard protocol (forecast at t uses
    only data < t — here literally a lag).

    Scale shape: daily rollup (one map-side-combined shuffle), one
    per-type lag window over the calendar-bounded series, one final
    reduction. Absolute errors of 2-dp inputs are exact
    DECIMAL(18,2); MAPE ratio terms are doubles computed identically
    and DECIMAL(30,12)-cast before the order-free sum; the winner
    verdict compares ROUNDED MAEs so verdict and statistics never
    disagree across engines."""
    from .relational import dsum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(dsum("value").alias("y"))
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("f_naive"),
        F.lag("y", BT_SEASON).over(w).alias("f_snaive"),
    ).filter(F.col("f_snaive").isNotNull())
    scored = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        (
            F.sum(F.abs(F.col("y") - F.col("f_naive")).cast("decimal(18,2)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mae_naive"),
        (
            F.sum(F.abs(F.col("y") - F.col("f_snaive")).cast("decimal(18,2)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mae_snaive"),
        (
            F.sum(
                (F.abs(F.col("y") - F.col("f_naive")) / F.col("y")).cast(
                    "decimal(30,12)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mape_naive"),
        (
            F.sum(
                (F.abs(F.col("y") - F.col("f_snaive")) / F.col("y")).cast(
                    "decimal(30,12)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mape_snaive"),
    )
    return scored.select(
        "event_type",
        "n_eval",
        F.round("mae_naive", 6).alias("mae_naive"),
        F.round("mae_snaive", 6).alias("mae_snaive"),
        F.round("mape_naive", 6).alias("mape_naive"),
        F.round("mape_snaive", 6).alias("mape_snaive"),
        F.when(
            F.round("mae_snaive", 6) < F.round("mae_naive", 6),
            "seasonal_naive",
        )
        .otherwise("naive")
        .alias("winner"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
),
aged AS (
  SELECT f.cohort_week,
         CAST(floor(date_diff('day', f.cohort_week, e.ts) / 7.0) AS BIGINT)
           AS age_weeks,
         e.user_id, e.value
  FROM events e JOIN firsts f USING (user_id)
),
grid AS (
  SELECT cohort_week, age_weeks,
         count(DISTINCT user_id)::BIGINT AS n_active,
         sum(CAST(value AS DECIMAL(18,2))) AS rev
  FROM aged GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, count(*)::BIGINT AS cohort_size FROM firsts GROUP BY 1
)
SELECT g.cohort_week, g.age_weeks, s.cohort_size, g.n_active,
       CAST(g.rev AS DOUBLE) AS revenue,
       round(CAST(sum(g.rev) OVER (PARTITION BY g.cohort_week
                                   ORDER BY g.age_weeks) AS DOUBLE)
             / s.cohort_size, 6) AS cum_ltv_per_user
FROM grid g JOIN sizes s USING (cohort_week)
""",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week,
    revenue accumulated by cohort age, normalized per original cohort
    member — the LTV readout that extends `events_retention_cohort`
    (who comes back) with HOW MUCH they bring back, and the payback
    curve a training-data budget holder reads before buying another
    source.

    Scale shape: first-seen per user is one map-side-combined min;
    the age join shuffles on user_id once; the (cohort x age) grid is
    CALENDAR-BOUNDED (weeks x weeks, regardless of corpus size), so
    the cumulative-LTV window runs over the tiny grid, partitioned
    per cohort. Revenue rides DECIMAL(18,2) end-to-end — the window's
    decimal running sum is exact, divided by the exact BIGINT cohort
    size identically on both engines."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    aged = ev.join(firsts, "user_id").select(
        "cohort_week",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.col("cohort_week"))
            / 7.0
        )
        .cast("long")
        .alias("age_weeks"),
        "user_id",
        "value",
    )
    grid = aged.groupBy("cohort_week", "age_weeks").agg(
        F.countDistinct("user_id").cast("long").alias("n_active"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"),
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    wcum = (
        W.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        grid.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "cohort_size",
            "n_active",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                F.sum("rev").over(wcum).cast("double") / F.col("cohort_size"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


#: calibration: probability-bin count and the synthetic scorer's
#: logistic scale (a fixed, documented model under audit).
ECE_BINS = 10


@query(
    "classifier_calibration_ece",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         round(1.0 / (1.0 + exp(-(value - 50.0) / 20.0)), 8) AS p
  FROM events WHERE value IS NOT NULL
),
binned AS (
  SELECT least(CAST(floor(p * {ECE_BINS}) AS BIGINT), {ECE_BINS - 1}) AS bin,
         y, p
  FROM scored
),
b AS (
  SELECT bin, count(*)::BIGINT AS n,
         sum(y)::BIGINT AS n_pos,
         CAST(sum(CAST(p AS DECIMAL(20,8))) AS DOUBLE) AS sum_p
  FROM binned GROUP BY 1
),
tot AS (SELECT sum(n)::BIGINT AS nn FROM b)
SELECT b.bin, b.n,
       round(b.sum_p / b.n, 6) AS avg_conf,
       round(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS frac_pos,
       round(abs(b.sum_p / b.n - CAST(b.n_pos AS DOUBLE) / b.n)
             * b.n / tot.nn, 6) AS ece_term
FROM b, tot
""",
)
def classifier_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit (reliability table + Expected Calibration
    Error terms) for a probabilistic classifier: {ECE_BINS} equal-width
    confidence bins, each reporting predicted confidence vs observed
    positive rate, with its weighted |gap| ECE contribution — the
    eval-harness rung for the classifier family (train/score ship
    elsewhere; this measures whether the scores MEAN what they say,
    which gates using them as sampling weights in a curation
    pipeline). The scorer under audit is a fixed logistic link on
    `value` against the purchase outcome — deterministic, so the
    reliability table is oracle-checkable end to end.

    Plan: one scan -> score + bin in codegen -> one map-side-combined
    aggregate to {ECE_BINS} rows; everything after is arithmetic on
    the bin relation. Probabilities round at 8 before DECIMAL
    summation, so avg-confidence is order-free; ECE terms are emitted
    per bin (sum them for the scalar) to keep the row shape
    diagnostic."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50.0) / 20.0)), 8
    )
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        p.alias("p"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("p") * ECE_BINS).cast("long"), F.lit(ECE_BINS - 1)
        ).alias("bin"),
        "y",
        "p",
    )
    b = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.col("p").cast("decimal(20,8)")).cast("double").alias("sum_p"),
    )
    tot = b.agg(F.sum("n").cast("long").alias("nn"))
    conf = F.col("sum_p") / F.col("n")
    acc = F.col("n_pos").cast("double") / F.col("n")
    return b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        F.round(conf, 6).alias("avg_conf"),
        F.round(acc, 6).alias("frac_pos"),
        F.round(F.abs(conf - acc) * F.col("n") / F.col("nn"), 6).alias(
            "ece_term"
        ),
    )


@query(
    "quality_referential_integrity",
    oracle="""
SELECT 'orders->customer' AS relationship,
       (SELECT count(*) FROM orders)::BIGINT AS n_child,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))::BIGINT
         AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       (SELECT count(*) FROM lineitem)::BIGINT,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))::BIGINT
UNION ALL
SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem)::BIGINT,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))::BIGINT
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem)::BIGINT,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))::BIGINT
""",
)
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts for the
    four fact->dimension foreign-key edges — the data-quality gate
    `quality_expectations` (single-table constraints) cannot see, and
    the first thing a warehouse migration validates after a load
    (etl_partition_checksums' sibling: that one proves content
    parity, this one proves JOIN-ability).

    Plan: each edge is one LEFT ANTI join (Catalyst turns it into a
    broadcast/shuffled hash anti join — never a per-row subquery)
    reduced to a count; child totals are plain counts; the four
    verdict rows union. At 100 TB each anti join shuffles on the FK,
    exactly like the production join it certifies, and dimension
    sides broadcast when small."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    def edge(name, child, child_key, parent, parent_key):
        orphans = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        total = child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        return (
            total.crossJoin(orphans)
            .select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )

    return (
        edge("orders->customer", o, "o_custkey", cust, "c_custkey")
        .unionAll(edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
        .unionAll(edge("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionAll(
            edge("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey")
        )
    )


CROSTON_ALPHA = 0.2  # SES smoothing for both demand-size and interval


@query(
    "ts_croston_forecast",
    oracle=f"""
WITH demand AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(*)::DOUBLE AS q
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
seq AS (
  SELECT user_id, day, q,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS j,
         count(*) OVER (PARTITION BY user_id) AS m,
         coalesce(day - lag(day) OVER (PARTITION BY user_id ORDER BY day),
                  1)::DOUBLE AS i
  FROM demand
),
weighted AS (
  SELECT user_id, m,
         CASE WHEN j = 1 THEN power({1 - CROSTON_ALPHA}, m - 1)
              ELSE {CROSTON_ALPHA} * power({1 - CROSTON_ALPHA}, m - j)
         END AS w, q, i
  FROM seq
),
fit AS (
  SELECT user_id, m::BIGINT AS n_demand_days,
         CAST(sum(CAST(w * q AS DECIMAL(38,18))) AS DOUBLE) AS z,
         CAST(sum(CAST(w * i AS DECIMAL(38,18))) AS DOUBLE) AS p
  FROM weighted GROUP BY user_id, m
)
SELECT user_id, n_demand_days,
       round(z, 6) AS z_level,
       round(p, 6) AS p_interval,
       round(z / p, 6) AS croston_forecast,
       round((1.0 - {CROSTON_ALPHA} / 2.0) * z / p, 6) AS sba_forecast
FROM fit
""",
)
def ts_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972) plus the
    Syntetos-Boylan bias correction (SBA, 2005): per user, SES over
    the sizes of nonzero purchase days and SES over the intervals
    between them; forecast = z/p (SBA scales by 1 - alpha/2). The
    forecasting ladder's sparse rung — EWMA/DES/Holt-Winters assume a
    dense series, but purchase-per-customer (or demand-per-SKU) series
    are mostly zeros, where smoothing the zeros drives forecasts to
    meaningless near-zero levels; Croston smooths WHEN and HOW MUCH
    separately.

    Both SES recursions unroll exactly: z_m = (1-a)^(m-1) q_1 +
    sum_{{j>=2}} a (1-a)^(m-j) q_j — a per-event weighted sum by demand
    index, so the whole operator is one daily rollup shuffle, one
    window pass (index, interval, series length), and one
    DECIMAL-summed aggregate; no recursion survives into the plan
    (the events_ewma device, exact rather than truncated because the
    weights depend only on j and m). First interval takes the
    conventional i_1 = 1. At 100 TB state is demand-event-sized, never
    calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    demand = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("q"))
    )
    wspec = W.partitionBy("user_id").orderBy("day")
    seq = demand.select(
        "user_id",
        "day",
        "q",
        F.row_number().over(wspec).alias("j"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("m"),
        F.coalesce(
            (F.col("day") - F.lag("day").over(wspec)).cast("double"),
            F.lit(1.0),
        ).alias("i"),
    )
    a = CROSTON_ALPHA
    wcol = F.when(F.col("j") == 1, F.pow(F.lit(1 - a), F.col("m") - 1)).otherwise(
        F.lit(a) * F.pow(F.lit(1 - a), F.col("m") - F.col("j"))
    )
    fit = (
        seq.select("user_id", "m", wcol.alias("w"), "q", "i")
        .groupBy("user_id", "m")
        .agg(
            F.sum((F.col("w") * F.col("q")).cast("decimal(38,18)"))
            .cast("double")
            .alias("z"),
            F.sum((F.col("w") * F.col("i")).cast("decimal(38,18)"))
            .cast("double")
            .alias("p"),
        )
    )
    return fit.select(
        "user_id",
        F.col("m").cast("long").alias("n_demand_days"),
        F.round("z", 6).alias("z_level"),
        F.round("p", 6).alias("p_interval"),
        F.round(F.col("z") / F.col("p"), 6).alias("croston_forecast"),
        F.round(F.lit(1.0 - a / 2.0) * F.col("z") / F.col("p"), 6).alias(
            "sba_forecast"
        ),
    )


RR_TRUTH_PCT = 75  # Warner coin: report the truth with this probability


@query(
    "privacy_randomized_response",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS sensitive,
         user_id % 4 AS panel
  FROM events GROUP BY user_id
),
reported AS (
  SELECT panel, sensitive,
         CASE WHEN ('0x' || substr(md5('rr:' || user_id), 1, 8))::UBIGINT
                   % 100 < {RR_TRUTH_PCT}
              THEN sensitive ELSE 1 - sensitive END AS answer
  FROM users
)
SELECT panel::BIGINT AS panel,
       count(*)::BIGINT AS n_users,
       sum(answer)::BIGINT AS n_reported_yes,
       round(avg(answer::DOUBLE), 6) AS reported_rate,
       round((avg(answer::DOUBLE) + {RR_TRUTH_PCT / 100.0} - 1.0)
             / (2.0 * {RR_TRUTH_PCT / 100.0} - 1.0), 6) AS debiased_rate,
       round(avg(sensitive::DOUBLE), 6) AS true_rate
FROM reported GROUP BY panel
""",
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner's randomized response (1965) — the privacy ladder's
    local-DP rung, below the central-DP Laplace counts: each user
    reports their sensitive bit (here: ever hit an error) truthfully
    with p={RR_TRUTH_PCT}%, flipped otherwise, and the analyst
    debiases the panel rate as (lambda + p - 1)/(2p - 1). Reported
    answers satisfy epsilon = ln(p/(1-p)) local DP; no raw bit ever
    leaves the user row. Emitted per panel with the true rate
    alongside, so the debiasing error is auditable.

    The coin is the salted-md5 device every seeded operator here uses
    (`sample_stable_hash`, the minhash family): deterministic across
    runs, engines, and partitionings — the property that makes the
    mechanism oracle-checkable at all (a true RNG cannot be; the same
    caveat as `privacy_dp_count_laplace` documents). Plan: one
    per-user aggregate, one coin projection, one panel aggregate —
    two map-side-combined shuffles, state panel-sized."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("sensitive"),
    ).select(
        "user_id", "sensitive", (F.col("user_id") % 4).alias("panel")
    )
    coin = (
        F.conv(F.substring(F.md5(F.concat(F.lit("rr:"), F.col("user_id"))), 1, 8), 16, 10)
        .cast("long")
        % 100
        < RR_TRUTH_PCT
    )
    reported = users.select(
        "panel",
        "sensitive",
        F.when(coin, F.col("sensitive"))
        .otherwise(1 - F.col("sensitive"))
        .alias("answer"),
    )
    p = RR_TRUTH_PCT / 100.0
    return reported.groupBy("panel").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("answer").cast("long").alias("n_reported_yes"),
        F.round(F.avg(F.col("answer").cast("double")), 6).alias("reported_rate"),
        F.round(
            (F.avg(F.col("answer").cast("double")) + p - 1.0) / (2.0 * p - 1.0),
            6,
        ).alias("debiased_rate"),
        F.round(F.avg(F.col("sensitive").cast("double")), 6).alias("true_rate"),
    ).select(
        F.col("panel").cast("long").alias("panel"),
        "n_users",
        "n_reported_yes",
        "reported_rate",
        "debiased_rate",
        "true_rate",
    )


DID_CUTOVER = "2024-01-16"  # post period starts here (mid-range)


@query(
    "events_did_estimator",
    oracle=f"""
WITH cells AS (
  SELECT user_id % 2 AS treated,
         CASE WHEN ts >= TIMESTAMP '{DID_CUTOVER}' THEN 1 ELSE 0 END AS post,
         value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
means AS (
  SELECT treated::BIGINT AS treated, post::BIGINT AS post,
         count(*)::BIGINT AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
           AS mean_value
  FROM cells GROUP BY 1, 2
)
SELECT m.treated, m.post, m.n, m.mean_value,
       round(
         (SELECT mean_value FROM means WHERE treated = 1 AND post = 1)
       - (SELECT mean_value FROM means WHERE treated = 1 AND post = 0)
       - (SELECT mean_value FROM means WHERE treated = 0 AND post = 1)
       + (SELECT mean_value FROM means WHERE treated = 0 AND post = 0), 6)
         AS did_effect
FROM means m
""",
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2x2 (treated x post) cell means
    of purchase value around a cutover date, plus the DiD interaction
    effect (T1P1 - T1P0) - (T0P1 - T0P0) — the workhorse causal
    estimator when randomization isn't available and the parallel-
    trends assumption stands in for it. Completes the experimentation
    family next to the randomized readouts (`events_abtest_welch`,
    `events_uplift_cuped`).

    Plan: ONE map-side-combined aggregate to 4 cells (means
    DECIMAL-summed then rounded so both engines agree bit-for-bit),
    then the scalar effect broadcast back onto the cell rows — no
    row-level second pass. At 100 TB this is a single scan however
    many rows the event log has."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 2).cast("long").alias("treated"),
        F.when(F.col("ts") >= F.lit(DID_CUTOVER).cast("timestamp_ntz"), 1)
        .otherwise(0)
        .cast("long")
        .alias("post"),
        "value",
    )
    means = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_value"),
    ).transform(track)  # cell rows + the 4-way effect pivot
    cell = {
        (t, p): F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("mean_value"),
            )
        )
        for t in (0, 1)
        for p in (0, 1)
    }
    effect = means.agg(
        F.round(
            cell[(1, 1)] - cell[(1, 0)] - cell[(0, 1)] + cell[(0, 0)], 6
        ).alias("did_effect")
    )
    return means.crossJoin(F.broadcast(effect)).select(
        "treated", "post", "n", "mean_value", "did_effect"
    )


SPRT_P0 = 0.28  # null conversion rate
SPRT_P1 = 0.32  # alternative (minimum detectable) conversion rate
SPRT_ALPHA = 0.05
SPRT_BETA = 0.2


def _sprt_oracle() -> str:
    import math

    la = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    lb = math.log(SPRT_BETA / (1 - SPRT_ALPHA))
    win = math.log(SPRT_P1 / SPRT_P0)
    lose = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    return f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
           ::BIGINT AS conv,
         count(DISTINCT user_id)::BIGINT AS n
  FROM events GROUP BY 1
),
cum AS (
  SELECT day, conv, n,
         sum(conv) OVER w AS cum_conv,
         sum(n - conv) OVER w AS cum_fail
  FROM daily WINDOW w AS (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, cum_conv::BIGINT AS cum_conv, cum_fail::BIGINT AS cum_fail,
       round(cum_conv * {win!r} + cum_fail * {lose!r}, 6) AS llr,
       CASE WHEN cum_conv * {win!r} + cum_fail * {lose!r} >= {la!r}
              THEN 'accept_h1'
            WHEN cum_conv * {win!r} + cum_fail * {lose!r} <= {lb!r}
              THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
"""


@query("events_sprt_sequential", oracle=_sprt_oracle())
def events_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (SPRT, 1945) on the
    daily conversion stream: cumulative log-likelihood ratio of
    H1: p={SPRT_P1} vs H0: p={SPRT_P0} over per-day distinct
    converters / visitors, with the alpha={SPRT_ALPHA},
    beta={SPRT_BETA} decision boundaries — the always-valid
    peek-any-day monitor that fixed-horizon tests (`events_abtest_welch`)
    forbid. Each day carries its running LLR and the three-way
    decision (accept H1 / accept H0 / continue), so the readout IS the
    sequential chart a dashboard draws.

    The LLR is linear in cumulative successes and failures, so the
    whole test is one daily-rollup aggregate plus one cumulative-sum
    window over the CALENDAR-bounded day relation — the recursion-free
    spelling (same reason CUSUM distributes); constants ln(p1/p0) etc.
    are compile-time Python floats embedded identically in both
    engines' plans."""
    import math

    la = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    lb = math.log(SPRT_BETA / (1 - SPRT_ALPHA))
    win = math.log(SPRT_P1 / SPRT_P0)
    lose = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day")
    ).agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        )
        .cast("long")
        .alias("conv"),
        F.countDistinct("user_id").cast("long").alias("n"),
    )
    # global-ok: daily rollup, calendar-bounded
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("conv").over(w).cast("long").alias("cum_conv"),
        F.sum(F.col("n") - F.col("conv")).over(w).cast("long").alias("cum_fail"),
    )
    llr = F.col("cum_conv") * win + F.col("cum_fail") * lose
    return cum.select(
        "day",
        "cum_conv",
        "cum_fail",
        F.round(llr, 6).alias("llr"),
        F.when(llr >= la, "accept_h1")
        .when(llr <= lb, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


FUNNEL_WINDOW_DAYS = 3  # each later step must land within this of step 1


@query(
    "events_window_funnel",
    oracle=f"""
WITH u1 AS (
  SELECT user_id, min(ts) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
u2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN u1 ON e.user_id = u1.user_id
  WHERE e.event_type = 'click' AND e.ts > u1.t1
    AND e.ts <= u1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id
),
u3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e
  JOIN u2 ON e.user_id = u2.user_id
  JOIN u1 ON e.user_id = u1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
    AND e.ts <= u1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id
),
levels AS (
  SELECT u1.user_id,
         CASE WHEN u3.user_id IS NOT NULL THEN 3
              WHEN u2.user_id IS NOT NULL THEN 2
              ELSE 1 END AS funnel_level
  FROM u1
  LEFT JOIN u2 ON u1.user_id = u2.user_id
  LEFT JOIN u3 ON u1.user_id = u3.user_id
)
SELECT funnel_level::BIGINT AS funnel_level,
       count(*)::BIGINT AS n_users,
       round(count(*)::DOUBLE / (SELECT count(*) FROM u1), 6) AS pct_of_entered
FROM levels GROUP BY funnel_level
""",
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT time-bounded conversion funnel (the ClickHouse
    windowFunnel semantic, earliest-greedy matching): view -> click ->
    purchase where every later step must occur AFTER the previous
    step's earliest match and within {FUNNEL_WINDOW_DAYS} days of the
    FIRST step. `events_funnel` is the loose any-order-any-time form;
    this is the one product analysts mean when they say \"the 3-day
    funnel\" — ordering and the window both bind, so a purchase before
    the click or a click a week later does not convert.

    Plan: three user-keyed conditional-min aggregates chained by
    user-keyed joins (earliest-greedy needs the PREVIOUS step's
    timestamp, so the chain is inherent — but each stage is one
    map-side-combined aggregate and every join is on the same user
    key, so at scale all stages ride one hash partitioning with zero
    extra shuffles); the level rollup is a 3-row aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).transform(track)  # three step passes read it
    u1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(track)  # step-2/3 joins + the entered-count scalar
    )
    horizon = F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")
    u2 = (
        ev.where(F.col("event_type") == "click")
        .join(u1, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    u3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(u2, "user_id")
        .join(u1, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    levels = (
        u1.join(u2.select("user_id", F.lit(2).alias("l2")), "user_id", "left")
        .join(u3.select("user_id", F.lit(3).alias("l3")), "user_id", "left")
        .select(
            F.coalesce("l3", "l2", F.lit(1)).cast("long").alias("funnel_level")
        )
    )
    entered = u1.agg(F.count(F.lit(1)).cast("double").alias("n_entered"))
    return (
        levels.groupBy("funnel_level")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .crossJoin(F.broadcast(entered))
        .select(
            "funnel_level",
            "n_users",
            F.round(F.col("n_users") / F.col("n_entered"), 6).alias(
                "pct_of_entered"
            ),
        )
    )


#: Shapley channels: the four non-purchase event types (bit positions).
SHAPLEY_CHANNELS = ("view", "click", "signup", "error")


def _shapley_oracle() -> str:
    import math

    n = len(SHAPLEY_CHANNELS)
    bit = {ch: 1 << i for i, ch in enumerate(SHAPLEY_CHANNELS)}
    mask_expr = " + ".join(
        f"max(CASE WHEN pre.event_type = '{ch}' THEN {bit[ch]} ELSE 0 END)"
        for ch in SHAPLEY_CHANNELS
    )
    # closed-form Shapley over the 2^n coalition-value relation
    terms = {ch: [] for ch in SHAPLEY_CHANNELS}
    for ch in SHAPLEY_CHANNELS:
        i = bit[ch]
        for S in range(1 << n):
            if S & i:
                continue
            w = (
                math.factorial(bin(S).count("1"))
                * math.factorial(n - bin(S).count("1") - 1)
                / math.factorial(n)
            )
            terms[ch].append(
                f"{w!r} * ((SELECT v FROM coal WHERE s = {S | i})"
                f" - (SELECT v FROM coal WHERE s = {S}))"
            )
    phi_rows = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, round({' + '.join(terms[ch])}, 6) AS shapley_value"
        for ch in SHAPLEY_CHANNELS
    )
    return f"""
WITH conv AS (
  SELECT user_id, min(ts) AS t_conv
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
journeys AS (
  SELECT c.user_id, {mask_expr} AS mask
  FROM conv c
  LEFT JOIN events pre
    ON pre.user_id = c.user_id AND pre.ts < c.t_conv
   AND pre.event_type IN ({", ".join(f"'{ch}'" for ch in SHAPLEY_CHANNELS)})
  GROUP BY c.user_id
),
subsets AS (SELECT unnest(range(0, {1 << n})) AS s),
coal AS (
  SELECT s.s, count(j.user_id)::DOUBLE AS v
  FROM subsets s
  LEFT JOIN journeys j ON (j.mask & s.s) = j.mask
  GROUP BY s.s
)
{phi_rows}
"""


@query("events_shapley_attribution", oracle=_shapley_oracle())
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953, the
    data-driven attribution Google Analytics shipped): each converting
    user's pre-conversion touchpoint SET is a coalition; the
    characteristic value v(S) counts conversions whose touchset is
    contained in S; each channel's credit is its exact Shapley value
    sum_S |S|!(n-|S|-1)!/n! * (v(S+i) - v(S)). The cooperative-game
    complement of `events_markov_attribution`'s removal effects — the
    two standard data-driven attribution answers, now both first-class.

    Exactness is affordable because the game lives on CHANNELS, not
    users: journeys collapse to a 4-bit mask per converter (one
    aggregate), v() is one containment join of the 16-row coalition
    table against the mask relation, and the factorial-weighted sums
    are compile-time constants over 16 rows. At 100 TB only the
    journey collapse touches data; everything after is literally 16
    rows. (Beyond ~10 channels exact Shapley explodes combinatorially;
    the standard fallback is permutation sampling — out of scope since
    seeded sampling breaks oracle determinism.)"""
    import math

    n = len(SHAPLEY_CHANNELS)
    bit = {ch: 1 << i for i, ch in enumerate(SHAPLEY_CHANNELS)}
    ev = load_table(spark, sf_dir, "events").transform(track)
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    pre = ev.where(F.col("event_type").isin(*SHAPLEY_CHANNELS)).select(
        "user_id", "event_type", "ts"
    )
    mask = None
    for ch in SHAPLEY_CHANNELS:
        m = F.max(
            F.when(F.col("event_type") == ch, bit[ch]).otherwise(0)
        )
        mask = m if mask is None else mask + m
    journeys = (
        conv.join(
            pre.withColumnRenamed("user_id", "uid"),
            (F.col("uid") == F.col("user_id")) & (F.col("ts") < F.col("t_conv")),
            "left",
        )
        .groupBy("user_id")
        .agg(mask.alias("mask"))
    )
    subsets = spark.range(1 << n).select(F.col("id").cast("int").alias("s"))
    coal = (
        subsets.join(
            F.broadcast(journeys),
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.count("user_id").cast("double").alias("v"))
        .transform(track)  # n pivoted reads below
    )
    # pivot the 16-row coalition table to one wide row, then compute
    # each channel's factorial-weighted sum as a literal expression
    wide = coal.groupBy().pivot("s", list(range(1 << n))).agg(F.first("v"))
    rows = []
    for ch in SHAPLEY_CHANNELS:
        i = bit[ch]
        expr = None
        for S in range(1 << n):
            if S & i:
                continue
            k = bin(S).count("1")
            w = (
                math.factorial(k)
                * math.factorial(n - k - 1)
                / math.factorial(n)
            )
            term = F.lit(w) * (F.col(str(S | i)) - F.col(str(S)))
            expr = term if expr is None else expr + term
        rows.append(
            wide.select(
                F.lit(ch).alias("channel"),
                F.round(expr, 6).alias("shapley_value"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


SES_ALPHAS = (0.2, 0.35, 0.5, 0.65, 0.8)  # grid for one-step selection


def _ses_select_oracle() -> str:
    per_alpha = []
    for a in SES_ALPHAS:
        per_alpha.append(
            f"""
SELECT event_type, {a!r} AS alpha,
       count(*)::BIGINT AS n_days,
       round(CAST(sum(CAST(pow(v - f, 2) AS DECIMAL(38,12))) AS DOUBLE), 6)
         AS sse
FROM (
  SELECT event_type, day, v, lag(s) OVER w2 AS f
  FROM (
    SELECT event_type, day, v, round({_ewma_sql('v', a)}, 6) AS s
    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
  ) WINDOW w2 AS (PARTITION BY event_type ORDER BY day)
) WHERE f IS NOT NULL
GROUP BY event_type"""
        )
    union = " UNION ALL ".join(f"({q})" for q in per_alpha)
    return f"""
WITH daily AS ({_DAILY_SQL}),
grid AS ({union})
SELECT event_type, alpha AS best_alpha, n_days, sse AS sse_best
FROM grid
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY sse, alpha) = 1
"""


@query("ts_ses_alpha_select", oracle=_ses_select_oracle())
def ts_ses_alpha_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothing-parameter SELECTION for simple exponential smoothing:
    a {len(SES_ALPHAS)}-point alpha grid, each evaluated by one-step-
    ahead SSE on the daily value series (forecast for day t = the
    truncated-convolution EWMA through t-1), winner per series by
    (sse, alpha). The model-selection rung of the forecasting ladder —
    `ts_backtest_rolling` measures FIXED models; this picks the
    hyperparameter the way statsmodels' SimpleExpSmoothing.fit()
    does, except grid-exact and engine-reproducible. The truncated
    convolution (the events_ewma device; 7 lags) IS the model on both
    engines, so low alphas' truncation residual is consistent, not an
    error source; smoothed values round at 6 before the error pass so
    both engines difference identical forecasts.

    Plan: ONE window pass computes all {len(SES_ALPHAS)} convolutions
    over the calendar-bounded rollup (same frame, different constant
    weights — Catalyst shares the sort), one aggregate per alpha, and
    a 5-row-per-series argmin window. Cost is the rollup shuffle plus
    per-series window work; alphas add expressions, not passes."""
    daily = _daily_value_rollup(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day")
    cols = ["event_type", "day", "v"]
    # two window layers: the convolution itself, then the one-step lag
    # (nesting a lag of a lag-expression is illegal on both engines)
    smoothed = daily.select(
        *cols,
        *[
            F.round(_ewma(F.col("v"), w, a), 6).alias(f"s{i}")
            for i, a in enumerate(SES_ALPHAS)
        ],
    ).select(
        *cols,
        *[
            F.lag(f"s{i}").over(w).alias(f"f{i}")
            for i in range(len(SES_ALPHAS))
        ],
    )
    grids = []
    for i, a in enumerate(SES_ALPHAS):
        f = F.col(f"f{i}")
        grids.append(
            smoothed.where(f.isNotNull())
            .groupBy("event_type")
            .agg(
                F.lit(a).alias("alpha"),
                F.count(F.lit(1)).cast("long").alias("n_days"),
                F.round(
                    F.sum(
                        F.pow(F.col("v") - f, 2).cast("decimal(38,12)")
                    ).cast("double"),
                    6,
                ).alias("sse"),
            )
        )
    grid = grids[0]
    for g in grids[1:]:
        grid = grid.unionByName(g)
    return (
        grid.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy("sse", "alpha")
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("alpha").alias("best_alpha"),
            "n_days",
            F.col("sse").alias("sse_best"),
        )
    )


POWER_MDE_REL = 0.05  # minimum detectable relative lift
POWER_Z_ALPHA = 1.959963984540054  # two-sided 5%
POWER_Z_BETA = 0.8416212335729143  # 80% power
POWER_CONV_MIN = 20  # "converted" = at least this many purchases


@query(
    "events_power_analysis",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
  FROM events GROUP BY user_id
),
base AS (
  SELECT sum(CASE WHEN n_purch >= {POWER_CONV_MIN} THEN 1 ELSE 0 END)::DOUBLE
           AS conv,
         count(*)::DOUBLE AS n
  FROM per_user
),
params AS (
  SELECT conv / n AS p1,
         least((conv / n) * (1.0 + {POWER_MDE_REL!r}), 0.999) AS p2,
         n
  FROM base
)
SELECT round(p1, 6) AS baseline_rate,
       round(p2, 6) AS target_rate,
       ceil(pow({POWER_Z_ALPHA!r} * sqrt(2 * ((p1 + p2) / 2)
                                         * (1 - (p1 + p2) / 2))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
            / pow(p2 - p1, 2))::BIGINT AS n_required_per_arm,
       n::BIGINT AS n_observed,
       n >= ceil(pow({POWER_Z_ALPHA!r} * sqrt(2 * ((p1 + p2) / 2)
                                              * (1 - (p1 + p2) / 2))
                   + {POWER_Z_BETA!r} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
                 / pow(p2 - p1, 2)) * 2 AS adequately_powered
FROM params
""",
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test power analysis — the DESIGN side of the experimentation
    family (`events_abtest_welch` reads results; this says whether the
    experiment was worth running): required n per arm for detecting a
    {POWER_MDE_REL:.0%} relative lift on the observed baseline
    power-purchaser rate (>= {POWER_CONV_MIN} purchases; the all-users
    purchase rate is saturated at 1.0 in this corpus, where the
    formula degenerates — the clamp on p2 guards that edge anyway) at alpha=5% two-sided / 80% power, via the
    standard two-proportion formula n = (z_a*sqrt(2*pbar*(1-pbar)) +
    z_b*sqrt(p1 q1 + p2 q2))^2 / (p2-p1)^2, plus an
    adequately-powered verdict for the observed population. The
    normal quantiles are compile-time literals (no CDF at runtime), so
    the whole operator is ONE distinct-count aggregate and scalar
    arithmetic — a single scan at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purch")
    )
    base = per_user.agg(
        F.sum((F.col("n_purch") >= POWER_CONV_MIN).cast("int"))
        .cast("double")
        .alias("conv"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    p1 = F.col("conv") / F.col("n")
    p2 = F.least(p1 * (1.0 + POWER_MDE_REL), F.lit(0.999))
    pbar = (p1 + p2) / 2
    n_req = F.ceil(
        F.pow(
            F.lit(POWER_Z_ALPHA) * F.sqrt(2 * pbar * (1 - pbar))
            + F.lit(POWER_Z_BETA)
            * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2)),
            2,
        )
        / F.pow(p2 - p1, 2)
    ).cast("long")
    return base.select(
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        n_req.alias("n_required_per_arm"),
        F.col("n").cast("long").alias("n_observed"),
        (F.col("n") >= n_req * 2).alias("adequately_powered"),
    )


RECON_HORIZON = 7  # days forecast in the reconciliation example


def _recon_oracle() -> str:
    conv = _ewma_sql("v")
    return f"""
WITH daily AS ({_DAILY_SQL}),
fitted AS (
  SELECT event_type, day, v,
         round({conv}, 6) AS level
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
last_level AS (
  SELECT event_type, level AS fc
  FROM fitted
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY day DESC) = 1
),
total_fc AS (
  SELECT CAST(sum(CAST(fc AS DECIMAL(38,6))) AS DOUBLE) AS bottom_up
  FROM last_level
),
top_series AS (
  SELECT day, CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM daily GROUP BY day
),
top_fitted AS (
  SELECT day, round({conv}, 6) AS level
  FROM top_series WINDOW w AS (ORDER BY day)
),
top_fc AS (
  SELECT level AS direct FROM top_fitted
  QUALIFY row_number() OVER (ORDER BY day DESC) = 1
)
SELECT l.event_type,
       round(l.fc, 6) AS series_forecast,
       round(l.fc * (SELECT direct FROM top_fc)
             / (SELECT bottom_up FROM total_fc), 6) AS reconciled_forecast,
       round((SELECT direct FROM top_fc), 6) AS total_direct,
       round((SELECT bottom_up FROM total_fc), 6) AS total_bottom_up
FROM last_level l
"""


@query("ts_forecast_reconciliation", oracle=_recon_oracle())
def ts_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation (the coherence problem:
    per-series forecasts never sum to the directly-forecast total):
    per-type SES level forecasts (bottom) vs an SES forecast of the
    aggregate series (top), reconciled by proportional top-down
    scaling — each series forecast is rescaled by total_direct /
    total_bottom_up so the hierarchy adds up exactly. The standard
    first rung of the Hyndman reconciliation ladder (MinT/OLS need a
    residual covariance — out of scope for an oracle-exact operator).

    Plan: the daily rollup feeds BOTH levels (per-type windows and the
    day-summed top series — one extra tiny aggregate), forecasts are
    last-row window picks, and reconciliation is broadcast scalar
    arithmetic. Nothing beyond the rollup shuffle touches the event
    log."""
    daily = _daily_value_rollup(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day")
    fitted = daily.select(
        "event_type", "day", F.round(_ewma(F.col("v"), w), 6).alias("level")
    )
    last_level = (
        fitted.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(F.desc("day"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("event_type", F.col("level").alias("fc"))
        .transform(track)  # bottom-up total + output rows
    )
    total_fc = last_level.agg(
        F.sum(F.col("fc").cast("decimal(38,6)")).cast("double").alias("bottom_up")
    )
    top = daily.groupBy("day").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("v")
    )
    wt = W.orderBy("day")  # global-ok: daily rollup, calendar-bounded
    top_fc = (
        top.select("day", F.round(_ewma(F.col("v"), wt), 6).alias("level"))
        # global-ok: daily rollup, calendar-bounded
        .withColumn("rn", F.row_number().over(W.orderBy(F.desc("day"))))
        .where(F.col("rn") == 1)
        .select(F.col("level").alias("direct"))
    )
    return (
        last_level.crossJoin(F.broadcast(total_fc))
        .crossJoin(F.broadcast(top_fc))
        .select(
            "event_type",
            F.round("fc", 6).alias("series_forecast"),
            F.round(
                F.col("fc") * F.col("direct") / F.col("bottom_up"), 6
            ).alias("reconciled_forecast"),
            F.round("direct", 6).alias("total_direct"),
            F.round("bottom_up", 6).alias("total_bottom_up"),
        )
    )


VELO_WINDOW_MIN = 30  # sliding window (minutes) for the burst rule
VELO_BURST_N = 5  # events within the window that trip the burst flag
VELO_AMOUNT_Z = 3.0  # per-user amount z-score that trips the value flag


@query(
    "events_velocity_flags",
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, ts, value FROM events WHERE value IS NOT NULL
),
burst AS (
  SELECT event_id, user_id, ts, value,
         count(*) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL {VELO_WINDOW_MIN} MINUTE PRECEDING
                     AND CURRENT ROW) AS n_in_window
  FROM ev
),
ustats AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mu,
         count(*)::BIGINT AS n_u,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
           - pow(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 2) AS var
  FROM ev GROUP BY user_id
),
flagged AS (
  SELECT b.event_id, b.user_id, b.n_in_window::BIGINT AS n_in_window,
         b.n_in_window >= {VELO_BURST_N} AS burst_flag,
         u.n_u >= 5 AND u.var > 0
           AND abs(b.value - u.mu) / sqrt(u.var) > {VELO_AMOUNT_Z!r}
           AS amount_flag
  FROM burst b JOIN ustats u USING (user_id)
)
SELECT user_id,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN burst_flag THEN 1 ELSE 0 END)::BIGINT AS n_burst,
       sum(CASE WHEN amount_flag THEN 1 ELSE 0 END)::BIGINT AS n_amount,
       sum(CASE WHEN burst_flag OR amount_flag THEN 1 ELSE 0 END)::BIGINT
         AS n_flagged,
       max(n_in_window)::BIGINT AS max_burst
FROM flagged GROUP BY user_id
""",
)
def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity-rule screening (the fraud/abuse rules-engine shape):
    per event, (a) a BURST flag — >= {VELO_BURST_N} events by the same
    user inside a sliding {VELO_WINDOW_MIN}-minute event-time window
    (a true RANGE frame over timestamps, not a row frame), and (b) an
    AMOUNT flag — the event's value more than {VELO_AMOUNT_Z} per-user
    standard deviations from that user's own mean (n>=5 and var>0
    guards). Rolled up per user. This is the batch twin of what a
    streaming rules engine evaluates per event; the SQL RANGE-interval
    frame is the operator Spark executes as a range window over the
    user-sorted stream.

    Plan: one RANGE window pass (shuffle on user_id) + one per-user
    moment aggregate joined back — two reads of one sort; per-user
    state is two moments, window state is the {VELO_WINDOW_MIN}-minute
    buffer."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    ).select("event_id", "user_id", "ts", "value").transform(track)
    # microsecond-exact RANGE frame: ordering on unix_micros matches
    # DuckDB's INTERVAL comparison precision (a seconds-truncated cast
    # can disagree on events within 1 s of the window boundary)
    burst = ev.withColumn(
        "n_in_window",
        F.count(F.lit(1)).over(
            W.partitionBy("user_id")
            .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
            .rangeBetween(-VELO_WINDOW_MIN * 60 * 1_000_000, 0)
        ),
    )
    n = F.count(F.lit(1))
    sx = F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    sxx = F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)")).cast(
        "double"
    )
    ustats = ev.groupBy("user_id").agg(
        (sx / n).alias("mu"),
        n.cast("long").alias("n_u"),
        (sxx / n - F.pow(sx / n, 2)).alias("var"),
    )
    flagged = burst.join(ustats, "user_id").select(
        "user_id",
        F.col("n_in_window").cast("long").alias("n_in_window"),
        (F.col("n_in_window") >= VELO_BURST_N).alias("burst_flag"),
        (
            (F.col("n_u") >= 5)
            & (F.col("var") > 0)
            & (
                F.abs(F.col("value") - F.col("mu")) / F.sqrt("var")
                > VELO_AMOUNT_Z
            )
        ).alias("amount_flag"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("burst_flag").cast("int")).cast("long").alias("n_burst"),
        F.sum(F.col("amount_flag").cast("int")).cast("long").alias("n_amount"),
        F.sum((F.col("burst_flag") | F.col("amount_flag")).cast("int"))
        .cast("long")
        .alias("n_flagged"),
        F.max("n_in_window").cast("long").alias("max_burst"),
    )


@query(
    "events_retention_triangle",
    oracle="""
WITH ua AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events
),
cohorts AS (SELECT user_id, min(d) AS cohort FROM ua GROUP BY user_id),
joined AS (
  SELECT c.cohort, date_diff('day', c.cohort, u.d)::BIGINT AS day_offset,
         u.user_id
  FROM ua u JOIN cohorts c USING (user_id)
),
cs AS (SELECT cohort, count(*)::BIGINT AS cohort_size FROM cohorts GROUP BY cohort)
SELECT j.cohort AS cohort_day, j.day_offset,
       count(DISTINCT j.user_id)::BIGINT AS n_active,
       max(cs.cohort_size)::BIGINT AS cohort_size,
       round(count(DISTINCT j.user_id)::DOUBLE / max(cs.cohort_size), 6)
         AS retention
FROM joined j JOIN cs USING (cohort)
GROUP BY j.cohort, j.day_offset
""",
)
def events_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the classic product-analytics
    rollup: users are cohorted by their first active day, and each
    (cohort, day-offset) cell reports how many of the cohort were
    active that many days later, as a count and a rate. Extends
    `events_retention_cohort` (weekly raw counts) with the cohort
    SIZE denominator and the normalized retention rate at daily
    grain — the triangle dashboards actually plot — and swaps its
    per-event window for a dedup-first plan (below). Sits beside
    `events_cohort_ltv` (value) and `events_survival_km` (churn
    timing) as the activity matrix both condition on.

    Scale shape: the event log reduces to the DISTINCT (user, day)
    relation in one map-side-combinable pass (the
    events_rolling_active_users discipline — never carry raw events
    past the first shuffle); cohorts are a user-keyed min; the
    cell rollup is a keyed aggregation on (cohort, offset); cohort
    sizes live on a days-bounded relation that broadcasts. Two
    user-keyed shuffles + one cell-keyed shuffle, no window, no
    driver loop."""
    ev = load_table(spark, sf_dir, "events")
    ua = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .transform(track)  # cohort min + activity join
    )
    cohorts = ua.groupBy("user_id").agg(F.min("d").alias("cohort")).transform(
        track
    )  # activity join + cohort sizes
    cs = cohorts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    joined = ua.join(cohorts, "user_id").select(
        "cohort",
        F.datediff(F.col("d"), F.col("cohort")).cast("long").alias("day_offset"),
        "user_id",
    )
    return (
        joined.groupBy("cohort", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .join(F.broadcast(cs), "cohort")
        .select(
            F.col("cohort").alias("cohort_day"),
            "day_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# Bayesian A/B readout (grid posterior)
# ---------------------------------------------------------------------------

#: posterior grid resolution. The grid is the DOMAIN-BOUNDED device
#: this repo uses wherever an exact data-sized order-by would not
#: distribute (feature_quantile_binning, sketch_histogram_quantiles):
#: every relation below is exactly BAYES_GRID rows regardless of data
#: volume, so the whole readout after the one counting aggregate is
#: O(1) work on O(1) rows at any scale.
BAYES_GRID = 2048

#: ship decision threshold on the posterior probability.
BAYES_SHIP = 0.95


@query(
    "events_bayesian_ab",
    oracle=f"""
WITH s AS (
  SELECT count(*) FILTER (user_id % 2 = 0)::BIGINT AS n0,
         count(*) FILTER (user_id % 2 = 0 AND event_type = 'purchase')::BIGINT AS c0,
         count(*) FILTER (user_id % 2 = 1)::BIGINT AS n1,
         count(*) FILTER (user_id % 2 = 1 AND event_type = 'purchase')::BIGINT AS c1
  FROM events
),
grid AS (
  SELECT j, (j + 0.5) / {BAYES_GRID} AS p,
         n0, c0, n1, c1,
         c0 * ln((j + 0.5) / {BAYES_GRID})
           + (n0 - c0) * ln(1.0 - (j + 0.5) / {BAYES_GRID}) AS la,
         c1 * ln((j + 0.5) / {BAYES_GRID})
           + (n1 - c1) * ln(1.0 - (j + 0.5) / {BAYES_GRID}) AS lb
  FROM range({BAYES_GRID}) t(j) CROSS JOIN s
),
w AS (
  SELECT j, p, n0, c0, n1, c1,
         exp(la - max(la) OVER ()) AS wa,
         exp(lb - max(lb) OVER ()) AS wb
  FROM grid
),
cum AS (
  SELECT j, p, n0, c0, n1, c1, wa, wb,
         coalesce(sum(wa) OVER (ORDER BY j
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cwa,
         coalesce(sum(wa) OVER (ORDER BY j
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0.0) AS swa_gt,
         coalesce(sum(wa * p) OVER (ORDER BY j
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0.0) AS s1a_gt
  FROM w
),
tot AS (
  SELECT n0, c0, n1, c1,
         sum(wa) OVER () AS za,
         sum(wb) OVER () AS zb,
         sum(wb * cwa + 0.5 * wa * wb) OVER () AS num_p,
         sum(wb * (s1a_gt - p * swa_gt)) OVER () AS num_loss,
         j
  FROM cum
)
SELECT n0, c0, n1, c1,
       round(c0::DOUBLE / n0, 6) AS rate_a,
       round(c1::DOUBLE / n1, 6) AS rate_b,
       round(num_p / (za * zb), 6) AS prob_b_beats_a,
       round(num_loss / (za * zb), 8) AS exp_loss_choose_b,
       CASE WHEN round(num_p / (za * zb), 6) >= {BAYES_SHIP} THEN 'ship_b'
            WHEN round(num_p / (za * zb), 6) <= {1 - BAYES_SHIP} THEN 'ship_a'
            ELSE 'continue' END AS decision
FROM tot WHERE j = {BAYES_GRID} - 1
""",
)
def events_bayesian_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B experiment readout: Beta(1,1)-prior posterior of the
    per-variant purchase rate (variants = user_id parity, the same
    stable split as `events_abtest_welch`), evaluated on a fixed
    {BAYES_GRID}-point grid — P(p_B > p_A), the expected loss of
    shipping B (E[max(p_A - p_B, 0)]), and the
    ship_b / ship_a / continue decision at the {BAYES_SHIP} posterior
    threshold. The Bayesian twin of the Welch/SPRT readouts: a
    probability a product owner can read directly instead of a t
    statistic.

    Numerics: the posterior density needs no closed-form normalizer —
    unnormalized log-densities are shifted by their grid max and
    exponentiated, and every sum is a ratio in which the normalizers
    cancel, so only elementary exp/ln arithmetic appears (lgamma,
    which Spark SQL lacks, never does). P(B>A) folds over the grid as
    sum_j wB_j * cumA_{{<j}} + half the same-cell mass; the expected
    loss folds the reverse cumulative sums of wA and wA*p. At large n
    the posterior concentrates inside one grid cell and the decision
    saturates to 0/1 — exactly the regime where the grid answer and
    the exact answer agree to every printed digit.

    100 TB shape: ONE conditional counting aggregate (4 exact BIGINTs,
    map-side combined) touches the data; everything after runs on a
    {BAYES_GRID}-row compile-time grid (the value-histogram discipline
    of feature_quantile_binning). The unpartitioned windows below
    operate on that fixed grid, never on data-sized relations."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("user_id") % 2
    purchase = F.col("event_type") == "purchase"
    s = ev.agg(
        F.count(F.when(v == 0, 1)).cast("long").alias("n0"),
        F.count(F.when((v == 0) & purchase, 1)).cast("long").alias("c0"),
        F.count(F.when(v == 1, 1)).cast("long").alias("n1"),
        F.count(F.when((v == 1) & purchase, 1)).cast("long").alias("c1"),
    )
    g = BAYES_GRID
    p = (F.col("j") + 0.5) / g
    grid = (
        spark.range(g)
        .select(F.col("id").alias("j"))
        .crossJoin(F.broadcast(s))
        .select(
            "j", "n0", "c0", "n1", "c1", p.alias("p"),
            (F.col("c0") * F.log(p) + (F.col("n0") - F.col("c0")) * F.log(1.0 - p)).alias("la"),
            (F.col("c1") * F.log(p) + (F.col("n1") - F.col("c1")) * F.log(1.0 - p)).alias("lb"),
        )
    )
    # global-ok: all windows below run on the fixed BAYES_GRID-row
    # grid relation (compile-time bound, never data-sized).
    full = W.orderBy("j").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # global-ok: fixed BAYES_GRID-row grid relation
    before = W.orderBy("j").rowsBetween(W.unboundedPreceding, -1)
    # global-ok: fixed BAYES_GRID-row grid relation
    after = W.orderBy("j").rowsBetween(1, W.unboundedFollowing)
    w = grid.select(
        "j", "p", "n0", "c0", "n1", "c1",
        F.exp(F.col("la") - F.max("la").over(full)).alias("wa"),
        F.exp(F.col("lb") - F.max("lb").over(full)).alias("wb"),
    )
    cum = w.select(
        "j", "p", "n0", "c0", "n1", "c1", "wa", "wb",
        F.coalesce(F.sum("wa").over(before), F.lit(0.0)).alias("cwa"),
        F.coalesce(F.sum("wa").over(after), F.lit(0.0)).alias("swa_gt"),
        F.coalesce(F.sum(F.col("wa") * F.col("p")).over(after), F.lit(0.0)).alias("s1a_gt"),
    )
    tot = cum.select(
        "j", "n0", "c0", "n1", "c1",
        F.sum("wa").over(full).alias("za"),
        F.sum("wb").over(full).alias("zb"),
        F.sum(F.col("wb") * F.col("cwa") + 0.5 * F.col("wa") * F.col("wb"))
        .over(full)
        .alias("num_p"),
        F.sum(F.col("wb") * (F.col("s1a_gt") - F.col("p") * F.col("swa_gt")))
        .over(full)
        .alias("num_loss"),
    ).filter(F.col("j") == g - 1)
    prob = F.round(F.col("num_p") / (F.col("za") * F.col("zb")), 6)
    return tot.select(
        "n0", "c0", "n1", "c1",
        F.round(F.col("c0").cast("double") / F.col("n0"), 6).alias("rate_a"),
        F.round(F.col("c1").cast("double") / F.col("n1"), 6).alias("rate_b"),
        prob.alias("prob_b_beats_a"),
        F.round(F.col("num_loss") / (F.col("za") * F.col("zb")), 8).alias(
            "exp_loss_choose_b"
        ),
        F.when(prob >= BAYES_SHIP, "ship_b")
        .when(prob <= 1 - BAYES_SHIP, "ship_a")
        .otherwise("continue")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

#: bootstrap replicate count. A compile-time constant: the expansion
#: factor of the one data-sized stage and the denominator of the CI
#: ranks below.
PB_REPS = 32

#: the 80% CI picks the ceil(R/10)-th and ceil(9R/10)-th of the R
#: SURVIVING replicate means (percentile_disc semantics, integer
#: arithmetic only). R is normally PB_REPS, but a replicate whose
#: Poisson weights are ALL zero (probability e^-n per replicate — real
#: for 1-3-row groups) has no mean and is dropped on both engines;
#: ranking a NULL mean instead would be engine-dependent (Spark sorts
#: NULLs first ascending, DuckDB last).


def _poisson1_cdf() -> list[float]:
    import math

    e = math.exp(-1.0)
    out, term, acc = [], e, 0.0
    for k in range(8):
        acc += term
        out.append(acc)
        term = term / (k + 1)
    return out


def _pb_hex_thresholds() -> list[str]:
    """Poisson(1) CDF thresholds as 4-char lowercase hex: a 16-bit
    uniform h satisfies h/65536 < cdf_k iff its hex form sorts
    lexicographically below hex(ceil(cdf_k * 65536)) — fixed-width
    hex is order-preserving, so the whole inverse-CDF ladder becomes
    string comparisons (no hex->int parse per replicate).

    A threshold whose ceil reaches 65536 cannot be represented on the
    16-bit grid (it would format to 5 hex chars, '10000', and break
    the fixed-width ordering — 'f000' < '10000' is FALSE
    lexicographically). Such thresholds are dropped: the first
    dropped weight becomes the ladder's ELSE branch and everything
    beyond it is unreachable at this resolution (the merged tail is
    P(w > 6) ~ 8e-5 mapped onto w=7 — a documented grid-resolution
    tail merge, identical on both engines)."""
    import math

    out: list[str] = []
    for c in _poisson1_cdf():
        v = math.ceil(c * 65536)
        if v >= 65536:
            break
        out.append(format(v, "04x"))
    return out


def _pb_oracle() -> str:
    hexes = _pb_hex_thresholds()
    cases = " ".join(
        f"WHEN u4 < '{h}' THEN {k}" for k, h in enumerate(hexes)
    )
    w_else = len(hexes)
    hsel = " ".join(f"WHEN {r} THEN h{r}" for r in range(PB_REPS // 8))
    hashes = ",\n         ".join(
        f"md5('pb:' || event_id || ':{r}') AS h{r}" for r in range(PB_REPS // 8)
    )
    return f"""
WITH pts AS (
  SELECT event_type, event_id, CAST(value AS DECIMAL(18,6)) AS y,
         {hashes}
  FROM events WHERE value IS NOT NULL
),
drawn AS (
  SELECT event_type, y, b,
         substr(CASE b // 8 {hsel} END, (b % 8) * 4 + 1, 4) AS u4
  FROM pts CROSS JOIN range({PB_REPS}) r(b)
),
weighted AS (
  SELECT event_type, y, b,
         CASE {cases} ELSE {w_else} END AS w
  FROM drawn
),
reps AS (
  SELECT event_type, b,
         CAST(sum(w * y) AS DOUBLE) / sum(w)::BIGINT AS mean_b
  FROM weighted GROUP BY 1, 2
  HAVING sum(w) > 0
),
ranked AS (
  SELECT event_type, mean_b,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY mean_b, b) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM reps
),
base AS (
  SELECT event_type, count(*)::BIGINT AS n,
         round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS mean_value
  FROM pts GROUP BY 1
)
SELECT base.event_type, base.n, base.mean_value,
       round(lo.mean_b, 6) AS boot_lo,
       round(hi.mean_b, 6) AS boot_hi,
       round(hi.mean_b - lo.mean_b, 6) AS ci_width
FROM base
JOIN (SELECT event_type, mean_b FROM ranked
      WHERE rn = (cnt + 9) // 10) lo
  ON lo.event_type = base.event_type
JOIN (SELECT event_type, mean_b FROM ranked
      WHERE rn = (9 * cnt + 9) // 10) hi
  ON hi.event_type = base.event_type
"""


@query("sample_poisson_bootstrap", oracle=_pb_oracle())
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 80% confidence interval for the per-event-type
    mean of `value` (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012 — the standard way to bootstrap
    when the data cannot be resampled centrally): each row enters
    replicate b with weight ~ Poisson(1), drawn by inverse-CDF from a
    deterministic md5 uniform of (event_id, b), so every replicate is
    an independent approximate resample computable IN ONE PASS, with
    no global resampling step and identical results on any cluster
    layout. Replicate means are ranked per group; the
    ceil(R/10)-th / ceil(9R/10)-th of the R surviving replicates
    (percentile_disc semantics) are the 10%/90% bounds — a replicate
    whose weights are all zero has no mean and is dropped identically
    on both engines (a NULL would rank first on Spark, last on
    DuckDB).

    Numerics: replicate sums are exact (integer weights x
    DECIMAL(18,6) values), so each replicate mean is one double
    division of exact quantities — bit-identical across engines and
    partitionings, which makes the rank order (ties broken by b)
    deterministic, not merely tolerant.

    100 TB shape: the only data-sized stage is the {PB_REPS}x
    compile-time replicate expansion feeding a map-side-combinable
    exact aggregate; the shuffle carries groups x {PB_REPS} partial
    rows, and everything after (ranking, CI extraction) runs on that
    bounded relation. Compute scales with B*N but data movement with
    groups*B — the property that makes the Poisson bootstrap the
    at-scale choice over resample-and-recompute."""
    hexes = _pb_hex_thresholds()
    # r15 (guide §2.1): the single-file events scan ran PB_REPS/8 md5
    # draws per row plus the replicate explode on one core; spread the
    # compute-heavy map side (the groupBy(event_type, b) shuffles only
    # groups x replicates partial rows either way).
    ev = load_spread(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    pts = ev.select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    hashed = pts.select(
        "event_type",
        "y",
        *[
            F.md5(
                F.concat(
                    F.lit("pb:"),
                    F.col("event_id").cast("string"),
                    F.lit(f":{r}"),
                )
            ).alias(f"h{r}")
            for r in range(PB_REPS // 8)
        ],
    )
    # eight 16-bit uniforms per md5: 4 hashes per ROW instead of one
    # per (row, replicate) — an 8x cut in the dominant hash cost at
    # scale. 16-bit resolution (1/65536) resolves every representable
    # CDF threshold to ~1 grid unit; thresholds that round up to
    # 65536 are dropped by _pb_hex_thresholds (tail mass P(w > 6)
    # ~ 8e-5 merges into the ELSE weight, identically on both
    # engines). The inverse-CDF ladder compares the 4-char hex slice
    # directly against hex thresholds (fixed-width hex is
    # order-preserving), so no per-replicate hex->int parse ever runs.
    u4 = [
        F.substring(F.col(f"h{b // 8}"), (b % 8) * 4 + 1, 4).alias(f"u{b}")
        for b in range(PB_REPS)
    ]
    drawn = hashed.select("event_type", "y", *u4).select(
        "event_type",
        "y",
        F.posexplode(F.array(*[F.col(f"u{b}") for b in range(PB_REPS)])).alias(
            "b", "u4"
        ),
    )
    w = F.lit(len(hexes))
    for k in range(len(hexes) - 1, -1, -1):
        w = F.when(F.col("u4") < hexes[k], F.lit(k)).otherwise(w)
    reps = (
        drawn.select("event_type", "y", "b", w.cast("long").alias("w"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("swy"),
            F.sum("w").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            (F.col("swy").cast("double") / F.col("sw")).alias("mean_b"),
        )
    )
    rw = W.partitionBy("event_type").orderBy("mean_b", "b")
    cw = W.partitionBy("event_type")
    ranked = reps.select(
        "event_type",
        "mean_b",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("cnt"),
    )
    base = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_value"
        ),
    )
    lo = ranked.filter(
        F.col("rn") == F.floor((F.col("cnt") + 9) / 10)
    ).select("event_type", F.col("mean_b").alias("lo"))
    hi = ranked.filter(
        F.col("rn") == F.floor((9 * F.col("cnt") + 9) / 10)
    ).select("event_type", F.col("mean_b").alias("hi"))
    return (
        base.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .select(
            "event_type",
            "n",
            "mean_value",
            F.round("lo", 6).alias("boot_lo"),
            F.round("hi", 6).alias("boot_hi"),
            F.round(F.col("hi") - F.col("lo"), 6).alias("ci_width"),
        )
    )


#: score-band resolution of the gains chart (5%-wide probability
#: bands). Equal-WIDTH bands rather than exact deciles on purpose:
#: banding is one map-side-combined aggregate at any scale, while
#: exact deciles of a continuous score need a data-sized order-by —
#: and a production targeting gate ships score THRESHOLDS, which is
#: what bands are.
LIFT_BINS = 20


@query(
    "classifier_lift_gains",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         round(1.0 / (1.0 + exp(-(value - 50.0) / 20.0)), 8) AS p
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT least(CAST(floor(p * {LIFT_BINS}) AS BIGINT), {LIFT_BINS - 1}) AS bin,
         count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos
  FROM scored GROUP BY 1
),
cum AS (
  SELECT bin, n, n_pos,
         sum(n) OVER w::BIGINT AS cum_n,
         sum(n_pos) OVER w::BIGINT AS cum_pos,
         sum(n) OVER ()::BIGINT AS tot_n,
         sum(n_pos) OVER ()::BIGINT AS tot_pos
  FROM b
  WINDOW w AS (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT bin, n, n_pos, cum_n, cum_pos,
       round(cum_n::DOUBLE / tot_n, 6) AS frac_targeted,
       round(cum_pos::DOUBLE / tot_pos, 6) AS capture_rate,
       round((cum_pos::DOUBLE / cum_n) / (tot_pos::DOUBLE / tot_n), 6) AS lift
FROM cum
""",
)
def classifier_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift chart for the classifier family's fixed
    logistic scorer (the same model `classifier_calibration_ece`
    audits): {LIFT_BINS} equal-width score bands, walked from the most
    confident down — each row says "targeting everything scored in
    this band or higher reaches frac_targeted of the population,
    captures capture_rate of all positives, at `lift` times the base
    rate". Calibration answers "do the scores mean what they say";
    this answers the campaign-planning question "how much do I gain
    by using them" — the two standard eval charts next to ECE.

    Every number is derived from exact BIGINT band counts: one scan
    folds (score band, n, n_pos) map-side-combined; the cumulative
    walk and ratios run on the {LIFT_BINS}-row relation. The
    unpartitioned windows below are band-relation-sized by
    construction."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50.0) / 20.0)), 8
    )
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        p.alias("p"),
    )
    b = scored.groupBy(
        F.least(
            F.floor(F.col("p") * LIFT_BINS).cast("long"), F.lit(LIFT_BINS - 1)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    # global-ok: windows over the LIFT_BINS-row band relation
    # (compile-time bound, never data-sized).
    wcum = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, 0)
    # global-ok: fixed LIFT_BINS-row band relation
    wall = W.orderBy(F.desc("bin")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = b.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(wcum).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wcum).cast("long").alias("cum_pos"),
        F.sum("n").over(wall).cast("long").alias("tot_n"),
        F.sum("n_pos").over(wall).cast("long").alias("tot_pos"),
    )
    return cum.select(
        "bin",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.round(F.col("cum_n").cast("double") / F.col("tot_n"), 6).alias(
            "frac_targeted"
        ),
        F.round(F.col("cum_pos").cast("double") / F.col("tot_pos"), 6).alias(
            "capture_rate"
        ),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("tot_pos").cast("double") / F.col("tot_n")),
            6,
        ).alias("lift"),
    )
