"""Relational core: joins (all variants) and aggregations.

The reference contains no joins or aggregations at all (SURVEY §2C);
this module provides the engine surface required by the north star
(§2B), expressed as lazy DataFrame plans so Catalyst chooses the
physical strategy (broadcast-hash for small dims, sort-merge beyond
the broadcast threshold, AQE skew splitting at runtime).

Exactness convention (see registry docstring): double aggregates are
summed through DECIMAL(18,s) casts — exact, order-independent
arithmetic that matches the DuckDB oracle bit-for-bit, unlike float
summation whose result depends on partition order. The final value is
cast back to double. ``s`` is 2 for money columns (all 2dp in the
testdata) and 4 for products of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..cache import track
from ..catalog import load_table
from ..registry import query


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum of a double column via decimal arithmetic -> double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-sum average -> double (sum/count, both order-independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


# SQL twin of dsum/davg for the oracle side.
def _dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def _davg(expr: str, scale: int = 2) -> str:
    return f"{_dsum(expr, scale)} / count({expr})"


# --------------------------------------------------------------------------
# Aggregation pipeline queries (TPC-H-shaped)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')}                                        AS sum_qty,
       {_dsum('l_extendedprice')}                                   AS sum_base_price,
       {_dsum('l_extendedprice * (1 - l_discount)', 4)}             AS sum_disc_price,
       {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {_davg('l_quantity')}                                        AS avg_qty,
       {_davg('l_extendedprice')}                                   AS avg_price,
       {_davg('l_discount')}                                        AS avg_disc,
       count(*)::BIGINT                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with 8 aggregates. The
    filter pushes to the parquet scan; partial aggregation happens
    map-side before the 6-group shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
SELECT o.o_orderkey,
       {_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + aggregate + deterministic top-10,
    dims-first: the BUILDING-segment probe reduces orders BEFORE the
    lineitem join, so lineitem is consumed in one scan against a
    broadcast of the date+segment-filtered orders (~15% faster than
    joining l⋈o first at sf0.1). Scale note: past the broadcast
    budget for filtered orders, drop the hint — AQE decides; the
    reduction order is what holds at any SF."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    o2 = o.join(
        F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    return (
        l.join(F.broadcast(o2), l.l_orderkey == o2.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
SELECT n.n_name AS nation,
       {_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey  = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, dims-first. The ASIA filter flows
    region->nation->customer->orders before lineitem is touched, so
    the fact table is consumed in one scan with two hash probes and
    the only remaining shuffle is the 5-row groupBy (~10% faster than
    the l⋈o-first plan at sf0.1). Scale note: as in Q7, the
    ``broadcast(o2)`` hint holds while region-filtered orders fit the
    broadcast budget; beyond that drop it and AQE chooses from runtime
    sizes — the selective-reduction join order is the scale-stable
    part."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c2 = c.join(
        F.broadcast(n2.select("n_nationkey")), c.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    o2 = o.join(F.broadcast(c2), o.o_custkey == c2.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    s2 = s.join(F.broadcast(n2), s.s_nationkey == n2.n_nationkey).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        l.join(F.broadcast(o2), l.l_orderkey == o2.o_orderkey)
        .join(
            F.broadcast(s2),
            (l.l_suppkey == s2.s_suppkey) & (o2.c_nationkey == s2.s_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Join variants
# --------------------------------------------------------------------------


@query(
    "join_inner_broadcast",
    oracle="""
SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'O'
""",
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join with an explicit broadcast hint on the dimension."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = load_table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@query(
    "join_left_outer",
    oracle=f"""
SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS n_orders,
       {_dsum('o.o_totalprice', 4)} AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers without orders (null-extended
    side aggregates to 0 / null)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice", 4).alias("total_spend"),
        )
    )


@query(
    "join_right_outer",
    oracle="""
SELECT c.c_custkey, o.o_orderkey
FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (non-matching right rows null-extended); the
    extra join predicate keeps plenty of null-extended rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(
        c, (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P"), "right"
    ).select("c_custkey", "o_orderkey")


@query(
    "join_full_outer",
    oracle="""
WITH cn AS (SELECT c_nationkey AS nationkey, count(*)::BIGINT AS n_cust
            FROM customer GROUP BY 1),
     sn AS (SELECT s_nationkey AS nationkey, count(*)::BIGINT AS n_supp
            FROM supplier GROUP BY 1)
SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey, cn.n_cust, sn.n_supp
FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (nations seen by customers vs
    suppliers), null-extended on both sides."""
    cn = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, "nationkey", "full").select(
        F.coalesce(cn.nationkey, sn.nationkey).alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "join_left_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join == EXISTS: customers having a big order; emits each
    qualifying left row once regardless of match multiplicity."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join == NOT EXISTS: customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
SELECT a.r_name AS r1, b.r_name AS r2 FROM region a CROSS JOIN region b
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (explicit crossJoin; Catalyst uses
    BroadcastNestedLoopJoin for the tiny side)."""
    r = load_table(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("r1"))
    b = r.select(F.col("r_name").alias("r2"))
    return a.crossJoin(b)


@query(
    "join_theta_nonequi",
    oracle="""
SELECT s.s_suppkey, count(*)::BIGINT AS n_poorer_custs
FROM supplier s JOIN customer c
  ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
GROUP BY s.s_suppkey
""",
)
def join_theta_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi part on nation plus a non-equi balance predicate
    (hash join on the equi key, predicate applied as residual)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal),
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_poorer_custs"))
    )


@query(
    "join_range_interval",
    oracle="""
SELECT l.l_returnflag, count(*)::BIGINT AS n
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
GROUP BY l.l_returnflag
""",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: ship date within 90 days of the order date.
    The equi key carries the join; the BETWEEN is a residual filter."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate <= F.expr("o_orderdate + INTERVAL 90 DAY"))
    )
    return l.join(o, cond).groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


#: Bucketized interval join: campaign sampling stride and window
#: length. A closed 30-day window ([start, start+29]) spans at most 2
#: calendar-month buckets, so interval replication is bounded at 2x.
INTERVAL_JOIN_STRIDE = 97
INTERVAL_JOIN_DAYS = 29


@query(
    "join_interval_bucketed",
    oracle=f"""
WITH campaigns AS (
  SELECT o_orderkey AS campaign_id, o_orderdate AS start_d,
         o_orderdate + INTERVAL {INTERVAL_JOIN_DAYS} DAY AS end_d
  FROM orders WHERE o_orderkey % {INTERVAL_JOIN_STRIDE} = 0
)
SELECT l.l_returnflag,
       count(*)::BIGINT AS n_hits,
       count(DISTINCT c.campaign_id)::BIGINT AS n_campaigns,
       {_dsum('l.l_quantity')} AS sum_qty
FROM lineitem l JOIN campaigns c
  ON l.l_shipdate BETWEEN c.start_d AND c.end_d
GROUP BY 1
""",
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi key, made scalable by bucket
    decomposition: which shipments fall inside any sampled 30-day
    campaign window. `join_range_interval` rides an equi key and keeps
    BETWEEN as a residual; when no natural key exists the naive
    spelling is a nested-loop/cartesian expansion (probe x intervals —
    what Catalyst emits for a pure non-equi condition). Instead each
    interval is EXPLODED to the calendar-month buckets it overlaps
    (<= 2 for a 30-day window) and each probe row computes its single
    month bucket, turning the range join into a bucket EQUI-join plus
    a residual BETWEEN — the range-join-binning strategy (same trick
    as `geo_radius_join`'s 2-D grid, here in 1-D time; what
    warehouse engines' RANGE_JOIN hints do under the hood).

    Correct by construction: a probe row has exactly ONE bucket, so a
    matching (row, interval) pair meets in exactly one bucket — no
    post-join dedup needed. At 100 TB the shuffle is keyed on the
    month bucket; granularity trades interval replication (window /
    bucket width) against residual-filter selectivity, and a skewed
    month can be salted like any hash join. The plan is asserted
    NLJ-free in tests/test_plans.py."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def month_bucket(c: Column) -> Column:
        return (F.year(c) * 12 + F.month(c)).alias("bucket")

    campaigns = o.filter(
        F.col("o_orderkey") % INTERVAL_JOIN_STRIDE == 0
    ).select(
        F.col("o_orderkey").alias("campaign_id"),
        F.col("o_orderdate").alias("start_d"),
        F.date_add(F.col("o_orderdate"), INTERVAL_JOIN_DAYS).alias("end_d"),
    )
    camp_b = campaigns.withColumn(
        "bucket",
        F.explode(
            F.sequence(month_bucket(F.col("start_d")), month_bucket(F.col("end_d")))
        ),
    )
    probe = l.withColumn("bucket", month_bucket(F.col("l_shipdate")))
    # r15 (guide §3.1): the bucketed interval side is dimension-sized
    # (orders/STRIDE campaigns x <=2 buckets) but its post-filter size
    # estimate kept the planner on a sort-merge join — exchanging AND
    # sorting the probe fact relation by a ~84-distinct-value month
    # key (skew + capped parallelism). Broadcasting the interval side
    # leaves the fact scan in place: the bucket fan-out is evaluated
    # map-side with no exchange of probe rows at all.
    joined = probe.join(
        F.broadcast(camp_b),
        (probe["bucket"] == camp_b["bucket"])
        & F.col("l_shipdate").between(F.col("start_d"), F.col("end_d")),
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("campaign_id").cast("long").alias("n_campaigns"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "join_asof",
    oracle="""
WITH m AS (
  SELECT *, CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events
)
SELECT event_id, user_id, ts,
       last_value(click_ts IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
FROM m
QUALIFY event_type = 'purchase'
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest strictly-earlier click
    by the same user. Implemented as a single-pass conditional
    last_value window over the unioned stream — no join at all, which
    at scale beats a per-key merge (one shuffle on user_id, no
    build-side materialization). DuckDB twin uses the same window
    formulation (its ASOF JOIN would also work)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    return (
        marked.withColumn("prev_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "prev_click_ts")
    )


@query(
    "join_fuzzy_blocked",
    oracle="""
WITH dirty AS (
  SELECT p_partkey AS dirty_id, replace(p_name, 'a', '@') AS dirty_name
  FROM part WHERE p_partkey % 7 = 0
),
cand AS (
  SELECT d.dirty_id, p.p_partkey,
         levenshtein(d.dirty_name, p.p_name)::BIGINT AS lev
  FROM dirty d JOIN part p
    ON length(d.dirty_name) = length(p.p_name)
   AND replace(substr(d.dirty_name, 1, 8), '@', 'a')
       = replace(substr(p.p_name, 1, 8), '@', 'a')
  WHERE levenshtein(d.dirty_name, p.p_name) <= 10
)
SELECT dirty_id, p_partkey AS matched_partkey, lev
FROM cand
QUALIFY row_number() OVER (PARTITION BY dirty_id ORDER BY lev, p_partkey) = 1
""",
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (entity-resolution) join: a deterministically
    perturbed copy of ``part`` ('a' -> '@', the classic dirty-feed
    typo) is matched back to the clean table by edit distance.

    The scale shape matters more than the metric: candidate pairs come
    from an EQUI-join on cheap blocking keys — exact length plus an
    accent/typo-folded 8-char prefix — so Spark hash-joins on the
    block key and `levenshtein` runs only inside blocks. All-pairs
    n² comparison never happens; at 100 TB the cost tracks block
    sizes (bounded by name-length cardinality), the same
    candidate-generation discipline as the MinHash/LSH dedup tier
    (`llm/dedup.py`). Best match per dirty row via (lev, key)
    ranking; both engines implement identical blocking, so the oracle
    is exact."""
    p = load_table(spark, sf_dir, "part")
    fold = lambda c: F.translate(F.substring(c, 1, 8), "@", "a")  # noqa: E731
    dirty = p.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("dirty_id"),
        F.translate("p_name", "a", "@").alias("dirty_name"),
    )
    clean = p.select("p_partkey", "p_name")
    cand = (
        dirty.join(
            clean,
            (F.length("dirty_name") == F.length("p_name"))
            & (fold(F.col("dirty_name")) == fold(F.col("p_name"))),
        )
        .withColumn("lev", F.levenshtein("dirty_name", "p_name").cast("long"))
        .filter(F.col("lev") <= 10)
    )
    w = W.partitionBy("dirty_id").orderBy("lev", "p_partkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dirty_id", F.col("p_partkey").alias("matched_partkey"), "lev")
    )


# --------------------------------------------------------------------------
# Aggregation variants
# --------------------------------------------------------------------------


@query(
    "agg_basic",
    oracle=f"""
SELECT event_type, count(*)::BIGINT AS n,
       {_dsum('value')} AS total, {_davg('value')} AS mean,
       min(value) AS vmin, max(value) AS vmax
FROM events GROUP BY event_type
""",
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate: count/sum/avg/min/max per key with map-side
    partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total"),
        davg("value").alias("mean"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@query(
    "agg_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id)::BIGINT AS n_users,
       count(DISTINCT user_id % 10)::BIGINT AS n_user_buckets
FROM events GROUP BY event_type
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact distinct counts per group. The (event_type, user_id)
    pairs are deduplicated once; users are then counted over them and
    the buckets with the one remaining distinct aggregate. Two distinct
    aggregates in one ``agg`` make Spark expand every row once per
    distinct group, and its rewrite orders those groups by a hash that
    includes expression ids, so the plan and its codegen classes
    differed from one build to the next."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return ev.distinct().groupBy("event_type").agg(
        F.count("user_id").alias("n_users"),
        F.countDistinct(F.col("user_id") % 10).alias("n_user_buckets"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
       true AS within_tolerance
FROM events GROUP BY event_type
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct next to the exact count. At 100 TB the
    sketch replaces the exact expand-shuffle for dashboard-grade counts.

    Driver-verifiable despite the implementation-specific estimate: the
    query emits the exact count plus a boolean ``within_tolerance``
    (|approx - exact| / exact <= 5%, vs the sketch's rsd=0.01); the
    oracle returns the same exact count and literal true, so a sketch
    regression flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    exact = F.countDistinct("user_id").cast("long")
    approx = F.approx_count_distinct("user_id", 0.01)
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (
            F.abs(approx - exact) <= F.greatest(exact * 0.05, F.lit(2.0))
        ).alias("within_tolerance"),
    )


@query(
    "agg_rollup",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status, status+priority, grand total)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "agg_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations of the two dimensions."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@query(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (same Catalyst Expand
    node as rollup/cube)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_filtered",
    oracle=f"""
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
            FILTER (WHERE l_discount > 0.05) AS DOUBLE)      AS qty_highdisc,
       count(*) FILTER (WHERE l_tax > 0.04)::BIGINT          AS n_hightax,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_linestatus = 'O') AS DOUBLE)     AS price_open
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: sum(when(cond, x)) == SQL FILTER clause."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum(F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))).alias(
            "qty_highdisc"
        ),
        F.count(F.when(F.col("l_tax") > 0.04, F.lit(1))).alias("n_hightax"),
        dsum(F.when(F.col("l_linestatus") == "O", F.col("l_extendedprice"))).alias(
            "price_open"
        ),
    )


@query(
    "agg_collect",
    oracle="""
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), '|') AS nations,
       array_to_string(list_sort(list(DISTINCT n_name[1:1])), '|') AS initials
FROM nation GROUP BY n_regionkey
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set, canonicalized with array_sort and
    joined to a delimited string: the driver's pandas value-hash cannot
    digest array-typed cells (round-1 `TypeError: unhashable type`), so
    collections are emitted as deterministic strings on both engines."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("nations"),
        F.array_join(
            F.array_sort(F.collect_set(F.substring("n_name", 1, 1))), "|"
        ).alias("initials"),
    )


@query(
    "agg_stats",
    oracle="""
SELECT o_orderstatus,
       round(stddev_samp(o_totalprice), 2) AS sd_price,
       round(corr(o_totalprice, o_custkey), 6) AS corr_price_cust,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
FROM orders GROUP BY o_orderstatus
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev, correlation, exact interpolated
    percentiles (rounded — incremental moment algorithms differ in
    last-bit float behavior across engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
        F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("corr_price_cust"),
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_price"),
    )


@query(
    "agg_pivot",
    oracle=f"""
SELECT l_returnflag,
       {_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS "O",
       {_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS "F"
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per l_linestatus value (explicit value list so
    no extra distinct-discovery job runs)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )


# --------------------------------------------------------------------------
# Sort / limit
# --------------------------------------------------------------------------


@query(
    "sort_multi_nulls",
    oracle="""
SELECT c_custkey, bal FROM (
  SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer
) ORDER BY bal ASC NULLS FIRST, c_custkey LIMIT 25
""",
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null placement; LIMIT makes the
    ordering observable under the driver's order-insensitive hash."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return (
        c.select("c_custkey", bal.alias("bal"))
        .orderBy(F.asc_nulls_first("bal"), F.asc("c_custkey"))
        .limit(25)
    )


@query(
    "limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
""",
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark runs TakeOrderedAndProject (per-partition
    top-k then merge on the driver — no full sort, no full shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


@query(
    "agg_approx_quantile",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS exact_median,
       true AS median_within_tol,
       true AS p99_within_tol
FROM orders GROUP BY o_orderstatus
""",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch) next to the exact
    interpolated percentile. The sketch is the 100 TB path — mergeable,
    bounded-memory.

    Driver-verifiable despite the implementation-specific sketch value:
    emits the exact median plus booleans asserting the approx median/p99
    land within 5% relative error of the exact values; the oracle
    returns the exact median and literal trues."""
    o = load_table(spark, sf_dir, "orders")
    exact_med = F.percentile("o_totalprice", 0.5)
    exact_p99 = F.percentile("o_totalprice", 0.99)
    approx_med = F.percentile_approx("o_totalprice", 0.5, 1000)
    approx_p99 = F.percentile_approx("o_totalprice", 0.99, 1000)
    return o.groupBy("o_orderstatus").agg(
        F.round(exact_med, 4).alias("exact_median"),
        (F.abs(approx_med - exact_med) <= exact_med * 0.05).alias(
            "median_within_tol"
        ),
        (F.abs(approx_p99 - exact_p99) <= exact_p99 * 0.05).alias("p99_within_tol"),
    )


@query(
    "join_skew_salted",
    oracle="""
WITH big AS (
  SELECT event_id, CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END AS k, value
  FROM events
),
dim AS (
  SELECT user_id AS k, count(*)::BIGINT AS user_events
  FROM events GROUP BY user_id
)
SELECT b.event_id, b.k, d.user_events
FROM big b JOIN dim d ON b.k = d.k
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handling pattern made explicit: a third of the fact rows
    collapse onto one hot key (k=0). The join salts the big side
    (pmod(hash, 8)) and replicates the dim side 8x, so the hot key
    spreads over 8 shuffle partitions instead of one straggler task.
    The oracle is the UNSALTED join — salting must be semantically
    invisible. (AQE skew-join does this adaptively; the manual pattern
    is for engines/joins AQE can't reach.)"""
    ev = load_table(spark, sf_dir, "events")
    n_salt = 8
    big = ev.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    ).withColumn("salt", F.pmod(F.hash("event_id"), F.lit(n_salt)))
    dim = (
        ev.groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("user_events"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    return big.join(dim, ["k", "salt"]).select("event_id", "k", "user_events")


@query(
    "agg_string_concat",
    oracle="""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation GROUP BY n_regionkey
""",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): collect_list →
    array_sort → array_join, which pins the concatenation order
    deterministically — Spark 4's native ``listagg`` offers no
    within-group ORDER BY from the DataFrame API, and an unordered
    concat is nondeterministic under parallel merge."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "agg_boolean",
    oracle="""
SELECT o_orderpriority,
       count_if(o_totalprice > 100000)::BIGINT AS n_big,
       bool_and(o_totalprice > 0)              AS all_positive,
       bool_or(o_orderstatus = 'F')            AS any_finished,
       min(o_orderdate)                        AS first_date
FROM orders GROUP BY o_orderpriority
""",
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: count_if, bool_and (EVERY),
    bool_or (SOME), plus min-as-deterministic-any_value (the built-in
    any_value is first-seen and therefore nondeterministic under
    parallel scan — min is the reproducible choice)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).cast("long").alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.min("o_orderdate").alias("first_date"),
    )


@query(
    "agg_hll_mergeable",
    oracle="""
SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
       true AS hll_ok
FROM events GROUP BY event_type
""",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HLL sketches (Datasketches ``hll_sketch_agg`` /
    ``hll_union_agg``, Spark 3.5+) — the production distinct-counting
    architecture that ``agg_approx_distinct``'s opaque scalar can't
    express: per-day sketches are built FIRST (the pattern a 100 TB
    pipeline materializes as a sketch TABLE — bytes you can store,
    ship, and re-aggregate later without touching raw data), then
    union-merged per event type and estimated. The two-level plan is
    the point: a new day's data only builds its own sketch; historical
    re-aggregation merges bytes, never rescans events.

    Verdict pattern (the approx-aggregate precedent): emits the exact
    distinct count plus ``hll_ok`` = merged-sketch estimate within 5%
    relative (lgK=12 gives ~1.6% standard error; measured exact-match
    at the driver SFs). The oracle returns the same exact counts and
    literal true — an estimator or merge regression flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("hll_ok"),
    )


@query(
    "join_asof_multi",
    oracle="""
WITH m AS (
  SELECT *,
         CASE WHEN event_type = 'click' THEN value END AS click_v,
         CASE WHEN event_type = 'view' THEN value END AS view_v,
         CASE WHEN event_type = 'error' THEN ts END AS error_ts
  FROM events
)
SELECT event_id, user_id, ts,
       last_value(click_v IGNORE NULLS) OVER w AS last_click_value,
       last_value(view_v IGNORE NULLS) OVER w AS last_view_value,
       last_value(error_ts IGNORE NULLS) OVER w AS last_error_ts,
       ((last_value(click_v IGNORE NULLS) OVER w IS NOT NULL)::BIGINT
        + (last_value(view_v IGNORE NULLS) OVER w IS NOT NULL)::BIGINT
        + (last_value(error_ts IGNORE NULLS) OVER w IS NOT NULL)::BIGINT)
         AS n_features_present
FROM m
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
QUALIFY event_type = 'purchase'
""",
)
def join_asof_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: for each purchase (the label
    spine), the latest strictly-earlier value from THREE feature
    streams (last click value, last view value, last error timestamp)
    — the classic training-set assembly step that must never leak
    future data.

    Scale shape: the naive spelling is one as-of join PER feature
    table (N shuffles, N build sides); this is the one-pass
    generalization of `join_asof` — union the spine with all feature
    streams, ONE shuffle on the entity key, and one window computes
    every feature column via conditional `last_value IGNORE NULLS`.
    Adding a feature adds a projection column, not a join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("value")).alias("click_v"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("view_v"),
        F.when(F.col("event_type") == "error", F.col("ts")).alias("error_ts"),
    )
    feats = [
        F.last("click_v", ignorenulls=True).over(w).alias("last_click_value"),
        F.last("view_v", ignorenulls=True).over(w).alias("last_view_value"),
        F.last("error_ts", ignorenulls=True).over(w).alias("last_error_ts"),
    ]
    out = marked.select("event_id", "user_id", "ts", "event_type", *feats)
    present = sum(
        F.col(c).isNotNull().cast("long")
        for c in ("last_click_value", "last_view_value", "last_error_ts")
    )
    return (
        out.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_click_value",
            "last_view_value",
            "last_error_ts",
            present.alias("n_features_present"),
        )
    )


SN_WINDOW = 3  # sorted-neighborhood comparison window (self + 2 successors)
SN_MAX_LEV = 10
SN_BLOCK_PREFIX = 6  # chars of the folded sort key that define a block


@query(
    "er_sorted_neighborhood",
    oracle=f"""
WITH dirty AS (
  SELECT p_partkey AS rec_id, replace(p_name, 'a', '@') AS name, 1 AS is_dirty
  FROM part WHERE p_partkey % 5 = 1
),
clean AS (
  SELECT p_partkey AS rec_id, p_name AS name, 0 AS is_dirty FROM part
),
recs AS (
  SELECT *, replace(name, '@', 'a') AS sort_key,
         substr(replace(name, '@', 'a'), 1, {SN_BLOCK_PREFIX}) AS blk
  FROM (SELECT * FROM dirty UNION ALL SELECT * FROM clean)
),
neigh AS (
  SELECT rec_id, name, is_dirty,
         lead(rec_id, 1) OVER w AS id1, lead(name, 1) OVER w AS name1,
         lead(is_dirty, 1) OVER w AS d1,
         lead(rec_id, 2) OVER w AS id2, lead(name, 2) OVER w AS name2,
         lead(is_dirty, 2) OVER w AS d2
  FROM recs
  WINDOW w AS (PARTITION BY blk ORDER BY sort_key, is_dirty, rec_id)
),
cand AS (
  SELECT CASE WHEN is_dirty = 1 THEN rec_id ELSE id1 END AS dirty_id,
         CASE WHEN is_dirty = 1 THEN id1 ELSE rec_id END AS clean_id,
         CASE WHEN is_dirty = 1 THEN name ELSE name1 END AS dname,
         CASE WHEN is_dirty = 1 THEN name1 ELSE name END AS cname
  FROM neigh WHERE id1 IS NOT NULL AND is_dirty <> d1
  UNION ALL
  SELECT CASE WHEN is_dirty = 1 THEN rec_id ELSE id2 END,
         CASE WHEN is_dirty = 1 THEN id2 ELSE rec_id END,
         CASE WHEN is_dirty = 1 THEN name ELSE name2 END,
         CASE WHEN is_dirty = 1 THEN name2 ELSE name END
  FROM neigh WHERE id2 IS NOT NULL AND is_dirty <> d2
),
scored AS (
  SELECT dirty_id, clean_id, levenshtein(dname, cname)::BIGINT AS lev
  FROM cand WHERE levenshtein(dname, cname) <= {SN_MAX_LEV}
)
SELECT dirty_id, clean_id AS matched_partkey, lev
FROM scored
QUALIFY row_number() OVER (PARTITION BY dirty_id
                           ORDER BY lev, clean_id) = 1
""",
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution — the OTHER classic
    blocking strategy next to `join_fuzzy_blocked`'s key blocking:
    dirty and clean records are unioned, sorted by a typo-folded key,
    and each record is compared only with its {SN_WINDOW}-record
    neighborhood via `lead()` columns; `levenshtein` runs on
    neighborhood pairs only, never all pairs.

    Distributed spelling: the sort window is PARTITIONED by a
    {SN_BLOCK_PREFIX}-char prefix block of the sort key, so each
    block sorts independently (one shuffle on the block key, windows
    within partitions) — the standard scale adaptation, at the
    documented cost that matches straddling a block boundary are
    missed; production systems run a second pass with a shifted key
    (Hernández-Stolfo multi-pass), which this operator's single pass
    stands in for. Typos here never corrupt the first
    {SN_BLOCK_PREFIX} chars' fold, so the oracle is exact."""
    p = load_table(spark, sf_dir, "part")
    dirty = p.filter(F.col("p_partkey") % 5 == 1).select(
        F.col("p_partkey").alias("rec_id"),
        F.translate("p_name", "a", "@").alias("name"),
        F.lit(1).alias("is_dirty"),
    )
    clean = p.select(
        F.col("p_partkey").alias("rec_id"),
        F.col("p_name").alias("name"),
        F.lit(0).alias("is_dirty"),
    )
    recs = dirty.unionByName(clean).select(
        "*",
        F.translate("name", "@", "a").alias("sort_key"),
    )
    recs = recs.withColumn(
        "blk", F.substring("sort_key", 1, SN_BLOCK_PREFIX)
    )
    w = W.partitionBy("blk").orderBy("sort_key", "is_dirty", "rec_id")
    neigh = recs.select(
        "rec_id",
        "name",
        "is_dirty",
        F.lead("rec_id", 1).over(w).alias("id1"),
        F.lead("name", 1).over(w).alias("name1"),
        F.lead("is_dirty", 1).over(w).alias("d1"),
        F.lead("rec_id", 2).over(w).alias("id2"),
        F.lead("name", 2).over(w).alias("name2"),
        F.lead("is_dirty", 2).over(w).alias("d2"),
    )

    def _arm(idc: str, namec: str, dc: str):
        dirty_first = F.col("is_dirty") == 1
        return (
            neigh.filter(F.col(idc).isNotNull() & (F.col("is_dirty") != F.col(dc)))
            .select(
                F.when(dirty_first, F.col("rec_id")).otherwise(F.col(idc)).alias(
                    "dirty_id"
                ),
                F.when(dirty_first, F.col(idc)).otherwise(F.col("rec_id")).alias(
                    "clean_id"
                ),
                F.when(dirty_first, F.col("name")).otherwise(F.col(namec)).alias(
                    "dname"
                ),
                F.when(dirty_first, F.col(namec)).otherwise(F.col("name")).alias(
                    "cname"
                ),
            )
        )

    cand = _arm("id1", "name1", "d1").unionByName(_arm("id2", "name2", "d2"))
    scored = cand.withColumn(
        "lev", F.levenshtein("dname", "cname").cast("long")
    ).filter(F.col("lev") <= SN_MAX_LEV)
    best = F.row_number().over(
        W.partitionBy("dirty_id").orderBy("lev", "clean_id")
    )
    return (
        scored.withColumn("rn", best)
        .filter(F.col("rn") == 1)
        .select("dirty_id", F.col("clean_id").alias("matched_partkey"), "lev")
    )


@query(
    "agg_mode",
    oracle="""
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment AS modal_segment, n AS modal_count
FROM counts
QUALIFY row_number() OVER (PARTITION BY c_nationkey
                           ORDER BY n DESC, c_mktsegment) = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the most frequent market segment per
    nation, ties broken by segment name. Spelled as count + rank
    rather than the builtin `mode()` because both engines' builtin
    mode picks an ARBITRARY value on ties — the count-rank spelling is
    the reproducible form (and the same two-phase plan: map-side
    combined counts, then a tiny per-group top-1)."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rn = F.row_number().over(
        W.partitionBy("c_nationkey").orderBy(F.desc("n"), F.asc("c_mktsegment"))
    )
    return (
        counts.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("modal_segment"),
            F.col("n").alias("modal_count"),
        )
    )


@query(
    "agg_skew_kurtosis",
    oracle="""
WITH x AS (
  SELECT o_orderstatus, o_totalprice / 100000.0 AS x FROM orders
),
s AS (
  SELECT o_orderstatus, count(*)::BIGINT AS n,
         CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS s1,
         CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS s2,
         CAST(sum(CAST(x * x * x AS DECIMAL(38,18))) AS DOUBLE) AS s3,
         CAST(sum(CAST(x * x * x * x AS DECIMAL(38,18))) AS DOUBLE) AS s4
  FROM x GROUP BY 1
)
SELECT o_orderstatus, n,
       round(((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / nullif(pow((s2 / n) - (s1 / n) * (s1 / n), 1.5), 0.0), 6) AS skewness,
       round(((s4 / n) - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / nullif(pow((s2 / n) - (s1 / n) * (s1 / n), 2.0), 0.0) - 3.0, 6)
         AS excess_kurtosis
FROM s
""",
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population skewness and excess kurtosis per order status
    from FOUR power sums in one aggregate — the deterministic
    alternative to `skewness()`/`kurtosis()`, whose streaming central-
    moment merges (Welford-style) are partition-order-dependent in the
    last bits.

    Prices are pre-scaled by 1e-5 so x^4 stays small enough for the
    DECIMAL(38,18) per-row cast to be exact (skewness/kurtosis are
    scale-invariant, so the statistics are unchanged); each power is
    an identical double on both engines, summed exactly, and the
    moment algebra runs on the reduced 3-row relation. One scan, full
    map-side combine — the agg_regression_ols shape extended to
    4th-order moments.
    """
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        "o_orderstatus", (F.col("o_totalprice") / 100000.0).alias("x")
    )
    dec = "decimal(38,18)"
    s = x.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("s2"),
        F.sum((F.col("x") * F.col("x") * F.col("x")).cast(dec))
        .cast("double")
        .alias("s3"),
        F.sum((F.col("x") * F.col("x") * F.col("x") * F.col("x")).cast(dec))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    r2 = F.col("s2") / n
    r3 = F.col("s3") / n
    r4 = F.col("s4") / n
    var = r2 - m1 * m1
    skew = (r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1) / F.nullif(
        F.pow(var, 1.5), F.lit(0.0)
    )
    kurt = (
        r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1
    ) / F.nullif(F.pow(var, 2.0), F.lit(0.0)) - 3.0
    return s.select(
        "o_orderstatus",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@query(
    "agg_entropy_gini",
    oracle="""
WITH c AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS cnt
  FROM customer GROUP BY 1, 2
),
t AS (
  SELECT c_nationkey, sum(cnt)::BIGINT AS tot, count(*)::BIGINT AS n_segments
  FROM c GROUP BY 1
)
SELECT c.c_nationkey, max(t.tot) AS n_customers, max(t.n_segments) AS n_segments,
       round(CAST(sum(CAST(-(cnt::DOUBLE / tot) * ln(cnt::DOUBLE / tot)
                           AS DECIMAL(38,18))) AS DOUBLE), 6) AS entropy,
       round(1.0 - CAST(sum(CAST((cnt::DOUBLE / tot) * (cnt::DOUBLE / tot)
                                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS gini
FROM c JOIN t ON t.c_nationkey = c.c_nationkey
GROUP BY 1
""",
)
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy and Gini impurity of the market-segment mix per
    nation — the categorical-dispersion aggregates behind decision-tree
    splits and diversity monitors.

    Shares derive from exact BIGINT counts (one (nation, segment) agg,
    totals folded from it — the heavy table is scanned once); ln runs
    on identical doubles and every term is DECIMAL-cast before the
    per-nation sum, so reduction order cannot move bits. The term
    relation is at most nations x segments (125 rows) — constant at
    any corpus size.
    """
    cust = load_table(spark, sf_dir, "customer")
    c = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = c.groupBy("c_nationkey").agg(
        F.sum("cnt").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
    )
    p = F.col("cnt").cast("double") / F.col("tot")
    dec = "decimal(38,18)"
    return (
        c.join(F.broadcast(t), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.max("tot").alias("n_customers"),
            F.max("n_segments").alias("n_segments"),
            F.round(F.sum((-p * F.log(p)).cast(dec)).cast("double"), 6).alias(
                "entropy"
            ),
            F.round(1.0 - F.sum((p * p).cast(dec)).cast("double"), 6).alias("gini"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
WITH w AS (
  SELECT o_orderpriority, o_totalprice AS v,
         (o_orderkey % 5 + 1)::BIGINT AS wt
  FROM orders
),
tot AS (
  SELECT o_orderpriority, sum(wt)::BIGINT AS total_wt FROM w GROUP BY 1
),
c AS (
  SELECT w.o_orderpriority, w.v, w.wt, t.total_wt,
         sum(w.wt) OVER (PARTITION BY w.o_orderpriority
                         ORDER BY w.v, w.wt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS cum_wt
  FROM w JOIN tot t ON t.o_orderpriority = w.o_orderpriority
)
SELECT o_orderpriority, max(total_wt) AS total_wt,
       round(min(CASE WHEN 2 * cum_wt >= total_wt THEN v END), 4)
         AS weighted_median
FROM c GROUP BY 1
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median order price per priority (weight = a
    deterministic 1..5 from the order key): the smallest value whose
    cumulative weight reaches half the total — the robust center neither percentile() nor quantile_cont
    can compute under weights.

    Spelled as an ordered cumulative-weight window (total order:
    value, then weight — deterministic across engines) over each
    group, then the minimal crossing value. Weights and cumulative
    sums are exact BIGINTs, the crossing test is integer arithmetic
    (2*cum >= total avoids any float half), so the selected row is
    identical everywhere. One shuffle on the group key; the window
    frame is running, so state is O(1) per row.
    """
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 5 + 1).cast("long").alias("wt"),
    )
    tot = w.groupBy("o_orderpriority").agg(
        F.sum("wt").cast("long").alias("total_wt")
    )
    cum = (
        w.join(F.broadcast(tot), "o_orderpriority")
        .withColumn(
            "cum_wt",
            F.sum("wt")
            .over(
                W.partitionBy("o_orderpriority")
                .orderBy("v", "wt")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .cast("long"),
        )
    )
    return cum.groupBy("o_orderpriority").agg(
        F.max("total_wt").alias("total_wt"),
        F.round(
            F.min(F.when(2 * F.col("cum_wt") >= F.col("total_wt"), F.col("v"))), 4
        ).alias("weighted_median"),
    )


#: trimmed/winsorized mean: fraction of rows clipped from each tail.
TRIM_FRAC = 0.1


@query(
    "agg_trimmed_mean",
    oracle=f"""
WITH h AS (
  SELECT o_orderpriority AS grp, o_totalprice AS v, count(*)::BIGINT AS c
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT grp, v, c,
         coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cb
  FROM h
),
tot AS (
  SELECT grp, sum(c)::BIGINT AS n,
         CAST(floor(sum(c) * {TRIM_FRAC}) AS BIGINT) AS k
  FROM h GROUP BY 1
),
agg AS (
  SELECT c.grp, t.n, t.k,
         sum(CAST(greatest(least(c.cb + c.c, t.n - t.k)
                           - greatest(c.cb, t.k), 0) AS DECIMAL(28,0))
             * CAST(c.v AS DECIMAL(18,2))) AS tsum,
         min(c.v) FILTER (c.cb + c.c >= t.k + 1) AS v_low,
         min(c.v) FILTER (c.cb + c.c >= t.n - t.k) AS v_high
  FROM cum c JOIN tot t USING (grp)
  GROUP BY 1, 2, 3
)
SELECT grp, n, k,
       round(CAST(tsum AS DOUBLE) / (n - 2 * k), 6) AS trimmed_mean,
       round(CAST(tsum + CAST(k AS DECIMAL(28,0)) * CAST(v_low AS DECIMAL(18,2))
                       + CAST(k AS DECIMAL(28,0)) * CAST(v_high AS DECIMAL(18,2))
                  AS DOUBLE) / n, 6) AS winsorized_mean
FROM agg
""",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed and winsorized means per order priority — the
    robust location estimators between the mean (outlier-fragile) and
    the median (discards 98% of the data). `etl_winsorize` clips rows
    against approx quantiles; this computes the EXACT estimators, at
    scale, with the value-histogram device (feature_quantile_binning):
    collapse to per-(group, value) counts bounded by the 2-dp price
    domain, ONE ordered window over the collapsed relation for
    cumulative counts, then pure integer arithmetic — each value
    contributes min(cum, n-k) - max(cum_before, k) clamped to >= 0
    surviving rows, so ties straddling the trim boundary split
    EXACTLY, with no row-level sort anywhere. Sums ride
    DECIMAL(28,0)xDECIMAL(18,2) (exact); only the final divisions are
    doubles, computed identically on both engines and rounded at 6.
    Winsorization adds k copies of the rank-(k+1) and rank-(n-k)
    boundary values — conditional MINs on the same pass."""
    o = load_table(spark, sf_dir, "orders")
    h = o.groupBy(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    from pyspark.sql import Window as W2

    wprev = (
        W2.partitionBy("grp").orderBy("v").rowsBetween(W2.unboundedPreceding, -1)
    )
    cum = h.select(
        "grp", "v", "c", F.coalesce(F.sum("c").over(wprev), F.lit(0)).alias("cb")
    )
    tot = h.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.floor(F.sum("c") * TRIM_FRAC).cast("long").alias("k"),
    )
    kept = F.greatest(
        F.least(F.col("cb") + F.col("c"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cb"), F.col("k")),
        F.lit(0),
    )
    agg = (
        cum.join(F.broadcast(tot), "grp")
        .groupBy("grp", "n", "k")
        .agg(
            F.sum(
                kept.cast("decimal(28,0)") * F.col("v").cast("decimal(18,2)")
            ).alias("tsum"),
            F.min(
                F.when(F.col("cb") + F.col("c") >= F.col("k") + 1, F.col("v"))
            ).alias("v_low"),
            F.min(
                F.when(
                    F.col("cb") + F.col("c") >= F.col("n") - F.col("k"),
                    F.col("v"),
                )
            ).alias("v_high"),
        )
    )
    wsum = (
        F.col("tsum")
        + F.col("k").cast("decimal(28,0)") * F.col("v_low").cast("decimal(18,2)")
        + F.col("k").cast("decimal(28,0)") * F.col("v_high").cast("decimal(18,2)")
    )
    return agg.select(
        "grp",
        "n",
        "k",
        F.round(
            F.col("tsum").cast("double") / (F.col("n") - 2 * F.col("k")), 6
        ).alias("trimmed_mean"),
        F.round(wsum.cast("double") / F.col("n"), 6).alias("winsorized_mean"),
    )


@query(
    "agg_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS revenue
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT l_partkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey) AS crev
  FROM rev
),
tot AS (SELECT CAST(sum(revenue) AS DOUBLE) AS trev FROM rev),
cls AS (
  SELECT l_partkey, revenue,
         CASE WHEN CAST(crev AS DOUBLE) / trev <= 0.8 THEN 'A'
              WHEN CAST(crev AS DOUBLE) / trev <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM cum, tot
)
SELECT abc, count(*)::BIGINT AS n_parts,
       CAST(sum(revenue) AS DOUBLE) AS class_revenue,
       round(CAST(sum(revenue) AS DOUBLE) / (SELECT trev FROM tot), 6)
         AS revenue_share
FROM cls GROUP BY abc
""",
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto-contribution) classification of parts by revenue:
    rank entities by contribution, classify by cumulative share
    (A <= 80%, B <= 95%, C = tail) — the inventory-analytics staple
    and the long-tail readout for a training-data source mix.

    Plan: the fact table collapses to one revenue row per part (one
    map-side-combined shuffle); the cumulative share runs over that
    ENTITY-BOUNDED rollup (parts, not line items) with a
    deterministic (revenue DESC, partkey) total order, and the grand
    total broadcasts back as a 1-row scalar. The single-partition
    cumsum over the rollup is the documented trade-off at 100 TB
    entity counts: swap in the two-pass bucket-offset cumulative sum
    (the `etl_dense_surrogate_ids` device) with revenue-band buckets
    — same arithmetic, no global window. Revenue rides DECIMAL(18,4)
    end to end; shares are identical doubles rounded at 6, and class
    boundaries compare the exact-decimal cumulative against the
    scalar total on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("revenue")
    )
    rev = track(rev)
    from pyspark.sql import Window as W2

    wc = W2.orderBy(F.desc("revenue"), F.asc("l_partkey")).rowsBetween(
        W2.unboundedPreceding, 0
    )
    tot = rev.agg(F.sum("revenue").cast("double").alias("trev"))
    cls = (
        rev.withColumn("crev", F.sum("revenue").over(wc))
        .crossJoin(F.broadcast(tot))
        .select(
            "revenue",
            F.when(F.col("crev").cast("double") / F.col("trev") <= 0.8, "A")
            .when(F.col("crev").cast("double") / F.col("trev") <= 0.95, "B")
            .otherwise("C")
            .alias("abc"),
            "trev",
        )
    )
    return cls.groupBy("abc").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("revenue").cast("double").alias("class_revenue"),
        F.round(
            F.sum("revenue").cast("double") / F.max("trev"), 6
        ).alias("revenue_share"),
    )


#: Fellegi-Sunter assumed match-probabilities (m) per field; the
#: non-match probabilities (u) are ESTIMATED from the candidate-pair
#: population. ln(m/u) / ln((1-m)/(1-u)) are the classic agree /
#: disagree weights.
FS_M_NAME = 0.95
FS_M_TYPE = 0.9
FS_M_SIZE = 0.85
FS_THRESHOLD = 2.0
#: oversized-block guard: blocks whose clean side exceeds this are
#: skipped entirely (the standard production ER cap — a block this
#: size on a 100 TB corpus is a degenerate key, not a real entity
#: neighborhood; the recall trade is explicit and deterministic).
FS_BLOCK_CAP = 500


@query(
    "er_fellegi_sunter",
    oracle=f"""
WITH dirty AS (
  SELECT p_partkey AS dirty_id, replace(p_name, 'a', '@') AS dirty_name,
         p_brand, p_type, p_size + CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 0 END AS p_size
  FROM part WHERE p_partkey % 7 = 0
),
blocks AS (
  SELECT length(p_name) AS bl, substr(p_name, 1, 8) AS bp, p_brand AS bb
  FROM part GROUP BY 1, 2, 3 HAVING count(*) <= {FS_BLOCK_CAP}
),
cand AS (
  SELECT d.dirty_id, p.p_partkey,
         CASE WHEN replace(d.dirty_name, '@', 'a') = p.p_name
              THEN 1 ELSE 0 END AS an,
         CASE WHEN d.p_type = p.p_type THEN 1 ELSE 0 END AS at,
         CASE WHEN d.p_size = p.p_size THEN 1 ELSE 0 END AS asz
  FROM dirty d
  JOIN part p
    ON length(d.dirty_name) = length(p.p_name)
   AND replace(substr(d.dirty_name, 1, 8), '@', 'a') = substr(p.p_name, 1, 8)
   AND d.p_brand = p.p_brand
  JOIN blocks b
    ON b.bl = length(p.p_name) AND b.bp = substr(p.p_name, 1, 8)
   AND b.bb = p.p_brand
),
u AS (
  SELECT CAST(sum(an) AS DOUBLE) / count(*) AS un,
         CAST(sum(at) AS DOUBLE) / count(*) AS ut,
         CAST(sum(asz) AS DOUBLE) / count(*) AS us
  FROM cand
),
scored AS (
  SELECT c.dirty_id, c.p_partkey,
         round(CASE WHEN c.an = 1 THEN ln({FS_M_NAME} / u.un)
                    ELSE ln((1 - {FS_M_NAME}) / (1 - u.un)) END
             + CASE WHEN c.at = 1 THEN ln({FS_M_TYPE} / u.ut)
                    ELSE ln((1 - {FS_M_TYPE}) / (1 - u.ut)) END
             + CASE WHEN c.asz = 1 THEN ln({FS_M_SIZE} / u.us)
                    ELSE ln((1 - {FS_M_SIZE}) / (1 - u.us)) END, 6) AS score
  FROM cand c, u
)
SELECT dirty_id, p_partkey AS matched_partkey, score,
       score > {FS_THRESHOLD} AS is_match
FROM scored
QUALIFY row_number() OVER (PARTITION BY dirty_id
                           ORDER BY score DESC, p_partkey) = 1
""",
)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage — the principled
    scoring layer the ER family (join_fuzzy_blocked's edit-distance
    pick, er_sorted_neighborhood's blocking) feeds into: each
    candidate pair gets a log-likelihood-ratio score summed over
    field agreements, with agree weight ln(m/u) and disagree weight
    ln((1-m)/(1-u)). m (P(agree | true match)) is the assumed model
    constant; u (P(agree | random pair)) is ESTIMATED from the
    candidate population itself — one global aggregate of exact
    BIGINT agreement counts broadcast back as a 1-row scalar, so both
    engines take ln of identical doubles (full EM fitting is the
    iterative extension; the u-estimation pass shown here is its E-
    step building block).

    Scale shape: candidates come from a length+folded-prefix+brand
    blocking equi-join (never all-pairs), PLUS the production
    oversized-block guard: block keys whose clean side exceeds
    FS_BLOCK_CAP are skipped entirely — on a 100 TB corpus a
    giant block is a degenerate key (empty string, placeholder name),
    and capping it bounds worst-case candidate generation at
    blocks x cap x dirty-side-density instead of n^2 (the explicit,
    deterministic recall trade every real linkage engine makes; this
    fixture's 64-name synthetic vocabulary makes the guard
    load-bearing — without brand in the key and the cap, the
    10x-replica candidate set grew 100x and the slope measured 64x).
    The u-estimate is one map-side-combined reduction over
    candidates; the winner per dirty record is a per-key window.
    Dirty fixture: name fold plus a size perturbation on every third
    record, so the size field genuinely disagrees on some true
    matches and the score separates fields with different evidence
    strength."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("dirty_id"),
        F.regexp_replace("p_name", "a", "@").alias("dirty_name"),
        F.col("p_brand").alias("d_brand"),
        F.col("p_type").alias("d_type"),
        (
            F.col("p_size")
            + F.when(F.col("p_partkey") % 3 == 0, 1).otherwise(0)
        ).alias("d_size"),
    )
    blocks = (
        part.groupBy(
            F.length("p_name").alias("bl"),
            F.substring("p_name", 1, 8).alias("bp"),
            F.col("p_brand").alias("bb"),
        )
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= FS_BLOCK_CAP)
        .drop("bn")
    )
    unfold = lambda c: F.regexp_replace(F.substring(c, 1, 8), "@", "a")
    cand = (
        dirty.join(
            part,
            (F.length("dirty_name") == F.length("p_name"))
            & (unfold(F.col("dirty_name")) == F.substring("p_name", 1, 8))
            & (F.col("d_brand") == F.col("p_brand")),
        )
        .join(
            blocks,
            (F.col("bl") == F.length("p_name"))
            & (F.col("bp") == F.substring("p_name", 1, 8))
            & (F.col("bb") == F.col("p_brand")),
        )
        .select(
            "dirty_id",
            "p_partkey",
            (F.regexp_replace("dirty_name", "@", "a") == F.col("p_name"))
            .cast("int")
            .alias("an"),
            (F.col("d_type") == F.col("p_type")).cast("int").alias("at"),
            (F.col("d_size") == F.col("p_size")).cast("int").alias("asz"),
        )
    )
    cand = track(cand)
    u = cand.agg(
        (F.sum("an").cast("double") / F.count(F.lit(1))).alias("un"),
        (F.sum("at").cast("double") / F.count(F.lit(1))).alias("ut"),
        (F.sum("asz").cast("double") / F.count(F.lit(1))).alias("us"),
    )

    def w(agree_col, m, u_col):
        return F.when(
            F.col(agree_col) == 1, F.log(F.lit(m) / F.col(u_col))
        ).otherwise(F.log((F.lit(1) - F.lit(m)) / (F.lit(1) - F.col(u_col))))

    scored = cand.crossJoin(F.broadcast(u)).select(
        "dirty_id",
        "p_partkey",
        F.round(
            w("an", FS_M_NAME, "un")
            + w("at", FS_M_TYPE, "ut")
            + w("asz", FS_M_SIZE, "us"),
            6,
        ).alias("score"),
    )
    rn = F.row_number().over(
        W.partitionBy("dirty_id").orderBy(F.desc("score"), F.asc("p_partkey"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            F.col("p_partkey").alias("matched_partkey"),
            "score",
            (F.col("score") > FS_THRESHOLD).alias("is_match"),
        )
    )


@query(
    "join_nearest_event",
    oracle="""
WITH m AS (
  SELECT *, CASE WHEN event_type = 'purchase' THEN ts END AS p_ts
  FROM events
),
w AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(p_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
         first_value(p_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
  FROM m
),
pick AS (
  SELECT event_id, user_id, ts,
         CASE
           WHEN prev_ts IS NULL THEN next_ts
           WHEN next_ts IS NULL THEN prev_ts
           WHEN date_diff('microsecond', prev_ts, ts)
                <= date_diff('microsecond', ts, next_ts) THEN prev_ts
           ELSE next_ts
         END AS nearest_purchase_ts,
         CASE
           WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
           WHEN next_ts IS NULL THEN 'prev'
           WHEN prev_ts IS NULL THEN 'next'
           WHEN date_diff('microsecond', prev_ts, ts)
                <= date_diff('microsecond', ts, next_ts) THEN 'prev'
           ELSE 'next'
         END AS direction
  FROM w WHERE event_type = 'error'
)
SELECT event_id, user_id, ts, nearest_purchase_ts, direction,
       abs(date_diff('microsecond', ts, nearest_purchase_ts))::BIGINT
         AS gap_us
FROM pick
""",
)
def join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join: each error event matched to the CLOSEST
    purchase by the same user in either time direction (ties to the
    earlier side) — the bidirectional sibling of `join_asof`, and the
    standard enrichment shape for \"attach the nearest deploy /
    config-change / promotion to every incident\". Like the as-of
    join it is NOT a join at all: one window pass over the unioned
    event stream computes the last-preceding and first-following
    purchase timestamps, then a projection picks the nearer side.

    One shuffle on user_id, zero build-side materialization, gaps in
    exact microseconds (TIMESTAMP_NTZ has no portable epoch cast and
    coarser diffs truncate differently across engines). At 100 TB
    this beats the naive range-join spelling by never materializing
    candidate pairs; both window frames ride the same sort."""
    ev = load_table(spark, sf_dir, "events")
    marked = ev.withColumn(
        "p_ts", F.when(F.col("event_type") == "purchase", F.col("ts"))
    )
    base = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.last("p_ts", ignorenulls=True).over(
        base.rowsBetween(W.unboundedPreceding, -1)
    )
    next_ts = F.first("p_ts", ignorenulls=True).over(
        base.rowsBetween(1, W.unboundedFollowing)
    )
    w = marked.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        prev_ts.alias("prev_ts"),
        next_ts.alias("next_ts"),
    ).where(F.col("event_type") == "error")
    gap_prev = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    gap_next = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    prev_wins = F.col("next_ts").isNull() | (
        F.col("prev_ts").isNotNull() & (gap_prev <= gap_next)
    )
    nearest = F.when(prev_wins, F.col("prev_ts")).otherwise(F.col("next_ts"))
    return w.select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_purchase_ts"),
        F.when(
            F.col("prev_ts").isNull() & F.col("next_ts").isNull(),
            F.lit(None).cast("string"),
        )
        .when(prev_wins, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("direction"),
        F.abs(
            F.expr("timestampdiff(MICROSECOND, ts, "
                   "if(isnull(prev_ts) and isnull(next_ts), null, "
                   "if(isnull(next_ts) or (isnotnull(prev_ts) and "
                   "timestampdiff(MICROSECOND, prev_ts, ts) <= "
                   "timestampdiff(MICROSECOND, ts, next_ts)), prev_ts, next_ts)))")
        )
        .cast("long")
        .alias("gap_us"),
    )


@query(
    "agg_gini_concentration",
    oracle="""
WITH rev AS (
  SELECT c.c_nationkey AS nation, o.o_custkey,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nation, x,
         row_number() OVER (PARTITION BY nation
                            ORDER BY x, o_custkey) AS i,
         count(*) OVER (PARTITION BY nation) AS n
  FROM rev
)
SELECT nation::BIGINT AS nation, max(n)::BIGINT AS n_customers,
       round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE), 2) AS total_revenue,
       round(
         2.0 * CAST(sum(CAST(i * x AS DECIMAL(38,6))) AS DOUBLE)
           / (max(n) * CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE))
         - (max(n) + 1.0) / max(n), 6) AS gini
FROM ranked GROUP BY nation
""",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per nation — continuous-
    value concentration via the rank formula G = 2*sum(i*x_i)/(n*sum x)
    - (n+1)/n over ascending-sorted values (ties broken by customer
    key so both engines rank identically). The revenue-concentration
    twin of `agg_entropy_gini` (which measures categorical impurity);
    this is the \"does 1% of customers carry 80% of revenue\" gate a
    sampling or mixing policy reads before weighting a source.

    Plan: one join + per-customer rollup (shuffle on custkey), one
    rank window per nation, one DECIMAL-summed aggregate — rank sums
    are exact integers times 2-dp decimals, so the result is
    bit-identical across engines before the final round."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("x")
        )
    )
    wr = W.partitionBy("nation").orderBy("x", "o_custkey")
    ranked = rev.select(
        "nation",
        "x",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("nation")).alias("n"),
    )
    sx = F.sum(F.col("x").cast("decimal(38,6)")).cast("double")
    six = F.sum((F.col("i") * F.col("x")).cast("decimal(38,6)")).cast("double")
    return ranked.groupBy("nation").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(sx, 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * six / (F.max("n") * sx)
            - (F.max("n") + F.lit(1.0)) / F.max("n"),
            6,
        ).alias("gini"),
    ).select(
        F.col("nation").cast("long").alias("nation"),
        "n_customers",
        "total_revenue",
        "gini",
    )


@query(
    "agg_pivot_multi",
    oracle=f"""
SELECT l_returnflag,
       {_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS o_qty,
       count(CASE WHEN l_linestatus = 'O' THEN 1 END)::BIGINT AS o_n,
       round(avg(CASE WHEN l_linestatus = 'O'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
             ::DOUBLE, 6) AS o_avg_price,
       {_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS f_qty,
       count(CASE WHEN l_linestatus = 'F' THEN 1 END)::BIGINT AS f_n,
       round(avg(CASE WHEN l_linestatus = 'F'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
             ::DOUBLE, 6) AS f_avg_price
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivoted value: sum(qty),
    count, avg(price) for each l_linestatus — the wide-report shape
    every BI export uses, and a surface corner `agg_pivot` (single
    aggregate) leaves open. Spark names multi-agg pivot columns
    '<value>_<alias>'; they are re-aliased to the fixed o_*/f_* layout
    so the oracle's explicit conditional-aggregation spelling matches
    column-for-column. Still one map-side-combined aggregate — pivot
    with an explicit value list never runs the distinct-discovery
    job."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            dsum("l_quantity").alias("qty"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.avg(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                6,
            ).alias("avg_price"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("O_qty").alias("o_qty"),
        F.col("O_n").alias("o_n"),
        F.col("O_avg_price").alias("o_avg_price"),
        F.col("F_qty").alias("f_qty"),
        F.col("F_n").alias("f_n"),
        F.col("F_avg_price").alias("f_avg_price"),
    )


@query(
    "er_transitive_clusters",
    oracle=f"""
WITH RECURSIVE blocks AS (
  SELECT length(p_name) AS bl, substr(p_name, 1, 8) AS bp, p_brand AS bb
  FROM part GROUP BY 1, 2, 3
  HAVING count(*) BETWEEN 2 AND {FS_BLOCK_CAP}
),
cand AS (
  SELECT a.p_partkey AS pa, b.p_partkey AS pb,
         CASE WHEN a.p_name = b.p_name THEN 1 ELSE 0 END AS an,
         CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS at,
         CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS asz
  FROM part a
  JOIN part b
    ON length(a.p_name) = length(b.p_name)
   AND substr(a.p_name, 1, 8) = substr(b.p_name, 1, 8)
   AND a.p_brand = b.p_brand
   AND a.p_partkey < b.p_partkey
  JOIN blocks k
    ON k.bl = length(a.p_name) AND k.bp = substr(a.p_name, 1, 8)
   AND k.bb = a.p_brand
),
u AS (
  SELECT CAST(sum(an) AS DOUBLE) / count(*) AS un,
         CAST(sum(at) AS DOUBLE) / count(*) AS ut,
         CAST(sum(asz) AS DOUBLE) / count(*) AS us
  FROM cand
),
matches AS (
  SELECT pa, pb
  FROM cand c, u
  WHERE round(CASE WHEN c.an = 1 THEN ln({FS_M_NAME} / u.un)
                   ELSE ln((1 - {FS_M_NAME}) / (1 - u.un)) END
            + CASE WHEN c.at = 1 THEN ln({FS_M_TYPE} / u.ut)
                   ELSE ln((1 - {FS_M_TYPE}) / (1 - u.ut)) END
            + CASE WHEN c.asz = 1 THEN ln({FS_M_SIZE} / u.us)
                   ELSE ln((1 - {FS_M_SIZE}) / (1 - u.us)) END, 6)
        > {FS_THRESHOLD}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM matches
  UNION ALL SELECT pb, pa FROM matches
),
reach(node, r) AS (
  SELECT p_partkey, p_partkey FROM part
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (
  SELECT node AS p_partkey, min(r) AS entity_id FROM reach GROUP BY node
)
SELECT p_partkey::BIGINT AS p_partkey, entity_id::BIGINT AS entity_id,
       (count(*) OVER (PARTITION BY entity_id))::BIGINT AS cluster_size,
       (p_partkey = entity_id) AS is_canonical
FROM comp
QUALIFY count(*) OVER (PARTITION BY entity_id) > 1
""",
)
def er_transitive_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-cluster resolution — the step that COMPLETES the ER
    ladder (join_fuzzy_blocked / er_sorted_neighborhood block,
    er_fellegi_sunter scores; this clusters): same-block part pairs
    are FS-scored over (name, type, size) agreements with the
    candidate-population u-estimate, pairs above the
    {FS_THRESHOLD} log-likelihood threshold become undirected MATCH
    EDGES, and transitive closure (iterative min-label propagation,
    `api.connected_components`) assigns every linked record its
    entity id = the smallest member key — the canonical-record rule.
    Emits the non-singleton entities: (record, entity_id,
    cluster_size, is_canonical) — the Splink-style
    threshold-then-cluster output a downstream MERGE consumes.
    Pairwise match decisions are NOT transitive; the closure is what
    turns them into a consistent entity partition, which is why this
    is its own operator and not a flag on the scorer.

    Scale shape: candidates come from the same capped blocking
    equi-join as the FS scorer (2..{FS_BLOCK_CAP}-record blocks;
    singleton blocks can't pair, oversized blocks are degenerate
    keys — both pruned BEFORE the self-join), u folds from one exact
    aggregate broadcast back, and components converge in
    O(diameter) rounds of the propagation loop — match graphs are
    shallow (clusters are near-cliques), so rounds stay single-digit
    at any corpus size. The oracle's recursive-CTE closure is
    small-SF-only; the propagation loop is the 100 TB path (same
    split as `dedup_connected_components`)."""
    from ..api import connected_components
    from pyspark.sql import Window as W2

    part = load_table(spark, sf_dir, "part")
    bl = F.length("p_name")
    bp = F.substring("p_name", 1, 8)
    blocks = (
        part.groupBy(
            bl.alias("bl"), bp.alias("bp"), F.col("p_brand").alias("bb")
        )
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter((F.col("bn") >= 2) & (F.col("bn") <= FS_BLOCK_CAP))
        .drop("bn")
    )
    keyed = part.select(
        "p_partkey", "p_name", "p_type", "p_size", "p_brand",
        bl.alias("bl"), bp.alias("bp"),
    ).join(
        F.broadcast(blocks.withColumnRenamed("bb", "p_brand")),
        ["bl", "bp", "p_brand"],
    )
    keyed = track(keyed)  # both self-join arms
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bl") == F.col("b.bl"))
            & (F.col("a.bp") == F.col("b.bp"))
            & (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("pa"),
            F.col("b.p_partkey").alias("pb"),
            (F.col("a.p_name") == F.col("b.p_name")).cast("int").alias("an"),
            (F.col("a.p_type") == F.col("b.p_type")).cast("int").alias("at"),
            (F.col("a.p_size") == F.col("b.p_size")).cast("int").alias("asz"),
        )
        .transform(track)  # u-estimate + scored filter both consume it
    )
    u = cand.agg(
        (F.sum("an").cast("double") / F.count(F.lit(1))).alias("un"),
        (F.sum("at").cast("double") / F.count(F.lit(1))).alias("ut"),
        (F.sum("asz").cast("double") / F.count(F.lit(1))).alias("us"),
    )

    def w(agree, m, ucol):
        return F.when(
            agree == 1, F.log(F.lit(m) / F.col(ucol))
        ).otherwise(F.log(F.lit(1 - m) / (1 - F.col(ucol))))

    score = F.round(
        w(F.col("an"), FS_M_NAME, "un")
        + w(F.col("at"), FS_M_TYPE, "ut")
        + w(F.col("asz"), FS_M_SIZE, "us"),
        6,
    )
    matches = (
        cand.crossJoin(F.broadcast(u))
        .filter(score > FS_THRESHOLD)
        .select("pa", "pb")
    )
    comp = connected_components(matches, "pa", "pb")
    sized = comp.select(
        F.col("node").alias("p_partkey"),
        F.col("component_id").alias("entity_id"),
        F.count(F.lit(1))
        .over(W2.partitionBy("component_id"))
        .cast("long")
        .alias("cluster_size"),
    )
    return sized.filter(F.col("cluster_size") > 1).select(
        "p_partkey",
        "entity_id",
        "cluster_size",
        (F.col("p_partkey") == F.col("entity_id")).alias("is_canonical"),
    )


def _golden_oracle() -> str:
    return f"""
WITH RECURSIVE blocks AS (
  SELECT length(p_name) AS bl, substr(p_name, 1, 8) AS bp, p_brand AS bb
  FROM part GROUP BY 1, 2, 3
  HAVING count(*) BETWEEN 2 AND {FS_BLOCK_CAP}
),
cand AS (
  SELECT a.p_partkey AS pa, b.p_partkey AS pb,
         CASE WHEN a.p_name = b.p_name THEN 1 ELSE 0 END AS an,
         CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS at,
         CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS asz
  FROM part a
  JOIN part b
    ON length(a.p_name) = length(b.p_name)
   AND substr(a.p_name, 1, 8) = substr(b.p_name, 1, 8)
   AND a.p_brand = b.p_brand
   AND a.p_partkey < b.p_partkey
  JOIN blocks k
    ON k.bl = length(a.p_name) AND k.bp = substr(a.p_name, 1, 8)
   AND k.bb = a.p_brand
),
u AS (
  SELECT CAST(sum(an) AS DOUBLE) / count(*) AS un,
         CAST(sum(at) AS DOUBLE) / count(*) AS ut,
         CAST(sum(asz) AS DOUBLE) / count(*) AS us
  FROM cand
),
matches AS (
  SELECT pa, pb
  FROM cand c, u
  WHERE round(CASE WHEN c.an = 1 THEN ln({FS_M_NAME} / u.un)
                   ELSE ln((1 - {FS_M_NAME}) / (1 - u.un)) END
            + CASE WHEN c.at = 1 THEN ln({FS_M_TYPE} / u.ut)
                   ELSE ln((1 - {FS_M_TYPE}) / (1 - u.ut)) END
            + CASE WHEN c.asz = 1 THEN ln({FS_M_SIZE} / u.us)
                   ELSE ln((1 - {FS_M_SIZE}) / (1 - u.us)) END, 6)
        > {FS_THRESHOLD}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM matches
  UNION ALL SELECT pb, pa FROM matches
),
reach(node, r) AS (
  SELECT p_partkey, p_partkey FROM part
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (
  SELECT node AS p_partkey, min(r) AS entity_id FROM reach GROUP BY node
),
members AS (
  SELECT c.entity_id, p.p_partkey, p.p_name, p.p_type, p.p_size,
         p.p_retailprice
  FROM comp c JOIN part p USING (p_partkey)
  QUALIFY count(*) OVER (PARTITION BY entity_id) > 1
),
name_mode AS (
  SELECT entity_id, p_name AS golden_name, count(*)::BIGINT AS name_support
  FROM members GROUP BY entity_id, p_name
  QUALIFY row_number() OVER (PARTITION BY entity_id
                             ORDER BY count(*) DESC, p_name) = 1
),
type_mode AS (
  SELECT entity_id, p_type AS golden_type
  FROM members GROUP BY entity_id, p_type
  QUALIFY row_number() OVER (PARTITION BY entity_id
                             ORDER BY count(*) DESC, p_type) = 1
),
size_med AS (
  SELECT entity_id, p_size::BIGINT AS golden_size
  FROM (SELECT entity_id, p_size, p_partkey,
               row_number() OVER (PARTITION BY entity_id
                                  ORDER BY p_size, p_partkey) AS rn,
               count(*) OVER (PARTITION BY entity_id) AS n
        FROM members)
  WHERE rn = (n + 1) // 2
),
base AS (
  SELECT entity_id, count(*)::BIGINT AS n_members,
         max(p_retailprice) AS max_retailprice
  FROM members GROUP BY entity_id
)
SELECT b.entity_id::BIGINT AS entity_id, b.n_members, nm.golden_name,
       nm.name_support,
       round(nm.name_support::DOUBLE / b.n_members, 6) AS name_agreement,
       tm.golden_type, sm.golden_size, b.max_retailprice
FROM base b
JOIN name_mode nm USING (entity_id)
JOIN type_mode tm USING (entity_id)
JOIN size_med sm USING (entity_id)
"""


@query("er_golden_record", oracle=_golden_oracle())
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the MERGE step that finishes the
    ER ladder (block -> score -> cluster -> merge): each entity from
    `er_transitive_clusters` collapses to ONE master record by the
    standard MDM survivorship rules, all spelled deterministically so
    the merged record is a pure function of the cluster: most
    frequent value wins for name and type (ties -> lexicographically
    smallest — the `agg_mode` device per entity), the exact lower
    median for the numeric size (rank (n+1)//2 in (value, record-key)
    order), max for retail price (the completeness proxy), plus
    merge provenance (member count, winning-name support and
    agreement share) so a steward can audit every golden value.

    Scale shape: everything after clustering is per-entity
    aggregation — the mode and median run as windows PARTITIONED BY
    entity over cluster-sized groups (clusters are near-cliques of
    blocked candidates, bounded by the {FS_BLOCK_CAP}-record block
    cap upstream, never corpus-sized partitions), and the final
    report is entities-sized. The cluster step's own scale story
    (capped blocking self-join, O(diameter) propagation) is
    inherited unchanged; this operator adds one shuffle keyed on
    entity_id."""
    clusters = er_transitive_clusters(spark, sf_dir).select(
        "p_partkey", "entity_id"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_type", "p_size", "p_retailprice"
    )
    members = clusters.join(part, "p_partkey").transform(track)
    wname = W.partitionBy("entity_id").orderBy(
        F.desc("name_support"), F.asc("p_name")
    )
    name_mode = (
        members.groupBy("entity_id", "p_name")
        .agg(F.count(F.lit(1)).cast("long").alias("name_support"))
        .withColumn("_rn", F.row_number().over(wname))
        .filter(F.col("_rn") == 1)
        .select(
            "entity_id",
            F.col("p_name").alias("golden_name"),
            "name_support",
        )
    )
    wtype = W.partitionBy("entity_id").orderBy(
        F.desc("_tc"), F.asc("p_type")
    )
    type_mode = (
        members.groupBy("entity_id", "p_type")
        .agg(F.count(F.lit(1)).alias("_tc"))
        .withColumn("_rn", F.row_number().over(wtype))
        .filter(F.col("_rn") == 1)
        .select("entity_id", F.col("p_type").alias("golden_type"))
    )
    wmed = W.partitionBy("entity_id").orderBy("p_size", "p_partkey")
    went = W.partitionBy("entity_id")
    size_med = (
        members.select(
            "entity_id",
            "p_size",
            F.row_number().over(wmed).alias("_rn"),
            F.count(F.lit(1)).over(went).alias("_n"),
        )
        .filter(
            F.col("_rn") == F.floor((F.col("_n") + 1) / 2).cast("long")
        )
        .select("entity_id", F.col("p_size").cast("long").alias("golden_size"))
    )
    base = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("p_retailprice").alias("max_retailprice"),
    )
    return (
        base.join(name_mode, "entity_id")
        .join(type_mode, "entity_id")
        .join(size_med, "entity_id")
        .select(
            "entity_id",
            "n_members",
            "golden_name",
            "name_support",
            F.round(
                F.col("name_support").cast("double") / F.col("n_members"), 6
            ).alias("name_agreement"),
            "golden_type",
            "golden_size",
            "max_retailprice",
        )
    )
