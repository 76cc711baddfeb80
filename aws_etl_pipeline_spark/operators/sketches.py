"""Mergeable data sketches as first-class distributed aggregations:
count-min (heavy hitters), KMV/theta (distinct + set intersection) and
Bloom filters (membership pre-filtering).

Why sketches are a 100 TB primitive: every one of these reduces a
corpus-sized relation to a CONSTANT-size mergeable state (d*w counters,
k minimum hashes, m bits) whose merge operator is associative and
commutative — exactly the contract Spark's partial aggregation
(map-side combine) exploits. At 1000 executors each partition folds its
rows into a tiny local state and the shuffle moves only those states,
never the rows; this family is how you count distinct users, find heavy
hitters, or intersect audiences over 100 TB with megabytes of traffic.
(`agg_hll_mergeable` pins the same story for HyperLogLog via
Datasketches byte blobs; these three pin it with arithmetic the DuckDB
oracle can replay hash-for-hash.)

Hash parity: both engines compute ``md5`` of identical strings and take
the first 8 (or 15) hex chars as an integer — Spark via
``conv(substr(...), 16, 10)``, DuckDB via ``('0x' || substr(...))::
BIGINT`` — the same cross-engine device ``sample_stable_hash`` and the
minhash family already rely on (api.py:149).

Reference scope: the reference pipeline has no sketches at all (its
whole analytics surface is eager pandas over 75-row batches,
lambda_function.py); this family is north-star surface per SURVEY §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..cache import track
from ..catalog import load_spread, load_table
from ..registry import query

__all__ = [
    "sketch_countmin_heavyhitters",
    "sketch_kmv_distinct",
    "sketch_bloom_membership",
    "sketch_theta_intersect",
]

# ------------------------------------------------------------ count-min
#: depth (independent hash rows) and width (counters per row). The
#: corpus vocabulary is ~31 words, so w=16 forces real collisions and
#: the one-sided error (estimate >= truth, by construction) is visible
#: in the output rather than vacuously zero.
CMS_D = 4
CMS_W = 16


def _cms_col_spark(r: int, tok: F.Column) -> F.Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cms{r}:"), tok)), 1, 8), 16, 10
    ).cast("long")
    return (h % CMS_W).alias(f"c{r}")


def _cms_col_sql(r: int, tok: str) -> str:
    return f"(('0x' || substr(md5('cms{r}:' || {tok}), 1, 8))::BIGINT % {CMS_W})"


@query(
    "sketch_countmin_heavyhitters",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok FROM documents
),
cells AS (
  SELECT r, c, count(*)::BIGINT AS cnt
  FROM (
    {" UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_col_sql(r, 'tok')} AS c FROM toks"
        for r in range(CMS_D)
    )}
  )
  GROUP BY r, c
),
exact AS (SELECT tok, count(*)::BIGINT AS exact_n FROM toks GROUP BY tok),
probes AS (
  SELECT tok, exact_n, r, {_cms_col_sql(0, 'tok')} AS c0,
         {_cms_col_sql(1, 'tok')} AS c1, {_cms_col_sql(2, 'tok')} AS c2,
         {_cms_col_sql(3, 'tok')} AS c3
  FROM exact CROSS JOIN (SELECT unnest(range({CMS_D})) AS r)
),
est AS (
  SELECT p.tok, p.exact_n, min(s.cnt)::BIGINT AS cms_est
  FROM probes p
  JOIN cells s
    ON s.r = p.r
   AND s.c = CASE p.r WHEN 0 THEN p.c0 WHEN 1 THEN p.c1
                      WHEN 2 THEN p.c2 ELSE p.c3 END
  GROUP BY p.tok, p.exact_n
)
SELECT tok, exact_n, cms_est, (cms_est >= exact_n) AS never_undercounts
FROM est
""",
)
def sketch_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d={CMS_D} rows x w={CMS_W} counters) over the
    corpus token stream, probed for every vocabulary term against the
    exact counts.

    100 TB shape: the sketch build hashes each occurrence into d cells
    and aggregates by (row, col) — a {CMS_D}x{CMS_W}-cell state with
    map-side combine, so the shuffle carries at most d*w rows PER
    PARTITION no matter how many tokens stream through. The probe side
    joins the (broadcast-size) sketch back to the vocabulary. The CMS
    guarantee (estimate never below truth) is emitted as a per-term
    verdict column, so the driver hash-pins both the arithmetic and the
    invariant."""
    # load_spread: the build is compute-bound (4 md5 evaluations per
    # token occurrence — the oracle-parity hash; production swaps in
    # xxhash64 for ~10x less hash cost, one line, same plan); the
    # 100x replica arrives as 2 file splits, which would serialize
    # 256M hash calls onto 2 cores without the up-front spread.
    d = load_spread(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok")
    ).transform(track)  # feeds the sketch build AND the exact counts

    # build: each occurrence -> d (row, col) increments, then one tiny
    # (r, c) aggregation. posexplode keeps it a single pass.
    cells = (
        toks.select(
            F.posexplode(
                F.array(*[(_cms_col_spark(r, F.col("tok"))) for r in range(CMS_D)])
            ).alias("r", "c")
        )
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )

    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )

    # probe: vocabulary x d rows -> look up each cell, min across rows.
    probes = exact.select(
        "tok",
        "exact_n",
        F.posexplode(
            F.array(*[(_cms_col_spark(r, F.col("tok"))) for r in range(CMS_D)])
        ).alias("r", "c"),
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "c"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("never_undercounts"),
    )


# ------------------------------------------------------------ KMV distinct
#: k minimum hash values kept per group; estimate = (k-1) * 2^60 / h_k.
KMV_K = 64
_H60 = float(1 << 60)


def _h60_spark(col: F.Column) -> F.Column:
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("long")


def _h60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"


@query(
    "sketch_kmv_distinct",
    oracle=f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
hashed AS (
  SELECT o_orderpriority, {_h60_sql('o_custkey')} AS h FROM keys
),
ranked AS (
  SELECT o_orderpriority, h,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY h, o_orderpriority) AS rn
  FROM hashed
),
sk AS (
  SELECT o_orderpriority,
         max(CASE WHEN rn <= {KMV_K} THEN h END) AS hk,
         count(*) FILTER (WHERE rn <= {KMV_K})::BIGINT AS kk,
         count(*)::BIGINT AS exact_distinct
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, exact_distinct,
       round(CASE WHEN kk < {KMV_K} THEN exact_distinct::DOUBLE
                  ELSE ({KMV_K} - 1) * {_H60:.1f} / hk END, 4) AS kmv_est,
       round(abs(CASE WHEN kk < {KMV_K} THEN exact_distinct::DOUBLE
                      ELSE ({KMV_K} - 1) * {_H60:.1f} / hk END
                 - exact_distinct) / exact_distinct, 4) AS rel_err,
       (abs(CASE WHEN kk < {KMV_K} THEN exact_distinct::DOUBLE
                 ELSE ({KMV_K} - 1) * {_H60:.1f} / hk END
            - exact_distinct) / exact_distinct < 0.5) AS within_bound
FROM sk
""",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (k={KMV_K}) per order
    priority, checked against the exact distinct customer count.

    100 TB shape: the KMV state is the k smallest 60-bit hashes per
    group — mergeable by "union then re-take k smallest", so a
    1000-executor build folds each partition to k rows before the
    shuffle (here spelled as a rank-filter; an `applyInPandas` heap
    does the same fold when groups are huge). Estimate, relative error
    and the 2-sigma-ish verdict are all emitted so the driver pins the
    estimator arithmetic, not just the plumbing."""
    o = load_table(spark, sf_dir, "orders")
    keys = o.select("o_orderpriority", "o_custkey").distinct()
    hashed = keys.select(
        "o_orderpriority", _h60_spark(F.col("o_custkey")).alias("h")
    )
    rn = F.row_number().over(
        W.partitionBy("o_orderpriority").orderBy("h", "o_orderpriority")
    )
    ranked = hashed.withColumn("rn", rn)
    sk = ranked.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rn") <= KMV_K, F.col("h"))).alias("hk"),
        F.count(F.when(F.col("rn") <= KMV_K, F.lit(1))).cast("long").alias("kk"),
        F.count(F.lit(1)).cast("long").alias("exact_distinct"),
    )
    est = F.when(
        F.col("kk") < KMV_K, F.col("exact_distinct").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) * F.lit(_H60) / F.col("hk"))
    rel = F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct")
    return sk.select(
        "o_orderpriority",
        "exact_distinct",
        F.round(est, 4).alias("kmv_est"),
        F.round(rel, 4).alias("rel_err"),
        (rel < 0.5).alias("within_bound"),
    )


# ------------------------------------------------------------ Bloom filter
BLOOM_M = 4096  # bits
BLOOM_J = 3  # hash functions
_BLOOM_SEG = "BUILDING"


def _bloom_pos_spark(j: int, key: F.Column) -> F.Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"bloom{j}:"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % BLOOM_M


def _bloom_pos_sql(j: int, expr: str) -> str:
    return (
        f"(('0x' || substr(md5('bloom{j}:' || CAST({expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {BLOOM_M})"
    )


@query(
    "sketch_bloom_membership",
    oracle=f"""
WITH bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(
        f"SELECT {_bloom_pos_sql(j, 'c_custkey')} AS pos FROM customer "
        f"WHERE c_mktsegment = '{_BLOOM_SEG}'"
        for j in range(BLOOM_J)
    )}
  )
),
probe AS (
  SELECT c_custkey, c_mktsegment, j,
         CASE j {" ".join(
             f"WHEN {j} THEN {_bloom_pos_sql(j, 'c_custkey')}"
             for j in range(BLOOM_J)
         )} END AS pos
  FROM customer CROSS JOIN (SELECT unnest(range({BLOOM_J})) AS j)
),
hits AS (
  SELECT p.c_custkey, p.c_mktsegment,
         (count(b.pos) = {BLOOM_J}) AS bloom_hit
  FROM probe p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.c_custkey, p.c_mktsegment
)
SELECT c_mktsegment,
       count(*)::BIGINT AS n_customers,
       count(*) FILTER (WHERE bloom_hit)::BIGINT AS n_bloom_hits,
       count(*) FILTER (WHERE c_mktsegment = '{_BLOOM_SEG}')::BIGINT AS n_members,
       count(*) FILTER (WHERE bloom_hit AND c_mktsegment <> '{_BLOOM_SEG}')::BIGINT
         AS n_false_positives,
       count(*) FILTER (WHERE NOT bloom_hit AND c_mktsegment = '{_BLOOM_SEG}')::BIGINT
         AS n_false_negatives
FROM hits
GROUP BY c_mktsegment
""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (m={BLOOM_M} bits, j={BLOOM_J} hashes) built over
    the '{_BLOOM_SEG}'-segment customer keys, probed by every customer;
    per-segment hit/false-positive/false-negative tallies (the
    false-negative column is the Bloom guarantee — it must be 0, and
    the driver hash pins it).

    100 TB shape: the filter state is the distinct set-bit list —
    at most m rows regardless of build-side cardinality, merged by
    set-union (DISTINCT after map-side combine) and broadcast to the
    probe side. This is exactly the runtime-filter semi-join pattern
    (Spark's `spark.sql.optimizer.runtime.bloomFilter.enabled` does it
    inside the engine; this spells the same plan out so the oracle can
    replay it bit-for-bit): probe rows that miss the filter never reach
    the expensive join/shuffle downstream."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    build = c.filter(F.col("c_mktsegment") == _BLOOM_SEG)
    bits = (
        build.select(
            F.explode(
                F.array(
                    *[_bloom_pos_spark(j, F.col("c_custkey")) for j in range(BLOOM_J)]
                )
            ).alias("pos")
        )
        .distinct()
        .withColumn("present", F.lit(1))
    )
    probe = c.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(
            F.array(
                *[_bloom_pos_spark(j, F.col("c_custkey")) for j in range(BLOOM_J)]
            )
        ).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg((F.count("present") == BLOOM_J).alias("bloom_hit"))
    )
    member = F.col("c_mktsegment") == _BLOOM_SEG
    return hits.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.count(F.when(F.col("bloom_hit"), 1)).cast("long").alias("n_bloom_hits"),
        F.count(F.when(member, 1)).cast("long").alias("n_members"),
        F.count(F.when(F.col("bloom_hit") & ~member, 1))
        .cast("long")
        .alias("n_false_positives"),
        F.count(F.when(~F.col("bloom_hit") & member, 1))
        .cast("long")
        .alias("n_false_negatives"),
    )


# ------------------------------------------------------------ theta intersect
THETA_K = 64
_EV_A = "click"
_EV_B = "purchase"


#: shared with streaming/ingest.py's stream_exec_sketch_merge, whose
#: cross-micro-batch merged state must reproduce EXACTLY this batch
#: sketch (one oracle string, two execution paths — no copy drift).
THETA_ORACLE = f"""
WITH flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = '{_EV_A}' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN event_type = '{_EV_B}' THEN 1 ELSE 0 END) AS in_b
  FROM events
  WHERE event_type IN ('{_EV_A}', '{_EV_B}')
  GROUP BY user_id
),
hashed AS (
  SELECT user_id, in_a, in_b, {_h60_sql('user_id')} AS h FROM flags
),
kmin AS (
  SELECT * FROM hashed ORDER BY h, user_id LIMIT {THETA_K}
),
sk AS (
  SELECT max(h) AS hk, count(*)::BIGINT AS kk FROM kmin
),
agg AS (
  SELECT
    (SELECT hk FROM sk) AS hk,
    (SELECT kk FROM sk) AS kk,
    count(*)::BIGINT AS exact_union,
    count(*) FILTER (WHERE in_a = 1 AND in_b = 1)::BIGINT AS exact_inter,
    count(*) FILTER (WHERE h < (SELECT hk FROM sk)
                       AND in_a = 1 AND in_b = 1)::BIGINT AS sample_inter
  FROM hashed
)
SELECT exact_union,
       round(CASE WHEN kk < {THETA_K} THEN exact_union::DOUBLE
                  ELSE ({THETA_K} - 1) * {_H60:.1f} / hk END, 4) AS est_union,
       exact_inter,
       round(CASE WHEN kk < {THETA_K} THEN exact_inter::DOUBLE
                  ELSE sample_inter * {_H60:.1f} / hk END, 4) AS est_inter
FROM agg
"""


@query("sketch_theta_intersect", oracle=THETA_ORACLE)
def sketch_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set intersection: estimate |clickers ∩
    purchasers| from one k={THETA_K} minimum-hash sample of the union,
    next to the exact values.

    This is the sketch HLL cannot provide (HLL unions exactly but only
    bounds intersections via inclusion–exclusion); theta/KMV keeps the
    actual sampled keys below the threshold θ = h_k, so ANY set
    expression over the sampled flags is an unbiased estimate scaled by
    1/θ. 100 TB shape: per-set per-partition states are the k smallest
    hashes with membership flags (constant size, union-mergeable);
    audience-overlap queries over billions of users move kilobytes."""
    e = load_table(spark, sf_dir, "events")
    flags = (
        e.filter(F.col("event_type").isin(_EV_A, _EV_B))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == _EV_A, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("event_type") == _EV_B, 1).otherwise(0)).alias("in_b"),
        )
    )
    hashed = flags.withColumn("h", _h60_spark(F.col("user_id"))).transform(track)
    # the k-smallest fold is a TakeOrderedAndProject (per-partition
    # top-k, then merge of k-row states) — the mergeable-sketch shape,
    # never a global sort. θ = h_k; the sample is everything strictly
    # below θ, spelled identically on both engines so hash ties at the
    # threshold cannot diverge.
    sk = (
        hashed.orderBy("h", "user_id")
        .limit(THETA_K)
        .agg(F.max("h").alias("hk"), F.count(F.lit(1)).cast("long").alias("kk"))
    )
    agg = hashed.crossJoin(F.broadcast(sk)).agg(
        F.first("hk").alias("hk"),
        F.first("kk").alias("kk"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.count(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1))
        .cast("long")
        .alias("exact_inter"),
        F.count(
            F.when(
                (F.col("h") < F.col("hk"))
                & (F.col("in_a") == 1)
                & (F.col("in_b") == 1),
                1,
            )
        )
        .cast("long")
        .alias("sample_inter"),
    )
    est_union = F.when(
        F.col("kk") < THETA_K, F.col("exact_union").cast("double")
    ).otherwise(F.lit(float(THETA_K - 1)) * F.lit(_H60) / F.col("hk"))
    est_inter = F.when(
        F.col("kk") < THETA_K, F.col("exact_inter").cast("double")
    ).otherwise(F.col("sample_inter") * F.lit(_H60) / F.col("hk"))
    return agg.select(
        "exact_union",
        F.round(est_union, 4).alias("est_union"),
        "exact_inter",
        F.round(est_inter, 4).alias("est_inter"),
    )


# ----------------------------------------------------- histogram quantiles
HQ_BINS = 64
HQ_LO = 0.0
HQ_HI = 600_000.0  # o_totalprice upper bound at any SF (TPC-H <= ~530k)
HQ_QS = (0.5, 0.9, 0.99)


@query(
    "sketch_histogram_quantiles",
    oracle=f"""
WITH binned AS (
  SELECT o_orderpriority,
         least({HQ_BINS - 1},
               greatest(0, CAST(floor((o_totalprice - {HQ_LO})
                                      / (({HQ_HI} - {HQ_LO}) / {HQ_BINS}))
                              AS BIGINT))) AS bin,
         count(*)::BIGINT AS n
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT o_orderpriority, bin, n,
         sum(n) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum_n,
         sum(n) OVER (PARTITION BY o_orderpriority) AS tot
  FROM binned
),
est AS (
  SELECT o_orderpriority,
         {", ".join(
             f"min(CASE WHEN cum_n >= ceil(tot * {q}) THEN "
             f"round({HQ_LO} + (bin + 0.5) * (({HQ_HI} - {HQ_LO}) / {HQ_BINS}), 4) "
             f"END) AS hist_p{int(q * 100)}"
             for q in HQ_QS
         )}
  FROM cum GROUP BY 1
),
exact AS (
  SELECT o_orderpriority,
         {", ".join(
             f"round(quantile_cont(o_totalprice, {q}), 4) AS exact_p{int(q * 100)}"
             for q in HQ_QS
         )}
  FROM orders GROUP BY 1
)
SELECT e.o_orderpriority,
       {", ".join(
           f"x.exact_p{int(q * 100)}, e.hist_p{int(q * 100)}, "
           f"(abs(e.hist_p{int(q * 100)} - x.exact_p{int(q * 100)})"
           f" <= ({HQ_HI} - {HQ_LO}) / {HQ_BINS}) AS p{int(q * 100)}_within_bin"
           for q in HQ_QS
       )}
FROM est e JOIN exact x USING (o_orderpriority)
""",
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantiles per order priority:
    {HQ_BINS} fixed bins over the price domain, quantiles read off the
    cumulative bin counts (bin-midpoint estimate), checked against the
    exact PERCENTILE_CONT with the one-bin-width error bound the
    construction guarantees.

    This is the quantile member of the sketch family: the histogram
    state is {HQ_BINS} counters per group — mergeable by plain vector
    addition (map-side combine does it for free), unlike exact
    percentiles (which need the full sorted data) or GK/KLL (mergeable
    but opaque). At 100 TB: one narrow shuffle of (group, bin) counts;
    re-aggregating day->month->year histograms is bin-wise addition,
    no raw-data rescan — the same store-and-merge architecture as
    `agg_hll_mergeable`, with the error bound visible as a verdict
    column instead of a tolerance."""
    o = load_table(spark, sf_dir, "orders")
    width = (HQ_HI - HQ_LO) / HQ_BINS
    bin_col = F.least(
        F.lit(HQ_BINS - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("o_totalprice") - HQ_LO) / width).cast("long"),
        ),
    )
    binned = o.groupBy(
        "o_orderpriority", bin_col.alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wcum = W.partitionBy("o_orderpriority").orderBy("bin")
    cum = binned.select(
        "o_orderpriority",
        "bin",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(W.partitionBy("o_orderpriority")).alias("tot"),
    )
    est_cols = [
        F.min(
            F.when(
                F.col("cum_n") >= F.ceil(F.col("tot") * F.lit(q)),
                F.round(F.lit(HQ_LO) + (F.col("bin") + 0.5) * width, 4),
            )
        ).alias(f"hist_p{int(q * 100)}")
        for q in HQ_QS
    ]
    est = cum.groupBy("o_orderpriority").agg(*est_cols)
    exact = o.groupBy("o_orderpriority").agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {q})"), 4).alias(
                f"exact_p{int(q * 100)}"
            )
            for q in HQ_QS
        ]
    )
    out_cols = []
    for q in HQ_QS:
        p = int(q * 100)
        out_cols += [
            F.col(f"exact_p{p}"),
            F.col(f"hist_p{p}"),
            (
                F.abs(F.col(f"hist_p{p}") - F.col(f"exact_p{p}")) <= width
            ).alias(f"p{p}_within_bin"),
        ]
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", *out_cols
    )


# ------------------------------------------------- differential privacy
DP_EPS = 1.0  # per-release epsilon for a count query (sensitivity 1)


@query(
    "privacy_dp_count_laplace",
    oracle=f"""
WITH counts AS (
  SELECT c_mktsegment, count(*)::BIGINT AS true_n FROM customer GROUP BY 1
),
noised AS (
  SELECT c_mktsegment, true_n,
         (('0x' || substr(md5('dp:' || c_mktsegment), 1, 8))::BIGINT + 0.5)
           / 4294967296.0 - 0.5 AS u
  FROM counts
)
SELECT c_mktsegment, true_n,
       round(true_n - (1.0 / {DP_EPS})
             * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) AS dp_n,
       round(abs((1.0 / {DP_EPS}) * sign(u) * ln(1.0 - 2.0 * abs(u))), 6)
         AS noise_magnitude
FROM noised
""",
)
def privacy_dp_count_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private counts via the Laplace mechanism
    (sensitivity 1, epsilon={DP_EPS}): noise = inverse-CDF transform
    Lap(1/eps) = -(1/eps)·sign(u)·ln(1-2|u|) of a uniform u drawn from
    the md5 hash of the group key — so the mechanism ARITHMETIC (the
    thing the oracle can pin) is exactly the textbook inverse-CDF
    sampler, while the uniform source is a deterministic seed.

    SECURITY NOTE, prominently: a hash of the GROUP KEY is a fixed
    seed, not secret randomness — rerunning leaks nothing new but an
    adversary who knows the seed removes the noise, so a production
    release swaps the uniform for a secure RNG draw (one line; plan
    unchanged). What scales is the shape: noise is a scalar expression
    on the aggregated relation, so DP costs nothing beyond the count
    itself — the per-group lattice relation, never the raw data,
    carries the mechanism."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dp:"), F.col("c_mktsegment"))), 1, 8
                ),
                16,
                10,
            ).cast("double")
            + 0.5
        )
        / F.lit(4294967296.0)
        - 0.5
    )
    noised = counts.withColumn("u", u)
    lapc = (
        F.lit(1.0 / DP_EPS)
        * F.signum(F.col("u"))
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("u")))
    )
    return noised.select(
        "c_mktsegment",
        "true_n",
        F.round(F.col("true_n") - lapc, 6).alias("dp_n"),
        F.round(F.abs(lapc), 6).alias("noise_magnitude"),
    )


AMS_R = 16  # independent tug-of-war estimators (mean-combined)


@query(
    "sketch_ams_f2",
    oracle=f"""
WITH counts AS (
  SELECT user_id, count(*)::BIGINT AS f FROM events GROUP BY user_id
),
expanded AS (
  SELECT r.r, c.user_id, c.f,
         CASE WHEN ('0x' || substr(md5(r.r::VARCHAR || ':' || c.user_id), 1, 8))::UBIGINT
                   % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM counts c CROSS JOIN (SELECT unnest(range(0, {AMS_R})) AS r) r
),
est AS (
  SELECT r, pow(sum(f * s)::DOUBLE, 2) AS x FROM expanded GROUP BY r
),
exact AS (SELECT sum(f * f)::DOUBLE AS f2 FROM counts)
SELECT round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / {AMS_R}, 2)
         AS f2_estimate,
       round((SELECT f2 FROM exact), 2) AS f2_exact,
       round(abs(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / {AMS_R}
                 - (SELECT f2 FROM exact))
             / (SELECT f2 FROM exact), 6) AS rel_error,
       CAST(abs(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / {AMS_R}
                 - (SELECT f2 FROM exact))
            / (SELECT f2 FROM exact) < 0.5 AS BOOLEAN) AS within_tolerance
FROM est
""",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war sketch (Alon-Matias-Szegedy 1996) for the second
    frequency moment F2 = sum_u f_u^2 of the per-user event counts —
    the self-join-size estimator every streaming join optimizer and
    skew detector is built on. {AMS_R} independent ±1 sign hashes; each
    estimator is (sum_u f_u s_r(u))^2, an unbiased F2 estimate;
    mean-combined here (median-of-means is the production variance
    armor). The sketch state is {AMS_R} running sums — constant-size,
    mergeable by addition, the same story as the KMV/theta family.

    Signs come from the salted-md5 low bit (the _h60 device folded to
    one bit), so both engines draw the identical \"random\" signs and
    the estimate is exactly reproducible — the same determinism
    argument as `privacy_dp_count_laplace`. Plan: one (user, count)
    aggregate, a fixed {AMS_R}-way expand, one {AMS_R}-row aggregate;
    the expand factor is a constant, never data-dependent. The emitted
    row carries the estimate, the exact F2, and the relative error
    with a generous 0.5 tolerance verdict (mean-of-16 on a skewed
    distribution is noisy by design — the verdict pins the sketch is
    WORKING, the exact twin documents its honest error)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    ).transform(track)  # estimator expand + exact F2 both read it
    rs = spark.range(AMS_R).select(F.col("id").alias("r"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    est = (
        counts.crossJoin(F.broadcast(rs))
        .select("r", (F.col("f") * sign).alias("fs"))
        .groupBy("r")
        .agg(F.pow(F.sum("fs").cast("double"), 2).alias("x"))
    )
    exact = counts.agg(
        F.sum(F.col("f") * F.col("f")).cast("double").alias("f2")
    )
    mean_x = F.sum(F.col("x").cast("decimal(38,6)")).cast("double") / AMS_R
    return (
        est.crossJoin(F.broadcast(exact))
        .agg(
            F.round(mean_x, 2).alias("f2_estimate"),
            F.round(F.max("f2"), 2).alias("f2_exact"),
            F.round(F.abs(mean_x - F.max("f2")) / F.max("f2"), 6).alias(
                "rel_error"
            ),
            (F.abs(mean_x - F.max("f2")) / F.max("f2") < 0.5).alias(
                "within_tolerance"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Differentially-private quantile (exponential mechanism)
# ---------------------------------------------------------------------------

#: declared public domain of c_acctbal (TPC-H spec: [-999.99, 9999.99])
#: and the grid over it. 11000 / 64 = 171.875 is exactly representable
#: in binary, so bin arithmetic is identical on both engines.
DPQ_LO = -1000.0
DPQ_HI = 10000.0
DPQ_BINS = 64
DPQ_WIDTH = (DPQ_HI - DPQ_LO) / DPQ_BINS
DPQ_EPS = 1.0  # privacy budget
DPQ_Q = 0.5  # target quantile (median)


@query(
    "privacy_dp_quantile",
    oracle=f"""
WITH pts AS (
  SELECT c_mktsegment AS seg,
         least(greatest(CAST(floor((CAST(c_acctbal AS DOUBLE) - {DPQ_LO!r})
                                   / {DPQ_WIDTH!r}) AS BIGINT), 0),
               {DPQ_BINS - 1}) AS bin
  FROM customer
),
hist AS (
  SELECT seg, bin, count(*)::BIGINT AS cnt FROM pts GROUP BY 1, 2
),
grid AS (
  SELECT s.seg, g.i, coalesce(h.cnt, 0)::BIGINT AS cnt
  FROM (SELECT DISTINCT seg FROM pts) s
  CROSS JOIN range({DPQ_BINS}) g(i)
  LEFT JOIN hist h ON h.seg = s.seg AND h.bin = g.i
),
cum AS (
  SELECT seg, i, cnt,
         sum(cnt) OVER (PARTITION BY seg ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS c,
         sum(cnt) OVER (PARTITION BY seg)::BIGINT AS n
  FROM grid
),
scored AS (
  SELECT seg, i, c, n,
         {DPQ_EPS!r} * (-abs(c - {DPQ_Q!r} * n)) / 2.0
           - ln(-ln((('0x' || substr(md5('dpq:' || seg || ':' || i), 1, 8))
                       ::UBIGINT + 0.5) / 4294967296.0)) AS score
  FROM cum
),
winner AS (
  SELECT seg, n, i AS dp_bin
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY seg ORDER BY score DESC, i) = 1
),
truth AS (
  SELECT seg, min(i) AS true_bin
  FROM cum WHERE c >= {DPQ_Q!r} * n GROUP BY seg
)
SELECT w.seg, w.n, w.dp_bin,
       round({DPQ_LO!r} + (w.dp_bin + 0.5) * {DPQ_WIDTH!r}, 4) AS dp_quantile_est,
       t.true_bin,
       round({DPQ_LO!r} + (t.true_bin + 0.5) * {DPQ_WIDTH!r}, 4) AS true_bin_mid,
       abs(w.dp_bin - t.true_bin)::BIGINT AS bin_error
FROM winner w JOIN truth t ON t.seg = w.seg
""",
)
def privacy_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private median of account balance per market
    segment via the EXPONENTIAL MECHANISM (McSherry-Talwar 2007) over
    a {DPQ_BINS}-bin grid on the DECLARED domain [{DPQ_LO}, {DPQ_HI}]:
    each bin's utility is the (negative) rank distance
    -|cum_count(bin) - q*N| (sensitivity 1), and the released bin is
    the Gumbel-max draw argmax_i(eps * u_i / 2 + g_i) — the standard
    equivalence that turns exponential-mechanism sampling into one
    deterministic argmax over perturbed scores. Completes the privacy
    ladder: k-anonymity / l-diversity / t-closeness audit the data,
    `privacy_dp_count_laplace` releases counts, this releases an
    order statistic.

    Same SECURITY NOTE as the Laplace query, prominently: the Gumbel
    draws are seeded from md5(segment, bin) so both engines (and every
    rerun) sample identically — a fixed PUBLIC seed demonstrates the
    mechanism's arithmetic but provides NO privacy; production swaps
    the seed for secret randomness, nothing else changes.

    100 TB shape: one scan folds the data into a (segments x
    {DPQ_BINS}) exact histogram (map-side combined); utilities,
    Gumbel scores, the argmax, and the true-bin comparison all run on
    that bounded relation. The grid is the same value-histogram
    device as `sketch_histogram_quantiles` — the released value is a
    bin midpoint, which is exactly the granularity the declared
    domain/grid promises."""
    c = load_table(spark, sf_dir, "customer")
    bin_col = F.least(
        F.greatest(
            F.floor(
                (F.col("c_acctbal").cast("double") - DPQ_LO) / DPQ_WIDTH
            ).cast("long"),
            F.lit(0),
        ),
        F.lit(DPQ_BINS - 1),
    )
    pts = c.select(F.col("c_mktsegment").alias("seg"), bin_col.alias("bin"))
    hist = pts.groupBy("seg", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    segs = pts.select("seg").distinct()
    grid = (
        segs.crossJoin(
            F.broadcast(spark.range(DPQ_BINS).select(F.col("id").alias("i")))
        )
        .join(
            hist.withColumnRenamed("bin", "i"),
            ["seg", "i"],
            "left",
        )
        .select("seg", "i", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"))
    )
    wcum = W.partitionBy("seg").orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    wseg = W.partitionBy("seg")
    cum = grid.select(
        "seg",
        "i",
        F.sum("cnt").over(wcum).cast("long").alias("c"),
        F.sum("cnt").over(wseg).cast("long").alias("n"),
    )
    u01 = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dpq:"),
                        F.col("seg"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / F.lit(4294967296.0)
    scored = cum.select(
        "seg",
        "i",
        "c",
        "n",
        (
            DPQ_EPS * (-F.abs(F.col("c") - DPQ_Q * F.col("n"))) / 2.0
            - F.log(-F.log(u01))
        ).alias("score"),
    )
    rw = W.partitionBy("seg").orderBy(F.desc("score"), F.asc("i"))
    winner = (
        scored.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("seg", "n", F.col("i").alias("dp_bin"))
    )
    truth = (
        cum.filter(F.col("c") >= DPQ_Q * F.col("n"))
        .groupBy("seg")
        .agg(F.min("i").alias("true_bin"))
    )
    return winner.join(F.broadcast(truth), "seg").select(
        "seg",
        "n",
        "dp_bin",
        F.round(DPQ_LO + (F.col("dp_bin") + 0.5) * DPQ_WIDTH, 4).alias(
            "dp_quantile_est"
        ),
        "true_bin",
        F.round(DPQ_LO + (F.col("true_bin") + 0.5) * DPQ_WIDTH, 4).alias(
            "true_bin_mid"
        ),
        F.abs(F.col("dp_bin") - F.col("true_bin")).cast("long").alias("bin_error"),
    )
