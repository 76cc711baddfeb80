"""Lexical and hybrid retrieval: BM25 scoring and reciprocal-rank
fusion (RRF) of a lexical ranker with an embedding ranker.

This is the query-side complement of the corpus-side text/similarity
families: TF-IDF (`text_tfidf_topterms`) ranks terms within documents,
the `sim_*` family ranks vectors — retrieval ranks DOCUMENTS for a
query, and hybrid RRF is the de-facto standard fusion (Cormack et al.,
SIGIR'09) used by every production search stack that mixes BM25 with
dense vectors.

100 TB design:
  * BM25's per-document term frequencies are computed scan-fused with
    `F.filter` over the token array — no explode, no shuffle; the
    corpus statistics (N, avgdl, per-term df) reduce to ONE broadcast
    row, so scoring is a single pass over documents ending in a
    TakeOrdered top-k. At index time a real deployment would
    materialize (term, doc, tf) postings once; the scoring plan shape
    (broadcast stats ⋈ scan → top-k) is identical.
  * RRF never ranks the full corpus globally: each ranker folds to a
    top-C candidate list first (TakeOrderedAndProject — per-partition
    top-C, mergeable), and the window that assigns ranks runs over
    those C rows, not the corpus. Fusion is a full-outer join of two
    C-row lists — driver-size work no matter the corpus size.

Reference scope: the reference pipeline (eager pandas over 75-row
batches, lambda_function.py) has no search surface at all; this is
north-star surface per SURVEY §2B/§2C.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..cache import track
from ..catalog import load_spread
from ..registry import query
from .similarity import _as_double, _dot, _norm

__all__ = ["text_bm25_topk", "sim_hybrid_rrf", "sim_mmr_rerank", "sim_late_interaction"]

#: the fixed lexical query (mid-frequency corpus terms).
BM25_QUERY = ("join", "window", "slow")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20

#: candidates per ranker fed into fusion, and the fused result size.
RRF_CANDIDATES = 100
RRF_K = 60
RRF_TOP = 20
#: query-by-example: the corpus vector used as the dense query.
RRF_QUERY_VEC = 0


def _bm25_score_sql() -> str:
    """One BM25 summand per query term, DuckDB spelling."""
    parts = []
    for t in BM25_QUERY:
        tf = f"len(list_filter(ws, w -> w = '{t}'))::DOUBLE"
        idf = (
            f"ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        )
        parts.append(
            f"{idf} * ({tf} * ({BM25_K1} + 1.0)) / "
            f"({tf} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
        )
    return " + ".join(parts)


#: The tokenized corpus and its one-row statistics, DuckDB spelling of
#: `_bm25_parts`'s ``docs`` and ``stats``.
_BM25_CTES = f"""
t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
),
docs AS (SELECT doc_id, ws, len(ws)::DOUBLE AS dl FROM t),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl, {", ".join(
      f"sum(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END)::DOUBLE AS df_{t}"
      for t in BM25_QUERY
  )} FROM docs
)"""


def _bm25_oracle() -> str:
    return f"""
WITH {_BM25_CTES},
scored AS (
  SELECT doc_id,
         round({_bm25_score_sql()}, 8) AS bm25
  FROM docs CROSS JOIN stats
)
SELECT doc_id, bm25 FROM scored
QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= {BM25_TOP}
"""


def _bm25_parts(spark: SparkSession, sf_dir: str):
    """The BM25 scorer for the fixed query: ``(docs, stats, bm25)``
    with docs = (doc_id, ws, dl), tracked; stats = its one-row corpus
    statistics; bm25 = the rounded score over ``docs x stats``."""
    # load_spread: the token pass is compute-bound (array filters per
    # term over every document) and big replicas arrive as 2 file
    # splits — measured 8.6 s -> 1.8 s at 100x with the spread.
    d = load_spread(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), " ")
    docs = d.select(
        "doc_id", ws.alias("ws"), F.size(ws).cast("double").alias("dl")
    ).transform(track)  # feeds the stats fold AND the scoring pass
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(
                F.when(F.array_contains("ws", t), 1).otherwise(0)
            ).cast("double").alias(f"df_{t}")
            for t in BM25_QUERY
        ],
    )
    summands = []
    for t in BM25_QUERY:
        tf = F.size(F.filter("ws", lambda w: w == F.lit(t))).cast("double")  # noqa: B023
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        summands.append(
            idf
            * (tf * (BM25_K1 + 1.0))
            / (
                tf
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
    total = summands[0]
    for s in summands[1:]:
        total = total + s
    return docs, stats, F.round(total, 8)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, bm25) for the fixed query, unranked."""
    docs, stats, bm25 = _bm25_parts(spark, sf_dir)
    return docs.crossJoin(F.broadcast(stats)).select("doc_id", bm25.alias("bm25"))


@query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-20 documents for a fixed 3-term query.
    Corpus statistics (N, avgdl, per-term df) fold to one broadcast
    row; term frequencies are array-filter expressions fused into the
    scan; the result is a TakeOrdered top-k — one corpus pass, no
    wide shuffle."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


def _rrf_oracle() -> str:
    return f"""
WITH {_BM25_CTES},
bm25_all AS (
  SELECT doc_id, round({_bm25_score_sql()}, 8) AS bm25
  FROM docs CROSS JOIN stats
),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM (SELECT * FROM bm25_all
        QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id)
                <= {RRF_CANDIDATES})
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
),
q AS (SELECT v, nrm FROM n WHERE vec_id = {RRF_QUERY_VEC}),
cos_all AS (
  SELECT n.vec_id AS doc_id,
         round(list_dot_product(n.v, q.v) / (n.nrm * q.nrm), 8) AS cosine
  FROM n CROSS JOIN q
),
dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS cos_rank
  FROM (SELECT * FROM cos_all
        QUALIFY row_number() OVER (ORDER BY cosine DESC, doc_id)
                <= {RRF_CANDIDATES})
),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.cos_rank,
         round(coalesce(1.0 / ({RRF_K} + l.lex_rank), 0.0)
               + coalesce(1.0 / ({RRF_K} + d.cos_rank), 0.0), 8) AS rrf
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
SELECT doc_id, lex_rank, cos_rank, rrf FROM fused
QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= {RRF_TOP}
"""


@query("sim_hybrid_rrf", oracle=_rrf_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 candidates and embedding-cosine
    candidates (query-by-example, vec {RRF_QUERY_VEC}) fused with
    reciprocal-rank fusion, rrf = Σ 1/(60 + rank). Each ranker folds
    to a top-{RRF_CANDIDATES} candidate list via a mergeable
    TakeOrdered BEFORE any rank window runs, so ranking windows only
    ever see candidate-list-sized inputs; fusion is a full-outer join
    of the two lists."""
    lex_cand = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
    )
    lex = lex_cand.select(
        "doc_id",
        F.row_number()
        # global-ok: candidate-list-sized (top-RRF_CANDIDATES after a
        # mergeable TakeOrdered limit), never corpus-sized
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("lex_rank"),
    )

    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n = e.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("nrm"),
    ).transform(track)  # feeds the query row AND the probe scan
    q = n.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    cos_cand = (
        n.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (F.col("nrm") * F.col("qnrm")), 8).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
    )
    dense = cos_cand.select(
        "doc_id",
        F.row_number()
        # global-ok: candidate-list-sized (top-RRF_CANDIDATES after a
        # mergeable TakeOrdered limit), never corpus-sized
        .over(W.orderBy(F.desc("cosine"), F.asc("doc_id")))
        .cast("long")
        .alias("cos_rank"),
    )

    fused = (
        lex.hint("shuffle_hash").join(dense, "doc_id", "full_outer")  # shuffle_hash pin: corpus-scaled side, never broadcast (r11 sweep)
        .select(
            "doc_id",
            "lex_rank",
            "cos_rank",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("cos_rank")), F.lit(0.0)),
                8,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOP)


# ------------------------------------------------ embedding-training ops
MRL_DIMS = 16  # truncated prefix width (full vectors are 64-d)
MRL_TOP = 5
MRL_QUERIES = 5  # query-by-example vectors 0..4


def _cos_sql(vexpr: str, qexpr: str) -> str:
    return (
        f"round(list_dot_product({vexpr}, {qexpr}) / "
        f"(sqrt(list_sum(list_transform({vexpr}, x -> x * x))) * "
        f"sqrt(list_sum(list_transform({qexpr}, x -> x * x)))), 8)"
    )


@query(
    "sim_matryoshka_truncation",
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         list_transform(embedding[1:{MRL_DIMS}], x -> x::DOUBLE) AS vt
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, vt AS qvt FROM e WHERE vec_id < {MRL_QUERIES}),
c AS (SELECT * FROM e WHERE vec_id >= {MRL_QUERIES}),
full_rank AS (
  SELECT q.qid, c.vec_id,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_cos_sql('c.v', 'q.qv')} DESC, c.vec_id)
           AS rn
  FROM c CROSS JOIN q
),
trunc_rank AS (
  SELECT q.qid, c.vec_id,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_cos_sql('c.vt', 'q.qvt')} DESC, c.vec_id)
           AS rn
  FROM c CROSS JOIN q
)
SELECT f.qid AS query_id,
       count(t.vec_id)::BIGINT AS overlap_at_{MRL_TOP},
       round(count(t.vec_id) / {MRL_TOP}.0, 4) AS recall_vs_full
FROM (SELECT * FROM full_rank WHERE rn <= {MRL_TOP}) f
LEFT JOIN (SELECT * FROM trunc_rank WHERE rn <= {MRL_TOP}) t
  ON t.qid = f.qid AND t.vec_id = f.vec_id
GROUP BY f.qid
""",
)
def sim_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: how much of the full-
    dimension top-{MRL_TOP} survives when vectors are truncated to
    their first {MRL_DIMS} of 64 dims — the measurement behind
    dimension-adaptive retrieval (truncate for the cheap first pass,
    full dims for rerank; MRL trains embeddings so prefixes are
    usable). Emits per-query overlap@{MRL_TOP} and recall-vs-full.

    Scale shape: both rankings are broadcast-query scans of the corpus
    with per-shard top-k folds (the `sim_bruteforce_topk` plan, twice
    — the truncated pass reads {MRL_DIMS}/64 of the vector bytes,
    which is the entire point at 100 TB); the overlap join touches
    2·k·|queries| rows. These synthetic embeddings are NOT
    MRL-trained, so measured recall is the honest untrained baseline —
    the harness measures, it does not assume."""
    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.transform(
            F.slice("embedding", 1, MRL_DIMS), lambda x: x.cast("double")
        ).alias("vt"),
    ).transform(track)  # feeds the query rows AND the corpus side
    q = e.filter(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("vt").alias("qvt"),
    )
    c = e.filter(F.col("vec_id") >= MRL_QUERIES)

    def _cos(vc: str, qc: str) -> F.Column:
        dot = F.aggregate(
            F.zip_with(vc, qc, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        n1 = F.sqrt(
            F.aggregate(
                F.transform(vc, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        )
        n2 = F.sqrt(
            F.aggregate(
                F.transform(qc, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        )
        return F.round(dot / (n1 * n2), 8)

    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        _cos("v", "qv").alias("cos_full"),
        _cos("vt", "qvt").alias("cos_trunc"),
    )
    wf = W.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wt = W.partitionBy("qid").orderBy(F.desc("cos_trunc"), F.asc("vec_id"))
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rn_full"),
        F.row_number().over(wt).alias("rn_trunc"),
    )
    top_full = ranked.filter(F.col("rn_full") <= MRL_TOP).select("qid", "vec_id")
    top_trunc = ranked.filter(F.col("rn_trunc") <= MRL_TOP).select(
        F.col("qid").alias("tqid"), F.col("vec_id").alias("tvec")
    )
    return (
        top_full.join(
            top_trunc,
            (F.col("qid") == F.col("tqid")) & (F.col("vec_id") == F.col("tvec")),
            "left",
        )
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count("tvec").cast("long").alias(f"overlap_at_{MRL_TOP}"),
            F.round(F.count("tvec") / float(MRL_TOP), 4).alias("recall_vs_full"),
        )
    )


HN_TOP = 5  # hard negatives mined per query


@query(
    "sim_hard_negatives",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
),
q AS (SELECT * FROM n WHERE vec_id < {MRL_QUERIES}),
c AS (SELECT * FROM n WHERE vec_id >= {MRL_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS negative_id, c.label AS negative_label,
         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 8) AS cosine
  FROM q CROSS JOIN c
  WHERE c.label <> q.label
)
SELECT query_id, query_label, negative_id, negative_label, cosine
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, negative_id) <= {HN_TOP}
""",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-{HN_TOP} most-similar corpus vectors with a
    DIFFERENT label — the negatives that actually move a contrastive
    loss (easy negatives contribute ~zero gradient; mining hard ones
    is the standard retrieval-training step, e.g. DPR/ANCE).

    Scale shape: identical to `sim_bruteforce_topk` — broadcast query
    set, label filter fused into the scoring scan, per-shard top-k
    fold — so mining cost equals one scoring pass per refresh; the
    ANCE-style variant swaps the exact scan for the IVF index
    (`sim_ivf_ann`) with the same downstream shape."""
    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = e.select(
        "vec_id",
        "label",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("nrm"),
    ).transform(track)  # feeds the query rows AND the corpus side
    q = n.filter(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = n.filter(F.col("vec_id") >= MRL_QUERIES)
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.round(dot / (F.col("nrm") * F.col("qnrm")), 8).alias("cosine"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("negative_id"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= HN_TOP)
        .select("query_id", "query_label", "negative_id", "negative_label", "cosine")
    )


#: IR evaluation: judged depth for recall/MRR/nDCG.
IR_EVAL_K = 5


@query(
    "sim_eval_ir_metrics",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
),
q AS (SELECT * FROM n WHERE vec_id < 10),
c AS (SELECT * FROM n WHERE vec_id >= 10),
ranked AS (
  SELECT q.vec_id AS query_id, q.label AS qlab, c.vec_id AS cand_id,
         c.label AS clab,
         row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 8)
                      DESC, c.vec_id) AS rnk
  FROM q CROSS JOIN c
),
nrel AS (
  SELECT q.vec_id AS query_id, count(*)::BIGINT AS n_rel
  FROM q JOIN c ON c.label = q.label GROUP BY 1
),
topk AS (SELECT * FROM ranked WHERE rnk <= {IR_EVAL_K}),
perq AS (
  SELECT query_id,
         sum(CASE WHEN clab = qlab THEN 1 ELSE 0 END)::BIGINT AS hits,
         coalesce(min(CASE WHEN clab = qlab THEN rnk END), 0)::BIGINT
           AS first_rel_rank,
         CAST(sum(CAST(CASE WHEN clab = qlab
                            THEN 1.0 / log2(rnk + 1) ELSE 0 END
                       AS DECIMAL(20,10))) AS DOUBLE) AS dcg
  FROM topk GROUP BY 1
),
ideal AS (
  SELECT n_rel.query_id,
         CAST(sum(CAST(1.0 / log2(k + 1) AS DECIMAL(20,10))) AS DOUBLE)
           AS idcg
  FROM nrel n_rel,
       (SELECT unnest(range(1, {IR_EVAL_K + 1})) AS k)
  WHERE k <= least(n_rel.n_rel, {IR_EVAL_K})
  GROUP BY 1
)
SELECT p.query_id, r.n_rel, p.hits,
       round(CAST(p.hits AS DOUBLE) / least(r.n_rel, {IR_EVAL_K}), 6)
         AS recall_at_k,
       round(CASE WHEN p.first_rel_rank = 0 THEN 0.0
                  ELSE 1.0 / p.first_rel_rank END, 6) AS mrr,
       round(p.dcg / i.idcg, 6) AS ndcg_at_k
FROM perq p JOIN nrel r USING (query_id) JOIN ideal i USING (query_id)
""",
)
def sim_eval_ir_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness: recall@k, MRR, and
    nDCG@k for the exact top-{IR_EVAL_K} cosine retrieval, judged
    against the embedding table's label column (same-label = relevant)
    — the measurement layer for the whole sim_* stack, the way
    `ts_backtest_rolling` measures the forecasting ladder. Run the
    same metrics over any ANN variant's output to read its recall
    price directly (SCALING.md's ANN recall tables were produced by
    exactly this computation inline; this makes it a first-class,
    oracle-pinned operator).

    Plan: queries broadcast, corpus streams through one scoring pass
    (the sim_bruteforce_topk shape); metrics are per-query windows +
    tiny aggregates. The 5-term DCG sums ride DECIMAL(20,10) so the
    reduction is order-free; log2 runs on identical integer ranks;
    recall denominators are exact BIGINTs. nDCG's ideal ranking is
    computed per query from min(n_rel, k) unit gains."""
    e = load_spread(spark, sf_dir, "embeddings")
    n = e.select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).select("vec_id", "label", "v", _norm(F.col("v")).alias("nrm"))
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = n.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("clab"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    ranked = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "qlab",
            "cand_id",
            "clab",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")),
                8,
            ).alias("cos"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("cand_id")
                )
            ),
        )
    )
    nrel = (
        c.join(F.broadcast(q.select("query_id", "qlab")), c.clab == F.col("qlab"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    rel = F.col("clab") == F.col("qlab")
    perq = (
        ranked.filter(F.col("rnk") <= IR_EVAL_K)
        .groupBy("query_id")
        .agg(
            F.sum(rel.cast("int")).cast("long").alias("hits"),
            F.coalesce(
                F.min(F.when(rel, F.col("rnk"))), F.lit(0)
            ).cast("long").alias("first_rel_rank"),
            F.sum(
                F.when(rel, F.lit(1.0) / F.log2(F.col("rnk") + 1))
                .otherwise(0.0)
                .cast("decimal(20,10)")
            )
            .cast("double")
            .alias("dcg"),
        )
    )
    ks = spark.range(1, IR_EVAL_K + 1).select(F.col("id").alias("k"))
    ideal = (
        nrel.crossJoin(F.broadcast(ks))
        .filter(F.col("k") <= F.least(F.col("n_rel"), F.lit(IR_EVAL_K)))
        .groupBy("query_id")
        .agg(
            F.sum((F.lit(1.0) / F.log2(F.col("k") + 1)).cast("decimal(20,10)"))
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        perq.join(nrel, "query_id")
        .join(ideal, "query_id")
        .select(
            "query_id",
            "n_rel",
            "hits",
            F.round(
                F.col("hits").cast("double")
                / F.least(F.col("n_rel"), F.lit(IR_EVAL_K)),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.when(F.col("first_rel_rank") == 0, 0.0).otherwise(
                    F.lit(1.0) / F.col("first_rel_rank")
                ),
                6,
            ).alias("mrr"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_k"),
        )
    )


QLM_MU = 500.0  # Dirichlet smoothing mass (Zhai & Lafferty 2001)
QLM_TOP = 20


def _qlm_oracle() -> str:
    tf = {
        t: f"len(list_filter(ws, w -> w = '{t}'))::DOUBLE" for t in BM25_QUERY
    }
    cf = ", ".join(
        f"sum({e})::DOUBLE AS cf_{t}" for t, e in tf.items()
    )
    summands = " + ".join(
        f"ln(({e} + {QLM_MU} * cf_{t} / total_tokens) / (dl + {QLM_MU}))"
        for t, e in tf.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
),
docs AS (SELECT doc_id, ws, len(ws)::DOUBLE AS dl FROM t),
stats AS (SELECT sum(dl)::DOUBLE AS total_tokens, {cf} FROM docs),
scored AS (
  SELECT doc_id, round({summands}, 8) AS qlm_score
  FROM docs CROSS JOIN stats
)
SELECT doc_id, qlm_score FROM scored
QUALIFY row_number() OVER (ORDER BY qlm_score DESC, doc_id) <= {QLM_TOP}
"""


@query("text_querylm_dirichlet", oracle=_qlm_oracle())
def text_querylm_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) for the same fixed query BM25 uses:
    score(q,d) = sum_t ln((tf + mu*p(t|C)) / (dl + mu)) — the
    language-modeling ranker, the second classic lexical family next
    to BM25 and the standard baseline in every IR evaluation. Having
    both (plus RRF fusion and the dense tier) completes the ladder a
    retrieval stack actually compares.

    Plan: identical shape to `text_bm25_topk` — per-doc tf scan-fused
    with F.filter over the token array (no explode, no shuffle),
    collection stats (total tokens, per-term collection frequency)
    fold to ONE broadcast row, scoring is a single codegen pass ending
    in TakeOrdered top-{QLM_TOP}. At 100 TB this is a broadcast ⋈ scan
    with no wide intermediate."""
    d = load_spread(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), " ")
    docs = d.select(
        "doc_id", ws.alias("ws"), F.size(ws).cast("double").alias("dl")
    ).transform(track)  # stats fold + scoring pass
    def _tf(term: str) -> F.Column:
        # F.filter evaluates the lambda at construction time, so the
        # closure is bound per call (the text_bm25_topk pattern).
        return F.size(F.filter("ws", lambda w: w == F.lit(term))).cast("double")

    tf = {t: _tf(t) for t in BM25_QUERY}
    stats = docs.agg(
        F.sum("dl").cast("double").alias("total_tokens"),
        *[F.sum(e).cast("double").alias(f"cf_{t}") for t, e in tf.items()],
    )
    total = None
    for t, e in tf.items():
        s = F.log(
            (e + F.lit(QLM_MU) * F.col(f"cf_{t}") / F.col("total_tokens"))
            / (F.col("dl") + F.lit(QLM_MU))
        )
        total = s if total is None else total + s
    return (
        docs.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(total, 8).alias("qlm_score"))
        .orderBy(F.desc("qlm_score"), F.asc("doc_id"))
        .limit(QLM_TOP)
    )


PRF_R = 10  # pseudo-relevant depth (BM25 top-R)
PRF_E = 5  # expansion terms kept
PRF_ALPHA = 1.0  # original-term weight
PRF_BETA = 0.5  # total expansion mass (split by normalized RM weight)
PRF_TOP = 20


def _prf_oracle() -> str:
    orig = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH {_BM25_CTES},
rel AS (
  SELECT doc_id, dl, ws FROM (
    SELECT d.doc_id, d.dl, d.ws,
           round({_bm25_score_sql()}, 8) AS bm25
    FROM docs d CROSS JOIN stats
    QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= {PRF_R}
  )
),
reltok AS (SELECT doc_id, dl, unnest(ws) AS term FROM rel),
expansion AS (
  SELECT term, w, 0.0 + row_number() OVER (ORDER BY w DESC, term ASC) AS r
  FROM (
    SELECT term,
           round(CAST(sum(CAST(1.0 / dl AS DECIMAL(38,18))) AS DOUBLE), 8) AS w
    FROM reltok WHERE term NOT IN ({orig}) GROUP BY term
  )
  QUALIFY r <= {PRF_E}
),
expnorm AS (
  SELECT term, {PRF_BETA} * w / (SELECT sum(w) FROM expansion) AS wt
  FROM expansion
  UNION ALL
  SELECT unnest([{orig}]) AS term, {PRF_ALPHA} AS wt
),
postings AS (
  SELECT k.doc_id, k.term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM docs) k
  JOIN expnorm e USING (term)
  GROUP BY k.doc_id, k.term
),
tdf AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM postings GROUP BY term
),
scored AS (
  SELECT p.doc_id,
         round(CAST(sum(CAST(
           e.wt * ln(1.0 + (s.n_docs - t.df + 0.5) / (t.df + 0.5))
                * (p.tf * ({BM25_K1} + 1.0))
                / (p.tf + {BM25_K1} * (1.0 - {BM25_B}
                   + {BM25_B} * d.dl / s.avgdl))
           AS DECIMAL(38,18))) AS DOUBLE), 8) AS prf_score
  FROM postings p
  JOIN expnorm e USING (term)
  JOIN tdf t USING (term)
  JOIN (SELECT doc_id, dl FROM docs) d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, prf_score FROM scored
QUALIFY row_number() OVER (ORDER BY prf_score DESC, doc_id) <= {PRF_TOP}
"""


@query("text_rocchio_prf", oracle=_prf_oracle())
def text_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio / RM1-lite):
    take BM25's top-{PRF_R} documents as pseudo-relevant, build a
    relevance model over their terms (weight = sum over rel docs of
    tf/dl — the uniform-prior RM1 estimate, DECIMAL-summed and rounded
    so both engines pick the identical expansion set), keep the
    top-{PRF_E} non-query terms, then re-rank the corpus with the
    expanded weighted query (originals at {PRF_ALPHA}, expansion mass
    {PRF_BETA} split by normalized RM weight) under per-term BM25
    weighting. The classic recall-booster in front of every lexical
    stack (Rocchio 1971; Lavrenko & Croft 2001).

    Plan: the first BM25 pass is the broadcast-stats scan; the
    relevance model is an aggregation over the R broadcast relevant
    docs' tokens; final scoring joins the exploded postings against
    the 8-row broadcast expanded query, so the only non-broadcast
    shuffle is the (doc, term) tf aggregation RESTRICTED to expanded
    terms — candidate-postings-sized, never corpus x vocab. At 100 TB
    each stage stays keyed or broadcast; no all-pairs anywhere."""
    docs, stats, bm25 = _bm25_parts(spark, sf_dir)  # bm25 + postings + dl
    rel = (
        docs.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", "ws", bm25.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(PRF_R)
    )
    reltok = rel.select("doc_id", "dl", F.explode("ws").alias("term"))
    expansion = (
        reltok.where(~F.col("term").isin(*BM25_QUERY))
        .groupBy("term")
        .agg(
            F.round(
                F.sum((F.lit(1.0) / F.col("dl")).cast("decimal(38,18)")).cast(
                    "double"
                ),
                8,
            ).alias("w")
        )
        # TakeOrdered top-E, not a global row_number window (the
        # text_oov_rate note): same rows, same deterministic ordering
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(PRF_E)
        .select("term", "w")
        .transform(track)  # wt normalization reads it twice
    )
    wsum = expansion.agg(F.sum("w").alias("wsum"))
    expnorm = (
        expansion.crossJoin(F.broadcast(wsum))
        .select(
            "term", (F.lit(PRF_BETA) * F.col("w") / F.col("wsum")).alias("wt")
        )
        .unionByName(
            spark.createDataFrame(
                [(t, PRF_ALPHA) for t in BM25_QUERY], "term string, wt double"
            )
        )
    )
    postings = (
        docs.select("doc_id", F.explode("ws").alias("term"))
        .join(F.broadcast(expnorm.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .transform(track)  # df aggregation + scoring both read it
    )
    tdf = postings.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    summand = (
        F.col("wt")
        * idf
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        postings.join(F.broadcast(expnorm), "term")
        .join(F.broadcast(tdf), "term")
        .join(docs.select("doc_id", "dl").hint("shuffle_hash"), "doc_id")  # shuffle_hash pin: corpus-scaled side, never broadcast (r11 sweep)
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(summand.cast("decimal(38,18)")).cast("double"), 8
            ).alias("prf_score")
        )
        .orderBy(F.desc("prf_score"), F.asc("doc_id"))
        .limit(PRF_TOP)
    )


MMR_LAMBDA = 0.7  # relevance weight; 1-lambda penalizes redundancy
MMR_K = 3  # diversified picks per query (greedy rounds, unrolled)
MMR_CAND = 8  # candidate pool per query (exact top-N by relevance)


def _mmr_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, v AS cv, nrm AS cn FROM n WHERE vec_id >= 10),
cand AS (
  SELECT query_id, cand_id, cv, cn,
         round(list_dot_product(qv, cv) / (qn * cn), 8) AS rel
  FROM q CROSS JOIN c
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY rel DESC, cand_id) <= {MMR_CAND}
),
p1 AS (
  SELECT query_id, cand_id, cv, cn, rel
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY rel DESC, cand_id) = 1
),
s2 AS (
  SELECT c.query_id, c.cand_id, c.cv, c.cn, c.rel,
         round({MMR_LAMBDA!r} * c.rel - {1 - MMR_LAMBDA!r}
               * round(list_dot_product(c.cv, p.cv) / (c.cn * p.cn), 8), 8)
           AS mmr
  FROM cand c JOIN p1 p ON c.query_id = p.query_id
  WHERE c.cand_id != p.cand_id
),
p2 AS (
  SELECT query_id, cand_id, cv, cn, rel, mmr
  FROM s2
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY mmr DESC, cand_id) = 1
),
s3 AS (
  SELECT c.query_id, c.cand_id, c.rel,
         round({MMR_LAMBDA!r} * c.rel - {1 - MMR_LAMBDA!r}
               * greatest(
                   round(list_dot_product(c.cv, p1.cv) / (c.cn * p1.cn), 8),
                   round(list_dot_product(c.cv, p2.cv) / (c.cn * p2.cn), 8)),
               8) AS mmr
  FROM cand c
  JOIN p1 ON c.query_id = p1.query_id
  JOIN p2 ON c.query_id = p2.query_id
  WHERE c.cand_id != p1.cand_id AND c.cand_id != p2.cand_id
),
p3 AS (
  SELECT query_id, cand_id, rel, mmr
  FROM s3
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY mmr DESC, cand_id) = 1
)
SELECT query_id, 1::BIGINT AS pick, cand_id, rel, rel AS mmr_score FROM p1
UNION ALL
SELECT query_id, 2, cand_id, rel, mmr FROM p2
UNION ALL
SELECT query_id, 3, cand_id, rel, mmr FROM p3
"""


@query("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's exact top-{MMR_CAND} relevance pool, pick
    {MMR_K} results greedily by lambda*rel - (1-lambda)*max-sim-to-
    already-picked — THE standard diversity re-ranker that keeps a
    result page from being {MMR_K} near-identical hits (directly
    composable over the near-dup clusters `dedup_*` finds). The greedy
    recursion is UNROLLED: pick 1 is pure relevance, each later round
    is one join against the (tiny) previous picks plus an argmax
    window per query — the graph_pagerank fixed-iteration discipline
    applied to ranking. Cosines round at 8 before the MMR arithmetic
    so both engines walk identical greedy trajectories.

    Plan: one broadcast scoring pass to the candidate pool (the
    sim_bruteforce shape), then K-1 rounds of candidate-pool-sized
    joins — after the pool fold, every round is queries x {MMR_CAND}
    rows regardless of corpus size."""
    e = load_spread(spark, sf_dir, "embeddings")
    n = e.select("vec_id", _as_double("embedding").alias("v")).select(
        "vec_id", "v", _norm(F.col("v")).alias("nrm")
    )
    q = n.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = n.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    wq = W.partitionBy("query_id")
    cand = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "cand_id",
            "cv",
            "cn",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 8
            ).alias("rel"),
        )
        .withColumn(
            "rn",
            F.row_number().over(wq.orderBy(F.desc("rel"), F.asc("cand_id"))),
        )
        .where(F.col("rn") <= MMR_CAND)
        .drop("rn")
        .transform(track)  # K greedy rounds re-read the pool
    )
    lam = MMR_LAMBDA

    def _sim(cv_a, cn_a, cv_b, cn_b):
        return F.round(_dot(cv_a, cv_b) / (cn_a * cn_b), 8)

    p1 = (
        cand.withColumn(
            "rn",
            F.row_number().over(wq.orderBy(F.desc("rel"), F.asc("cand_id"))),
        )
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("p1_id"),
            F.col("cv").alias("p1_cv"),
            F.col("cn").alias("p1_cn"),
            F.col("rel").alias("p1_rel"),
        )
    )
    s2 = (
        cand.join(F.broadcast(p1), "query_id")
        .where(F.col("cand_id") != F.col("p1_id"))
        .select(
            "query_id",
            "cand_id",
            "cv",
            "cn",
            "rel",
            "p1_cv",
            "p1_cn",
            F.round(
                F.lit(lam) * F.col("rel")
                - F.lit(1 - lam)
                * _sim(F.col("cv"), F.col("cn"), F.col("p1_cv"), F.col("p1_cn")),
                8,
            ).alias("mmr"),
        )
    )
    p2 = (
        s2.withColumn(
            "rn",
            F.row_number().over(wq.orderBy(F.desc("mmr"), F.asc("cand_id"))),
        )
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("p2_id"),
            F.col("cv").alias("p2_cv"),
            F.col("cn").alias("p2_cn"),
            F.col("rel").alias("p2_rel"),
            F.col("mmr").alias("p2_mmr"),
        )
    )
    s3 = (
        cand.join(F.broadcast(p1), "query_id")
        .join(F.broadcast(p2), "query_id")
        .where(
            (F.col("cand_id") != F.col("p1_id"))
            & (F.col("cand_id") != F.col("p2_id"))
        )
        .select(
            "query_id",
            "cand_id",
            "rel",
            F.round(
                F.lit(lam) * F.col("rel")
                - F.lit(1 - lam)
                * F.greatest(
                    _sim(F.col("cv"), F.col("cn"), F.col("p1_cv"), F.col("p1_cn")),
                    _sim(F.col("cv"), F.col("cn"), F.col("p2_cv"), F.col("p2_cn")),
                ),
                8,
            ).alias("mmr"),
        )
    )
    p3 = (
        s3.withColumn(
            "rn",
            F.row_number().over(wq.orderBy(F.desc("mmr"), F.asc("cand_id"))),
        )
        .where(F.col("rn") == 1)
        .select("query_id", "cand_id", "rel", F.col("mmr"))
    )
    out1 = p1.select(
        "query_id",
        F.lit(1).cast("long").alias("pick"),
        F.col("p1_id").alias("cand_id"),
        F.col("p1_rel").alias("rel"),
        F.col("p1_rel").alias("mmr_score"),
    )
    out2 = p2.select(
        "query_id",
        F.lit(2).cast("long").alias("pick"),
        F.col("p2_id").alias("cand_id"),
        F.col("p2_rel").alias("rel"),
        F.col("p2_mmr").alias("mmr_score"),
    )
    out3 = p3.select(
        "query_id",
        F.lit(3).cast("long").alias("pick"),
        "cand_id",
        "rel",
        F.col("mmr").alias("mmr_score"),
    )
    return out1.unionByName(out2).unionByName(out3)


# ------------------------------------------------ diversified re-ranking
#: MMR trade-off: score = LAMBDA * relevance - (1-LAMBDA) * max
#: similarity to the already-selected set.
MMR_LAMBDA = 0.7
#: relevance-ranked candidate pool fed into the greedy selection.
MMR_CANDIDATES = 24
#: diversified results returned.
MMR_TOP = 8


def _mmr_rerank_oracle() -> str:
    lam, om = MMR_LAMBDA, round(1.0 - MMR_LAMBDA, 10)
    steps = []
    sel_union = "SELECT vec_id FROM s1"
    for k in range(2, MMR_TOP + 1):
        steps.append(f"""
sel{k - 1} AS MATERIALIZED ({sel_union}),
t{k} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, max(p.sim) AS pen
  FROM cand c JOIN pairs p
    ON p.ia = c.vec_id AND p.ib IN (SELECT vec_id FROM sel{k - 1})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
  GROUP BY c.vec_id, c.rel
),
s{k} AS MATERIALIZED (
  SELECT vec_id, rel, pen,
         CAST(rel::DECIMAL(18,8) * {lam}::DECIMAL(2,1)
              - pen::DECIMAL(18,8) * {om}::DECIMAL(2,1) AS DOUBLE) AS mmr
  FROM t{k}
  QUALIFY row_number() OVER (ORDER BY mmr DESC, vec_id) = 1
)""")
        sel_union += f" UNION ALL SELECT vec_id FROM s{k}"
    out = "\nUNION ALL ".join(
        f"SELECT {k}::BIGINT AS rank, vec_id, rel AS relevance, "
        f"pen AS max_sim_selected, mmr AS mmr_score FROM s{k}"
        for k in range(1, MMR_TOP + 1)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
),
q AS (SELECT v, nrm FROM n WHERE vec_id = {RRF_QUERY_VEC}),
scored AS (
  SELECT n.vec_id, n.v, n.nrm,
         round(list_dot_product(n.v, q.v) / (n.nrm * q.nrm), 8) AS rel
  FROM n CROSS JOIN q
  WHERE n.vec_id <> {RRF_QUERY_VEC}
),
cand AS MATERIALIZED (
  SELECT * FROM scored
  QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) <= {MMR_CANDIDATES}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 8) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (
  SELECT vec_id, rel, CAST(NULL AS DOUBLE) AS pen, rel AS mmr
  FROM cand
  QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) = 1
),{",".join(steps)}
{out}
"""


@query("sim_mmr_rerank", oracle=_mmr_rerank_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified re-ranking (Carbonell &
    Goldstein, SIGIR 1998) — the standard answer to "the top-k are
    all near-duplicates of each other": greedily select
    {MMR_TOP} results from the top-{MMR_CANDIDATES} relevance
    candidates, each step maximizing
    mmr = {MMR_LAMBDA} * rel(c) - {1 - MMR_LAMBDA:.1f} * max sim(c, selected),
    with all cosines rounded to 8 before any arithmetic and the
    weighted combination computed in exact DECIMAL (8-decimal scores
    x 1-decimal weights = exact scale-9 values — a double-rounded
    spelling hit a half-ULP tie at the 8th decimal that rounded
    differently across engines), so the greedy trajectory (and
    therefore the oracle hash) is deterministic; ties break by
    vec_id. Output carries the selection contract per row:
    rank, relevance, the diversity penalty actually paid
    (NULL for the seed pick), and the winning mmr score.

    100 TB shape: MMR is inherently sequential in k, so the scale
    design is to make everything the loop touches CANDIDATE-sized
    before it starts: one corpus pass scores relevance and folds to
    the top-{MMR_CANDIDATES} via a mergeable TakeOrdered (the same
    fold every sim_* query uses — at scale the ANN index serves
    this), the candidate x candidate similarity matrix is
    {MMR_CANDIDATES}^2 bounded rows built from a broadcast
    self-join, and each of the {MMR_TOP} greedy rounds runs on those
    bounded relations only (the per-round argmax collect reads ONE
    row from a <= {MMR_CANDIDATES}-row relation — bounded by
    construction, never corpus-sized). The corpus is read exactly
    once regardless of K."""
    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", _norm(F.col("v")).alias("nrm"))
    q = n.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cand = (
        n.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.round(
                _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")),
                8,
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
        .transform(track)  # pairs build + every greedy round read it
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),  # candidate-list-sized: <= MMR_CANDIDATES rows
            F.col("a.vec_id") != F.col("b.vec_id"),
        )
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.round(
                _dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                8,
            ).alias("sim"),
        )
        .transform(track)  # every greedy round filters it
    )
    lam, om = MMR_LAMBDA, round(1.0 - MMR_LAMBDA, 10)
    selected: list[tuple] = []
    sel_ids: list[int] = []
    for k in range(1, MMR_TOP + 1):
        if not sel_ids:
            scored = cand.select(
                "vec_id",
                "rel",
                F.lit(None).cast("double").alias("pen"),
                F.col("rel").alias("mmr"),
            )
        else:
            pen = (
                pairs.filter(F.col("ib").isin(sel_ids))
                .groupBy(F.col("ia").alias("vec_id"))
                .agg(F.max("sim").alias("pen"))
            )
            scored = (
                cand.filter(~F.col("vec_id").isin(sel_ids))
                .join(pen, "vec_id")
                .select(
                    "vec_id",
                    "rel",
                    "pen",
                    (
                        F.col("rel").cast("decimal(18,8)")
                        * F.lit(str(lam)).cast("decimal(2,1)")
                        - F.col("pen").cast("decimal(18,8)")
                        * F.lit(str(om)).cast("decimal(2,1)")
                    )
                    .cast("double")
                    .alias("mmr"),
                )
            )
        # bounded collect: ONE row from a <= MMR_CANDIDATES-row cached
        # relation per greedy round (MMR is sequential in k by
        # definition); never corpus-sized.
        picked = scored.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1).collect()
        if not picked:
            # candidate pool exhausted before K picks (tiny corpus) —
            # the oracle's unrolled steps go empty from the same rank
            # on, so stopping here preserves exact parity
            break
        row = picked[0]
        selected.append((k, row["vec_id"], row["rel"], row["pen"], row["mmr"]))
        sel_ids.append(row["vec_id"])
    return spark.createDataFrame(
        selected,
        "rank bigint, vec_id bigint, relevance double, "
        "max_sim_selected double, mmr_score double",
    )


# ------------------------------------------------ late interaction
#: token vectors per pseudo-document (vec_id // LI_DOC_SIZE groups the
#: flat embedding table into multi-vector documents).
LI_DOC_SIZE = 8
#: documents returned.
LI_TOP = 10


@query(
    "sim_late_interaction",
    oracle=f"""
WITH e AS (
  SELECT vec_id, vec_id // {LI_DOC_SIZE} AS doc_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, doc_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
),
q AS (SELECT vec_id AS q_tok, v, nrm FROM n WHERE doc_id = 0),
pairs AS (
  SELECT c.doc_id, q.q_tok,
         max(round(list_dot_product(c.v, q.v) / (c.nrm * q.nrm), 8))
           AS best_cos
  FROM n c CROSS JOIN q
  WHERE c.doc_id <> 0
  GROUP BY c.doc_id, q.q_tok
)
SELECT doc_id,
       CAST(sum(CAST(best_cos AS DECIMAL(12,8))) AS DOUBLE) AS li_score,
       count(*)::BIGINT AS n_query_tokens
FROM pairs GROUP BY doc_id
QUALIFY row_number() OVER (ORDER BY li_score DESC, doc_id) <= {LI_TOP}
""",
)
def sim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (the ColBERT scoring rule,
    Khattab & Zaharia, SIGIR 2020): documents and the query are BAGS
    of token vectors (here the flat embedding table grouped into
    {LI_DOC_SIZE}-vector pseudo-documents, query = document 0), and
    score(d) = sum over query tokens of max over document tokens of
    cosine — finer-grained than single-vector retrieval because each
    query token independently finds its best match. Per-pair cosines
    round to 8 and the per-token maxima sum through DECIMAL, so the
    ranking is bit-equal across engines. Top-{LI_TOP} documents with
    the token-count provenance.

    100 TB shape: the corpus-sized stage is ONE scan expanded by
    |Q| = {LI_DOC_SIZE} query tokens (a broadcast), immediately
    collapsed by a map-side-combinable max keyed on
    (doc, query-token) — corpus x |Q| compute but only
    docs x |Q| rows ever cross the exchange, then a docs-sized sum
    and a mergeable TakeOrdered. A production ColBERT additionally
    prunes candidates with an ANN index per query token before
    exact MaxSim (the `sim_ivf_*` family serves that stage); this
    operator is the exact-scoring tier those candidates feed."""
    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        # floor-division in integer terms, matching DuckDB's `//`
        # exactly for every sign/magnitude (the old double-divide
        # + cast('long') truncated toward zero and relied on vec_id
        # being non-negative and < 2^53 — r12 advice).
        F.floor(F.col("vec_id") / LI_DOC_SIZE).cast("long").alias("doc_id"),
        _as_double("embedding").alias("v"),
    )
    n = e.select(
        "vec_id", "doc_id", "v", _norm(F.col("v")).alias("nrm")
    )
    q = n.filter(F.col("doc_id") == 0).select(
        F.col("vec_id").alias("q_tok"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cos = F.round(
        _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 8
    )
    per_tok = (
        n.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))  # |Q| rows — the query bag
        .groupBy("doc_id", "q_tok")
        .agg(F.max(cos).alias("best_cos"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum(F.col("best_cos").cast("decimal(12,8)"))
            .cast("double")
            .alias("li_score"),
            F.count(F.lit(1)).cast("long").alias("n_query_tokens"),
        )
        .orderBy(F.desc("li_score"), F.asc("doc_id"))
        .limit(LI_TOP)
    )
