"""Named-query registry.

Every operator the engine claims is registered here as a ``Query``:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) a DuckDB oracle SQL twin over the same
parquet tables. The driver's correctness gate runs both sides at
sf=0.01 and hash-compares row count + schema + order-insensitive
values, so:

  * every computed column is aliased identically on both sides;
  * float aggregates are rounded on both sides (summation order differs
    between a parallel Spark agg and DuckDB — raw doubles won't match
    bit-for-bit);
  * integer aggregates are pinned to BIGINT on both sides (DuckDB sums
    integers into HUGEINT, Spark into LONG).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL, or None -> rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: Optional[str] = None, doc: str = ""):
    """Decorator: register ``fn`` as the named query implementation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


#: Enumeration order for the correctness driver, which verifies queries
#: in registry order under a fixed budget of about 50 rows. The priority
#: block makes every SURVEY §2 family land a driver row inside that
#: budget: first the granular flagships, then one ``suite_*`` digest
#: per family (operators/suites.py — one row that hash-verifies the
#: whole family), then everything else, for diagnostics as the budget
#: allows. ``tests/test_registry.py`` pins the block at <= 50 names.
#:
#: Granular slots rotate so that new or re-planned queries get a direct
#: driver row. A granular query may leave the block only if its family
#: digest already hash-covers it. The rows-only queries
#: (``gen_transactions``, ``stream_file_ingest``) and the MLlib
#: recall-tolerance rows (``dedup_minhash_mllib``,
#: ``sim_brp_lsh_mllib``) never rotate out: no digest can carry them.
#: The history of each rotation is in git.
PRIORITY: tuple[str, ...] = (
    # reference-parity flagships (§2A)
    "etl_flagship",
    "etl_bucketize_histogram",
    "etl_dropna_required",
    "upsert_merge",
    "gen_transactions",
    "stream_file_ingest",
    # engine flagships (§2B) — one strong granular row per area
    "q1_pricing_summary",
    "join_asof",
    "graph_personalized_pagerank",
    "graph_triangle_doulion",
    "stream_exec_asof_join_watermarked",
    "corpus_assembly_pipeline",
    "graph_triangle_capped",
    "er_golden_record",
    "sim_late_interaction",
    "sim_binary_quantized",
    "graph_neighborhood_registers",
    "multimodal_decode_bmp",
    "graph_effective_diameter",
    "sim_ivf_incremental",
    "dedup_incremental_minhash",
    "multimodal_decode_wav",
    "sim_index_maintenance",
    # real incremental streaming execution
    "stream_exec_custom_state",
    "stream_exec_stream_join",
    "stream_exec_stream_join_watermarked",
    # LLM-pipeline flagships (MLlib recall-tolerance rows)
    "dedup_minhash_mllib",
    "sim_brp_lsh_mllib",
    # family digests — one green row == whole family verified
    "suite_join_outer",
    "suite_join_misc",
    "suite_agg",
    "suite_setops",
    "suite_sql_surface",
    "suite_window",
    "suite_fn_scalar",
    "suite_fn_semistructured",
    "suite_udf",
    "suite_scans",
    "suite_streaming",
    "suite_dedup",
    "suite_sim",
    "suite_text",
    "suite_multimodal",
    "suite_assembly",
    "suite_tpch",
    "suite_etl_misc",
    "suite_analytics",
    "suite_stats",
    "suite_sketches",
    "suite_geo",
)


def all_queries() -> dict[str, Query]:
    """Import all operator modules (populating the registry) and return
    it, priority queries first (see :data:`PRIORITY`)."""
    from .operators import etl, relational, setops, sql_surface, tpch_extra, windows, upsert, analytics, graph, sketches, geo, features  # noqa: F401
    from .functions import scalar, udfs  # noqa: F401
    from .sources import pyds, scans  # noqa: F401
    from .streaming import batch_windows, ingest  # noqa: F401
    from .llm import assembly, dedup, similarity, text, multimodal, decontaminate, retrieval  # noqa: F401
    from . import generator  # noqa: F401
    from .operators import suites  # noqa: F401  (last: wraps registered members)

    import os as _os

    missing = [n for n in PRIORITY if n not in _REGISTRY]
    if missing and not _os.environ.get("SPARK_GRAFT_SPECGEN"):
        raise KeyError(f"PRIORITY names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in PRIORITY if n in _REGISTRY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered
