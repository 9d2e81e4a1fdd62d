"""Query registry — the single source of truth behind __spark_entry__.

Every operator from SURVEY.md §2 registers here with its Spark callable
and (when SQL-expressible) the equivalent DuckDB oracle SQL.  The
contract (SURVEY.md §0): never declare an operator before its oracle
formulation hash-matches locally at sf=0.01 (tools/check.py).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# queries/ modules that populate the registry on import.
_QUERY_MODULES = (
    "cobradb_spark.queries.flagship",
    "cobradb_spark.queries.scans",
    "cobradb_spark.queries.filters",
    "cobradb_spark.queries.joins",
    "cobradb_spark.queries.aggregates",
    "cobradb_spark.queries.windows",
    "cobradb_spark.queries.sorts",
    "cobradb_spark.queries.setops",
    "cobradb_spark.queries.scalars",
    "cobradb_spark.queries.streaming",
    "cobradb_spark.queries.llm",
    "cobradb_spark.queries.textops",
    "cobradb_spark.queries.multimodal",
    "cobradb_spark.queries.udfs",
    "cobradb_spark.queries.etl",
    "cobradb_spark.queries.reshape",
    "cobradb_spark.queries.mlprep",
    "cobradb_spark.queries.sketches",
    "cobradb_spark.queries.analytics",
    "cobradb_spark.queries.rollups",
    "cobradb_spark.queries.layout",
    "cobradb_spark.queries.graph",
    "cobradb_spark.queries.geo",
    "cobradb_spark.queries.pipeline",
)


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


# Driver-window rotation: the correctness driver hash-checks the FIRST
# 50 entries of query_map() in iteration order, so ordering is part of
# the verification contract.  History: r1-r2 exposed the leading 50
# (flagship/scans/filters/joins + 3 aggregates); r3 exposed D4-K5; r4-r7
# drained the never-checked backlog window by window (each round
# executing the list staged by the previous one — CORRECTNESS_r04-r07).
# Running total after r7: 291 distinct keys driver-checked, 92 never
# checked, 2 open failures (win_max_drawdown, text_vocab_coverage: both
# were value-EXACT locally; root cause was DuckDB HUGEINT window sums
# surfacing as pandas float64 against Spark's int64 under the driver's
# dtype-sensitive value-hash — fixed by CASTing every HUGEINT-derived
# oracle output AS BIGINT, and tools/check.py now fails on dtype-class
# mismatches so local EXACT implies driver-hashable again).
#
# Round 11 executed the r10-staged drain: CORRECTNESS_r11 landed 50/50
# EXACT — after it, EVERY oracle-carrying key has a driver hash row
# (437/437 green latest rows) and the only keys with no row at all are
# the two rows-only ANN-hi points.

# r14-new keys (the never-driver-checked drain head for r14): the
# embeddings-curation composition (r13 VERDICT item 3).  The _graded
# key carries the full DuckDB oracle; the base key is rows-only by
# design (KMeans cell assignment is seed-pinned but not
# SQL-expressible — the J2/J4 pattern).
_R14_NEW: tuple[str, ...] = ("pipeline_curate_embeddings_graded",)
_R14_ROWSONLY: tuple[str, ...] = ("pipeline_curate_embeddings",)

# Keys whose IMPLEMENTATION was rewritten in r14 (the window-skew fix:
# text-keyed window-min dedup -> partial+final groupBy-min chains).
# Their prior hash rows proved the OLD code; they re-prove this round.
_R14_REPROOF: tuple[str, ...] = (
    "pipeline_curate_corpus", "etl_llm_corpus_pipeline",
)

# Executed r14 refresh: the 46 oldest of the 53 keys staged last round
# (3 r4-era + 50 r5-era; 7 displaced to _R15_REFRESH by the 4 slots
# above) — after this window lands, no key's evidence predates r6
# except the 7 displaced r5-era keys, staged first for r15.
_R14_REFRESH: tuple[str, ...] = (
    # r4-era keys displaced from the r13 window by the 4th-6th new keys
    "ts_autocorr", "text_token_count", "text_unigram_perplexity",
    "agg_argminmax", "agg_corr_matrix", "agg_countmin_freq",
    "agg_listagg_ordered", "agg_mode", "agg_skew_kurt",
    "agg_stats_higher", "agg_weighted_stats",
    "analytics_pattern_match_journeys", "date_month_diff_exact",
    "date_months_between", "dedup_containment_ngram",
    "dq_validate_suite", "etl_corpus_mixture", "etl_k_anonymize",
    "etl_pack_sequences", "etl_table_checksum", "json_variant_typed",
    "math_bround", "multimodal_audio_decode", "multimodal_decode",
    "multimodal_frame_sample", "multimodal_image_decode",
    "multimodal_phash_dedup", "multimodal_video_frame_decode",
    "rollup_hypertable", "scalars_try_safe", "set_intersect_except_all",
    "sql_idle_rich_customers_q22", "sql_large_volume_in_q18",
    "sql_top_supplier_scalar_q15", "sql_waiting_suppliers_q21",
    "stream_cdc_upsert_view", "stream_chained_stateful_agg",
    "stream_python_sink", "stream_python_source",
    "stream_sessionize_stateful", "stream_stream_join",
    "stream_trending_topk", "udaf_pandas_gmean",
    "udf_arrow_optimized_scalar", "udf_cogrouped_map",
    "udf_grouped_apply_arrow",
)

# Staged r15 refresh plan: the 7 r5-era keys displaced from the r14
# window by the new/re-proof slots — after them, no key's evidence
# predates r6.
_R15_REFRESH: tuple[str, ...] = (
    "udf_map_in_arrow", "udf_sql_declarative",
    "udtf_polymorphic_analyze", "win_cume_dist", "win_ewma_smooth",
    "win_islands_ranges", "win_running_distinct",
)

# The driver window is slots [:50]: the r14 drain head (1 new oracled
# key + 1 declared rows-only + 2 rewritten-key re-proofs) followed by
# the 46-key refresh staged last round.
_DRIVER_PRIORITY: tuple[str, ...] = (
    _R14_NEW + _R14_ROWSONLY + _R14_REPROOF + _R14_REFRESH
)


def all_queries() -> dict[str, Query]:
    _load()
    missing = [n for n in _DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise KeyError(f"_DRIVER_PRIORITY names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def get_query(name: str) -> Query:
    _load()
    return _REGISTRY[name]


def query_map() -> dict[str, QueryFn]:
    """name -> callable, shaped for __spark_entry__.queries()."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_map() -> dict[str, str]:
    """name -> DuckDB SQL, shaped for __spark_entry__.oracle_sql()."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
