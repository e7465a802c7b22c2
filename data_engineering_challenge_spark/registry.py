"""Query registry — the engine's public correctness surface.

Every operator family registers named queries here; each query pairs a
Spark implementation (``(spark, sf_dir) -> DataFrame``) with, where
SQL-expressible, a DuckDB oracle SQL string computing the identical
result (same column names, same values). ``__spark_entry__.py``
exposes this registry to the driver.

Design rule for oracle parity: aggregate money/quantity doubles are
cast to DECIMAL before summation on BOTH sides — decimal addition is
exact and order-independent, so the distributed partial/final
aggregation in Spark hashes identically to DuckDB's sequential sum.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .runlog import get_logger

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# A correctness harness that samples a prefix of the registry (the
# driver checks the first ~50) must see the queries with the least
# accumulated evidence first: the 30 queries whose code or oracle
# changed most recently (the minhash-family pair machinery and its
# precision-audit oracle CTE, the CC-loop observed-read fallback, the
# single-pass LM/Q21/distinct-audit rewrites, the unrolled small-dim
# vector folds and the persist-before-sort tail fixes), then the
# cohort whose newest correctness rows are the oldest. Pure iteration
# order — membership and semantics are unchanged.
_DRIVER_PRIORITY: tuple[str, ...] = (
    "minhash_precision_audit",
    "minhash_lsh_pairs",
    "dedup_source_matrix",
    "fuzzy_decontaminate",
    "incremental_dedup",
    "dedup_clusters",
    "dedup_retention_plan",
    "dedup_retention_apply",
    "incremental_lm_score",
    "blamed_suppliers",
    "approx_distinct_check",
    "bpe_token_counts",
    "doc_quality",
    "lang_id",
    "doc_fingerprint",
    "ann_pq_topk",
    "pq_reconstruction_error",
    "ann_ivfpq_topk",
    "truncated_ann_recall",
    "ann_topk",
    "ann_lsh_topk",
    "embedding_cosine_pairs",
    "semantic_dedup",
    "ivf_cell_purity",
    "embedding_norm_audit",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "int8_quantization_audit",
    "ngram_jaccard_pairs",
    "simhash_pairs",
    "duplicate_spans",
    "span_dedup_savings",
    "cms_frequency_check",
    "wav_roundtrip_audit",
    "hll_rollup_check",
    "span_removal_plan",
    "source_token_drift",
    "incremental_duplicate_spans",
    "span_source_matrix",
    "copurchase_pagerank",
    "bpe_apply",
    "png_roundtrip_audit",
    "bpe_fertility_by_source",
    "orders_with_discounted_lines",
    "tx_per_store_salted",
    "segment_event_value_salted",
    "approx_quantiles_check",
    "clicks_asof_purchase",
    "purchase_click_context",
    "events_json_extract",
    "events_props_map",
    "events_variant_extract",
    "top3_parts_per_supplier",
    "revenue_running_total",
    "events_hourly",
    "events_sliding_1h30m",
    "sales_rollup",
    "daily_revenue_analytics",
    "events_by_hour_of_day",
    "priority_price_extremes",
    "revenue_daily_deltas",
    "decontaminate_split",
    "repetition_profile",
    "sample_mixture",
    "pii_scrub",
    "pack_sequences",
    "dedup_savings",
    "token_counts",
    "build_vocab",
    "bm25_topk",
    "copurchase_pairs",
    "rolling_active_users",
    "daily_value_anomalies",
    "bigram_merge_candidates",
    "user_retention_cohorts",
    "phash_pairs",
    "incremental_phash_pairs",
    "wavhash_pairs",
    "incremental_wavhash_pairs",
    "multimodal_retention_plan",
    "multimodal_retention_apply",
    "session_gap_profile",
    "sessionize_events",
    "sessionize_skew_hybrid",
    "brand_size_disjunction_revenue",
    "bpe_learn",
    "bmp_roundtrip_audit",
    "vocab_coverage_audit",
    "doc_sentences",
    "stable_split",
    "tfidf_top_terms",
    "clean_corpus",
    "contract_violations",
    "invalid_rows",
    "invalid_values",
    "placeholder_discovery",
    "value_format_profile_events",
    "events_session_window",
    "exact_dedup",
    "source_quality_rollup",
    "rare_token_profile",
    "multimodal_frames",
    "user_value_trend",
    "table_profile",
    "totalprice_histogram",
    "revenue_per_day",
    "top10_units",
    "tx_per_store",
    "timeframe",
    "margin_signature_2months",
    "margin_signature_60days",
    "dup_groups",
    "pricing_summary",
    "sales_cube",
    "parts_shipped_both_years",
    "supplier_shipments_lost_yoy",
    "shipping_priority_top10",
    "local_supplier_volume",
    "customers_without_orders",
    "suppliers_of_promo_parts",
    "quantity_quartiles",
    "customer_order_distribution",
    "orders_status_priority_pivot",
    "order_measures_unpivot",
    "scd2_customer_history",
    "orders_scd2_asof",
    "orders_snapshot_diff",
    "bigram_lm_score",
    "bigram_lm_frozen_score",
    "shard_balance_audit",
    "event_transition_matrix",
    "kmeans_embeddings",
    "kmeans_label_purity",
    "span_rewrite",
    "span_rewrite_residual",
    "quality_probe_weights",
    "quality_probe_scores",
    "quality_probe_eval",
    "incremental_span_rewrite",
    "incremental_quality_weights",
    "decontaminate_apply",
    "funnel_conversion",
    "csv_ingest_check",
    "orders_merge_upsert",
    "multimodal_meta",
    "column_stats_orders",
    "nation_trade_balance",
    "acctbal_grouping_sets",
    "small_parts_revenue",
    "promo_revenue_share",
    "idle_customers_balance",
    "forecast_revenue_change",
    "volume_shipping",
    "nation_market_share",
    "product_type_profit",
    "returned_item_customers",
    "late_shipment_priority",
    "top_supplier_by_revenue",
    "large_volume_customers",
)


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    rank = {n: i for i, n in enumerate(_DRIVER_PRIORITY)}
    names = sorted(
        _REGISTRY,
        key=lambda n: (rank.get(n, len(rank)), list(_REGISTRY).index(n)),
    )
    return {n: _REGISTRY[n] for n in names}


# ---------------------------------------------------------------------------
# Cache hygiene: the persist ledger.
#
# Several operators persist multiply-consumed sub-frames (LSH
# signatures, shingles, CC label generations) that are still needed
# when the query fn RETURNS — the caller collects the result after —
# so the fn cannot unpersist them in a try/finally. A harness that
# runs the whole suite through one session would otherwise accumulate
# those caches until LRU eviction churns recomputation (observed 2.4×
# slowdowns). A blanket `spark.catalog.clearCache()` per query is
# correct but a sledgehammer: it also wipes caches Spark's
# plan-matching would legitimately reuse and costs an RPC per query.
# So every operator persist routes through `track_persist`, and the
# next registered-query invocation (by which time the previous query
# has been fully collected) drains exactly the frames the PREVIOUS
# queries persisted — nothing else.
# ---------------------------------------------------------------------------

_CACHE_LEDGER: list[DataFrame] = []


def track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist a multiply-consumed sub-frame and record it for deferred
    cleanup (drained at the next registered-query call / bench step)."""
    from pyspark import StorageLevel

    df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _CACHE_LEDGER.append(df)
    return df


def track_cached(df: DataFrame) -> DataFrame:
    """Record an already-persisted frame for deferred cleanup."""
    _CACHE_LEDGER.append(df)
    return df


def drain_cache_ledger() -> None:
    """Unpersist every ledgered frame (non-blocking). A frame that
    fails to unpersist is logged and the drain goes on to the rest."""
    while _CACHE_LEDGER:
        df = _CACHE_LEDGER.pop()
        try:
            df.unpersist()
        except Exception:
            get_logger(__name__).warning(
                "drain_cache_ledger: unpersist failed, frame left cached", exc_info=True
            )


def _self_cleaning(fn: SparkQuery) -> SparkQuery:
    """Wrap a query fn to drop frames ledgered by *earlier* queries."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        drain_cache_ledger()
        return fn(spark, sf_dir)

    return wrapped


def spark_queries() -> dict[str, SparkQuery]:
    """Driver-facing view of the registry (cache-hygienic wrappers)."""
    return {k: _self_cleaning(v.fn) for k, v in all_queries().items()}


def oracles() -> dict[str, str]:
    return {k: v.oracle for k, v in all_queries().items() if v.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        analytics_ext,
        clustering,
        dedup,
        funnels,
        graph,
        ingest_check,
        lm,
        merge,
        multimodal,
        pipeline_ops,
        profiling,
        quality_probe,
        relational,
        relational_ext,
        similarity,
        sketches,
        span_dedup,
        temporal,
        text_analysis,
        tpch_more,
        validation,
        windows,
    )

    _LOADED = True
