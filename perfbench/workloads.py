"""Workloads: which registered queries each one owns, which of them a
run executes, and the pipeline and streaming ops that ride along.

Every registered query belongs to exactly one workload's pool, by the
operator module that defines it, or sits in `EXCLUDED` with a reason
(tests/test_coverage.py enforces this). A run executes the workload's
fixed `SAMPLE` of its pool, one query of every pool module (but those in
`UNSAMPLED`), plus its
write ops: the sample is the same for every seed, so runs with
different seeds stay comparable, and it is small enough that a cold and
a warm pass fit in one run. The seed changes the ingest and streaming
inputs and the op order. Why each workload was
chosen is recorded in BENCHMARK.json and README.md.
"""

from __future__ import annotations

# operator module -> workload whose pool owns its queries
POOLS: dict[str, tuple[str, ...]] = {
    "retail_olap": (
        "relational", "relational_ext", "tpch_more", "windows", "analytics_ext",
        "temporal", "funnels", "validation", "profiling", "merge", "sketches",
        "ingest_check",
    ),
    "llm_corpus": (
        "dedup", "similarity", "span_dedup", "text_analysis", "multimodal",
        "graph", "lm", "clustering", "quality_probe", "pipeline_ops",
    ),
}

# registered queries no workload runs, with the reason
EXCLUDED: dict[str, str] = {}

# queries whose oracle reads a file the query itself writes: their
# oracle is computed after the op has run, outside its timer
ORACLE_AFTER_RUN = {"csv_ingest_check"}

# pool modules no run samples, with the reason
UNSAMPLED: dict[str, str] = {
    "quality_probe": "every query of it trains the quality model in a cold pass "
    "(~8 s a run), which the run length cannot fit",
}

# the queries a run executes: one per pool module not in UNSAMPLED, picked
# by sample.py from a measured pass over the pool (README.md compares the
# two mixes)
SAMPLE: dict[str, tuple[str, ...]] = {
    "retail_olap": (
        "bigram_merge_candidates", "funnel_conversion", "csv_ingest_check",
        "orders_scd2_asof", "totalprice_histogram", "margin_signature_60days",
        "acctbal_grouping_sets", "hll_rollup_check", "purchase_click_context",
        "forecast_revenue_change", "invalid_rows", "events_by_hour_of_day",
    ),
    "llm_corpus": (
        "kmeans_label_purity", "ngram_jaccard_pairs", "dedup_clusters",
        "bigram_lm_score", "multimodal_frames", "sample_mixture",
        "ann_topk", "duplicate_spans", "stable_split",
    ),
}

# pipeline and streaming ops per workload (see ops.py)
WRITE_OPS: dict[str, tuple[str, ...]] = {
    "retail_olap": ("etl.transactions_csv", "stream.dedup_events"),
    "llm_corpus": ("etl.clean_corpus", "stream.landing_dedup"),
}

# nominal warm-pass time of either workload on a 4-core host: a run makes
# max(1, seconds // PASS_SECONDS) warm passes, a count fixed by --seconds
# alone, so a faster commit does the same work as a slower one
PASS_SECONDS = 10.0

def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]
