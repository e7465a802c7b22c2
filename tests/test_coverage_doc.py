"""COVERAGE.md is the judge-facing operator map — it must not drift
from the registry: every registered query appears in the doc, and the
doc references no query that does not exist."""

from __future__ import annotations

import re
from pathlib import Path

from data_engineering_challenge_spark import registry

_DOC = Path(__file__).resolve().parent.parent / "COVERAGE.md"


def test_every_registered_query_is_documented():
    doc = _DOC.read_text()
    missing = [q for q in registry.all_queries() if f"`{q}`" not in doc]
    assert not missing, f"queries missing from COVERAGE.md: {missing}"


def test_documented_query_names_exist():
    doc = _DOC.read_text()
    known = set(registry.all_queries())
    # snake_case backticked tokens that look like query names (exclude
    # paths, module refs, calls, and schema/type annotations)
    candidates = {
        t
        for t in re.findall(r"`([a-z][a-z0-9_]+)`", doc)
        if "_" in t and not t.endswith((".py", ".sql", ".json"))
    }
    # non-query identifiers legitimately referenced in the doc
    allowed = {
        "write_partitioned_parquet", "write_bucketed_table", "verify_rowcount",
        "write_with_stats", "write_zordered", "compact_parquet", "write_jdbc",
        "backfill_partitions", "merge_upsert", "salted_count_distinct",
        "apply_span_removal", "build_quality_model", "train_quality_probe",
        "run_incremental_span_rewrite", "apply_incremental_span_removal",
        "build_quality_moments", "extend_quality_moments",
        "quality_score_stream", "apply_dedup_retention",
        "apply_multimodal_retention",
        "extend_index", "landing_transform",
        "write_orc", "read_orc", "write_jsonl", "read_jsonl",
        "read_csv_raw", "clean_to_schema", "ingest_csv_files",
        "union_with_drift", "read_csv_audited", "detect_delimiter",
        "infer_format", "fast_line_count", "load_table", "run_sql",
        "load_queries", "register_views", "compare_schemas",
        "create_profile_report", "clean_excel_frame", "profile_table",
        "run_pipeline", "run_incremental_rollup", "quick_column_stats",
        "hourly_event_counts_stream", "dedup_events_stream",
        "user_totals_stream", "user_totals_tws_stream",
        "session_counts_stream", "clicks_purchases_join_stream",
        "extract_payload_meta_arrow", "resize_media", "asof_join",
        "extend_minhash_index", "build_minhash_index",
        "build_pq_index", "bpe_apply_merges", "check_bpe_bigsf",
        "extend_pq_index", "vacuum_snapshots",
        "build_span_index", "extend_span_index", "hll_union_agg",
        "build_lm_model", "lm_doc_scores", "run_lm_score_stream",
        "build_lm_corpus_counts", "extend_lm_counts",
        "scd2_apply", "snapshot_diff",
        "sql_runner", "check_oracle", "run_sql_cli", "oracle_sql",
        "data_engineering_challenge_spark",
    }
    unknown = [
        t for t in candidates if t not in known and t not in allowed
    ]
    assert not unknown, f"COVERAGE.md references unknown names: {unknown}"
