"""Incremental (corpus-delta) exact-span dedup (operators/span_dedup.py
round 8).

Pins (1) the equivalence contract — incremental_duplicate_spans ==
duplicate_spans restricted to delta docs — on a crafted corpus with
spans straddling the index boundary in all three ways (corpus-corpus,
corpus-delta, delta-delta), (2) the scale property: the corpus side
is a stored gram-postings scan, never a re-tokenization, and (3) the
fold lifecycle: extend_span_index is idempotent and the folded
snapshot aggregates to the true full-corpus postings.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from data_engineering_challenge_spark.operators.dedup import (
    INCR_DELTA_BUCKETS,
    INCR_DELTA_FROM,
)
from data_engineering_challenge_spark.operators.span_dedup import (
    build_span_index,
    duplicate_spans,
    extend_span_index,
    incremental_duplicate_spans,
    span_index_dir,
)
from data_engineering_challenge_spark.plans import physical_plan
from data_engineering_challenge_spark.sinks.versioned import history


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(f"inc:{doc_id}".encode()).hexdigest()[:8], 16) % (
        INCR_DELTA_BUCKETS
    )


BLOCK_A = " ".join(f"a{i}" for i in range(12))  # corpus-delta shared span
BLOCK_B = " ".join(f"b{i}" for i in range(8))   # delta-delta shared span
BLOCK_C = " ".join(f"c{i}" for i in range(10))  # corpus-corpus ONLY


@pytest.fixture(scope="module")
def straddle_corpus_dir(tmp_path_factory):
    corpus_ids = [i for i in range(400) if _bucket(i) < INCR_DELTA_FROM]
    delta_ids = [i for i in range(400) if _bucket(i) >= INCR_DELTA_FROM]
    rows = [
        {"doc_id": corpus_ids[0], "text": f"{BLOCK_A} corpus tail words"},
        {"doc_id": delta_ids[0], "text": f"delta lead {BLOCK_A} ending"},
        {"doc_id": delta_ids[1], "text": f"{BLOCK_B} first delta trailer"},
        {"doc_id": delta_ids[2], "text": f"other start {BLOCK_B} done"},
        {"doc_id": corpus_ids[1], "text": f"{BLOCK_C} one corpus close"},
        {"doc_id": corpus_ids[2], "text": f"pre {BLOCK_C} two corpus"},
    ]
    for j, d in enumerate(corpus_ids[3:10]):
        rows.append(
            {"doc_id": d, "text": " ".join(f"u{j}_{k}" for k in range(20))}
        )
    root = tmp_path_factory.mktemp("span_straddle")
    pd.DataFrame(rows).to_parquet(root / "documents.parquet", index=False)
    return str(root)


def test_incremental_equals_full_restricted(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    full = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in duplicate_spans(spark, straddle_corpus_dir).collect()
    }
    restricted = {k: v for k, v in full.items() if _bucket(k) >= INCR_DELTA_FROM}
    inc = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in incremental_duplicate_spans(spark, straddle_corpus_dir).collect()
    }
    assert inc == restricted
    # fixture exercises the interesting shapes: corpus-delta AND
    # delta-delta spans found; corpus-corpus spans excluded
    assert len(inc) == 3
    assert len(full) > len(restricted)


def test_corpus_side_is_stored_postings_scan(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx2"))
    table_dir = span_index_dir(straddle_corpus_dir)
    v = build_span_index(spark, straddle_corpus_dir, table_dir)
    assert v == 1
    df = incremental_duplicate_spans(spark, straddle_corpus_dir)
    plan = physical_plan(df, "formatted")
    assert f"v={v}" in plan
    assert plan.count("documents.parquet") == 1


def test_extend_is_idempotent_and_sums_to_full(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.operators.span_dedup import (
        _positional_grams,
    )
    from data_engineering_challenge_spark.sinks.versioned import read_snapshot

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx3"))
    table_dir = span_index_dir(straddle_corpus_dir)
    build_span_index(spark, straddle_corpus_dir, table_dir)
    v2 = extend_span_index(spark, straddle_corpus_dir, table_dir)
    v3 = extend_span_index(spark, straddle_corpus_dir, table_dir)
    assert (v2, v3) == (2, 3)
    # idempotent: v2 and v3 hold identical rows (re-folding replaces,
    # never double-counts, the delta postings)
    rows2 = sorted(map(tuple, read_snapshot(spark, table_dir, 2).collect()))
    rows3 = sorted(map(tuple, read_snapshot(spark, table_dir, 3).collect()))
    assert rows2 == rows3
    # the folded snapshot aggregates to the TRUE full-corpus postings
    folded = {
        r["gh"]: r["postings"]
        for r in read_snapshot(spark, table_dir)
        .groupBy("gh")
        .agg(F.sum("postings").alias("postings"))
        .collect()
    }
    docs = spark.read.parquet(
        os.path.join(straddle_corpus_dir, "documents.parquet")
    )
    direct = {
        r["gh"]: r["postings"]
        for r in _positional_grams(docs)
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("postings"))
        .collect()
    }
    assert folded == direct
    # the incremental probe still matches the full restriction after
    # the folds (it reads only the is_delta=false rows)
    full = {
        r["doc_id"] for r in duplicate_spans(spark, straddle_corpus_dir).collect()
    }
    inc = {
        r["doc_id"]
        for r in incremental_duplicate_spans(spark, straddle_corpus_dir).collect()
    }
    assert inc == {d for d in full if _bucket(d) >= INCR_DELTA_FROM}
    # manifest history retained all versions
    m = history(table_dir)
    assert m == {"latest": 3, "versions": [1, 2, 3]}


# ---------------------------------------------------------------------------
# Streaming landing-zone span filter (foreachBatch probe)


def _collect_out(spark, out_path):
    return {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in spark.read.parquet(out_path).collect()
    }


def test_stream_span_filter_matches_batch_and_restarts_clean(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    from data_engineering_challenge_spark.streaming.pipelines import (
        run_incremental_span_filter,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_s"))
    out = str(tmp_path / "span_table")
    ckpt = str(tmp_path / "ckpt")
    run_incremental_span_filter(spark, straddle_corpus_dir, out, ckpt)
    got = _collect_out(spark, out)
    batch = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in incremental_duplicate_spans(spark, straddle_corpus_dir).collect()
    }
    # one trigger holds the whole fixture -> per-trigger semantics
    # coincide with the batch probe exactly
    assert got == batch and len(got) == 3
    # restart with no new data: checkpoint replays nothing, the keyed
    # upsert leaves the table byte-stable (exactly-once)
    run_incremental_span_filter(spark, straddle_corpus_dir, out, ckpt)
    assert _collect_out(spark, out) == got


def test_stream_span_filter_second_trigger_upserts(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    import pandas as pd

    from data_engineering_challenge_spark.streaming.pipelines import (
        _stream_dir_for,
        run_incremental_span_filter,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_s2"))
    out = str(tmp_path / "span_table2")
    ckpt = str(tmp_path / "ckpt2")
    run_incremental_span_filter(spark, straddle_corpus_dir, out, ckpt)
    first = _collect_out(spark, out)

    # night two: a new delta file lands containing a doc that shares
    # BLOCK_A with the frozen corpus
    delta_ids = [i for i in range(400, 800) if _bucket(i) >= INCR_DELTA_FROM]
    new_doc = delta_ids[0]
    schema = spark.read.parquet(
        os.path.join(straddle_corpus_dir, "documents.parquet")
    ).schema
    sdir = _stream_dir_for(
        os.path.join(straddle_corpus_dir, "documents.parquet"),
        schema.simpleString(),
    )
    pd.DataFrame(
        [{"doc_id": new_doc, "text": f"late arrival {BLOCK_A} closes"}]
    ).to_parquet(os.path.join(sdir, "night2.parquet"), index=False)
    try:
        run_incremental_span_filter(spark, straddle_corpus_dir, out, ckpt)
        second = _collect_out(spark, out)
    finally:
        os.remove(os.path.join(sdir, "night2.parquet"))
    # prior rows untouched; the new doc's 12-token span appended
    assert {k: v for k, v in second.items() if k != new_doc} == first
    assert second[new_doc] == (1, 12, 12)


def test_incremental_rewrite_cuts_under_landing_policy(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    from data_engineering_challenge_spark.operators.span_dedup import (
        incremental_span_rewrite,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_rw"))
    delta_ids = [i for i in range(400) if _bucket(i) >= INCR_DELTA_FROM]
    got = {r["doc_id"]: r for r in incremental_span_rewrite(spark, straddle_corpus_dir).collect()}
    # corpus-owned BLOCK_A is cut from the arriving doc even though the
    # corpus owner's doc_id may be HIGHER (corpus-owns policy, not
    # global lowest-id); delta-delta BLOCK_B: lowest delta id keeps it
    assert set(got) == {delta_ids[0], delta_ids[2]}
    assert got[delta_ids[0]]["tokens_removed"] == 12
    assert got[delta_ids[0]]["cleaned_text"] == "delta lead ending"
    assert got[delta_ids[2]]["tokens_removed"] == 8
    assert got[delta_ids[2]]["cleaned_text"] == "other start done"


def test_stream_span_rewrite_matches_batch_and_restarts_clean(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    from data_engineering_challenge_spark.operators.dedup import _incr_bucket
    from data_engineering_challenge_spark.operators.span_dedup import (
        apply_incremental_span_removal,
        build_span_index,
        span_index_dir,
    )
    from data_engineering_challenge_spark.streaming.pipelines import (
        run_incremental_span_rewrite,
    )
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_srw"))
    out = str(tmp_path / "cleaned_docs")
    ckpt = str(tmp_path / "ckpt_rw")
    run_incremental_span_rewrite(spark, straddle_corpus_dir, out, ckpt)
    got = {
        r["doc_id"]: (r["text"], r["tokens_removed"])
        for r in spark.read.parquet(out).collect()
    }
    # one trigger holds the whole fixture -> per-trigger semantics
    # coincide with the batch rewrite over the full delta
    table_dir = span_index_dir(straddle_corpus_dir)
    docs = spark.read.parquet(os.path.join(straddle_corpus_dir, "documents.parquet"))
    if "source" not in docs.columns:
        docs = docs.withColumn("source", F.lit(None).cast("string"))
    delta = docs.filter(_incr_bucket(F.col("doc_id")) >= 90)
    batch = {
        r["doc_id"]: (r["text"], r["tokens_removed"])
        for r in apply_incremental_span_removal(spark, table_dir, delta).collect()
    }
    assert got == batch
    # every landed delta doc is present (uncut ones pass through), and
    # the cut ones carry cleaned text
    assert any(tr > 0 for _, tr in got.values())
    # restart with no new data: byte-stable landing table
    run_incremental_span_rewrite(spark, straddle_corpus_dir, out, ckpt)
    got2 = {
        r["doc_id"]: (r["text"], r["tokens_removed"])
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == got
