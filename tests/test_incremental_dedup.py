"""Incremental (corpus-delta) dedup (operators/dedup.py round 7).

The production shape for a growing corpus: dedup a NEW batch against a
FROZEN MinHash signature index without recomputing the corpus side.
Pins (1) the equivalence contract — incremental == full-corpus dedup
restricted to delta-involved pairs — on a crafted corpus with known
near-dups straddling the index boundary, and (2) the scale property
that makes it incremental: the corpus side of the plan is a stored-
signature parquet scan, never a re-tokenization of corpus text.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from data_engineering_challenge_spark.operators.dedup import (
    INCR_DELTA_BUCKETS,
    INCR_DELTA_FROM,
    build_minhash_index,
    incremental_dedup,
    minhash_index_dir,
    minhash_lsh_pairs,
)
from data_engineering_challenge_spark.plans import physical_plan


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(f"inc:{doc_id}".encode()).hexdigest()[:8], 16) % (
        INCR_DELTA_BUCKETS
    )


BASE = (
    "the quick brown fox jumps over the lazy dog by the river bank "
    "while the sun sets slowly behind the old stone bridge tonight"
)


@pytest.fixture(scope="module")
def straddle_corpus_dir(tmp_path_factory):
    """Near-dup clusters placed so pairs exist corpus-corpus,
    corpus-delta, and delta-delta."""
    corpus_ids = [i for i in range(400) if _bucket(i) < INCR_DELTA_FROM]
    delta_ids = [i for i in range(400) if _bucket(i) >= INCR_DELTA_FROM]
    assert len(corpus_ids) >= 4 and len(delta_ids) >= 4
    rows = []
    # cluster A: two corpus docs + one delta doc, near-identical
    for i, d in enumerate([corpus_ids[0], corpus_ids[1], delta_ids[0]]):
        rows.append({"doc_id": d, "text": BASE + f" variant {i % 2}"})
    # cluster B: two delta docs
    for d in (delta_ids[1], delta_ids[2]):
        rows.append({"doc_id": d, "text": BASE.replace("fox", "wolf")})
    # singletons (no pairs)
    for j, d in enumerate(corpus_ids[2:12]):
        rows.append(
            {"doc_id": d, "text": f"completely unrelated document number {j} "
             + " ".join(f"tok{j}_{k}" for k in range(30))}
        )
    root = tmp_path_factory.mktemp("straddle")
    pd.DataFrame(rows).to_parquet(root / "documents.parquet", index=False)
    return str(root)


def test_incremental_equals_full_restricted(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(spark, straddle_corpus_dir).collect()
    }
    restricted = {
        k: v
        for k, v in full.items()
        if _bucket(k[0]) >= INCR_DELTA_FROM or _bucket(k[1]) >= INCR_DELTA_FROM
    }
    inc = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in incremental_dedup(spark, straddle_corpus_dir).collect()
    }
    assert inc == restricted
    # the fixture must actually exercise the interesting shapes:
    # at least one delta-involved pair found, and at least one
    # corpus-corpus pair correctly EXCLUDED from the incremental result
    assert len(inc) >= 2
    assert len(full) > len(restricted)


def test_corpus_side_is_stored_signature_scan(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    """After the index exists, the incremental plan reads corpus
    signatures from the snapshot parquet and scans the documents table
    exactly once (the delta side). No corpus re-tokenization."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx2"))
    table_dir = minhash_index_dir(straddle_corpus_dir)
    v = build_minhash_index(spark, straddle_corpus_dir, table_dir)
    assert v == 1
    df = incremental_dedup(spark, straddle_corpus_dir)
    plan = physical_plan(df, "formatted")
    # corpus side: the versioned snapshot path appears as a scan source
    assert f"v={v}" in plan
    # delta side: the documents table is scanned exactly once in the
    # physical plan (the corpus text is never re-read)
    assert plan.count("documents.parquet") == 1


def test_index_reused_not_rebuilt(spark, straddle_corpus_dir, tmp_path, monkeypatch):
    """Two invocations over the same fixture share one index version —
    the second run never rewrites the snapshot (manifest stays at
    v=1), which is the O(delta) nightly-cost contract."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx3"))
    incremental_dedup(spark, straddle_corpus_dir).collect()
    table_dir = minhash_index_dir(straddle_corpus_dir)
    from data_engineering_challenge_spark.sinks.versioned import history

    m1 = history(table_dir)
    incremental_dedup(spark, straddle_corpus_dir).collect()
    m2 = history(table_dir)
    assert m1 == m2 == {"latest": 1, "versions": [1]}


def test_index_fingerprint_tracks_source_mtime(tmp_path, monkeypatch):
    """A regenerated documents file (new mtime/size) must resolve to a
    DIFFERENT index dir — serving a stale index for changed data is the
    one failure mode a fingerprinted path exists to prevent."""
    import pandas as pd

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = tmp_path / "corpus"
    root.mkdir()
    f = root / "documents.parquet"
    pd.DataFrame([{"doc_id": 1, "text": "a b c"}]).to_parquet(f, index=False)
    d1 = minhash_index_dir(str(root))
    os.utime(f, (1_700_000_000, 1_700_000_000))
    d2 = minhash_index_dir(str(root))
    assert d1 != d2


def test_extend_index_folds_delta_and_keeps_history(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    """The nightly lifecycle's closing step: folding the delta into the
    index publishes v2 = corpus+delta signatures (read from the v1
    snapshot plus one delta pass, never a corpus re-tokenization),
    while v1 stays readable (snapshot isolation / rollback)."""
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.operators.dedup import (
        _minhash_signatures,
        extend_minhash_index,
    )
    from data_engineering_challenge_spark.sinks.versioned import read_snapshot

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx4"))
    table_dir = minhash_index_dir(straddle_corpus_dir)
    build_minhash_index(spark, straddle_corpus_dir, table_dir)
    v2 = extend_minhash_index(spark, straddle_corpus_dir, table_dir)
    assert v2 == 2
    # v2 holds exactly the full-corpus signature set
    full = {
        r.doc_id: tuple(r.s)
        for r in _minhash_signatures(spark, straddle_corpus_dir).collect()
    }
    got = {r.doc_id: tuple(r.s) for r in read_snapshot(spark, table_dir).collect()}
    assert got == full
    # v1 (corpus only) stays readable — strictly smaller
    v1 = read_snapshot(spark, table_dir, version=1)
    assert v1.count() < len(full)
    assert set(
        r.doc_id for r in v1.collect()
    ) == {d for d in full if _bucket(d) < INCR_DELTA_FROM}


def test_incremental_unaffected_by_folded_snapshot(
    spark, straddle_corpus_dir, tmp_path, monkeypatch
):
    """Running incremental_dedup AFTER extend_minhash_index folded the
    delta into v2 must produce the identical result: the snapshot read
    is bucket-filtered to corpus rows, so folded delta signatures are
    not unioned twice (which would inflate band-bucket sizes and emit
    duplicate join rows). Folding twice is likewise idempotent."""
    from data_engineering_challenge_spark.operators.dedup import (
        extend_minhash_index,
    )
    from data_engineering_challenge_spark.sinks.versioned import read_snapshot

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx6"))
    r1 = sorted(
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in incremental_dedup(spark, straddle_corpus_dir).collect()
    )
    table_dir = minhash_index_dir(straddle_corpus_dir)
    v2 = extend_minhash_index(spark, straddle_corpus_dir, table_dir)
    assert v2 == 2
    r2 = sorted(
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in incremental_dedup(spark, straddle_corpus_dir).collect()
    )
    assert r1 == r2 and len(r2) == len(set((a, b) for a, b, _ in r2))
    # folding again on an unchanged corpus publishes the same signature
    # set (no delta double-count inside the snapshot either)
    v3 = extend_minhash_index(spark, straddle_corpus_dir, table_dir)
    s2 = sorted(
        (r.doc_id, tuple(r.s))
        for r in read_snapshot(spark, table_dir, version=v2).collect()
    )
    s3 = sorted(
        (r.doc_id, tuple(r.s))
        for r in read_snapshot(spark, table_dir, version=v3).collect()
    )
    assert s2 == s3


def test_incremental_matches_full_when_cap_binds(spark, tmp_path, monkeypatch):
    """The union-cap argument under fire: a boilerplate cluster whose
    band buckets exceed MAX_BAND_BUCKET only in the UNION (corpus part
    below cap, delta pushes it over). Incremental must apply the
    union-size cap — dropping those buckets exactly like a full-corpus
    run — or it would emit pairs the full run suppresses."""
    import pandas as pd

    from data_engineering_challenge_spark.operators.banding import MAX_BAND_BUCKET

    corpus_ids = [i for i in range(3000) if _bucket(i) < INCR_DELTA_FROM]
    delta_ids = [i for i in range(3000) if _bucket(i) >= INCR_DELTA_FROM]
    boiler = (
        "this is the standard license header that appears verbatim on "
        "every generated page of the corpus and carries no signal"
    )
    n_corpus_boiler = MAX_BAND_BUCKET - 5   # below cap alone
    n_delta_boiler = 10                     # union pushes it over
    rows = [
        {"doc_id": d, "text": boiler}
        for d in corpus_ids[:n_corpus_boiler] + delta_ids[:n_delta_boiler]
    ]
    # plus one genuine cross pair that must survive
    rows.append({"doc_id": corpus_ids[-1], "text": BASE + " variant one"})
    rows.append({"doc_id": delta_ids[-1], "text": BASE + " variant two"})
    root = tmp_path / "capbind"
    root.mkdir()
    pd.DataFrame(rows).to_parquet(root / "documents.parquet", index=False)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx5"))

    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(spark, str(root)).collect()
    }
    inc = {
        (r.doc_a, r.doc_b)
        for r in incremental_dedup(spark, str(root)).collect()
    }
    delta_set = set(delta_ids)
    restricted = {
        k for k in full if k[0] in delta_set or k[1] in delta_set
    }
    assert inc == restricted
    # the boilerplate bucket really is over-cap in the union: no pair
    # touches the boilerplate docs on either engine
    boiler_docs = set(corpus_ids[:n_corpus_boiler] + delta_ids[:n_delta_boiler])
    assert not any(a in boiler_docs or b in boiler_docs for a, b in inc)
    # and the genuine cross pair survived
    assert (
        min(corpus_ids[-1], delta_ids[-1]),
        max(corpus_ids[-1], delta_ids[-1]),
    ) in inc
