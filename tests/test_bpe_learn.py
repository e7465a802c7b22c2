"""Iterated BPE merge learning (operators/analytics_ext.py bpe_learn).

Pins the merge semantics on a hand-computed corpus: pair counting over
the current segmentation, single winner per step with lexicographic
tie-break, greedy non-overlapping left-to-right re-segmentation, and
merge composition (later merges treat earlier merged tokens as units).
The DuckDB oracle (gaps-and-islands greedy selection) is checked
against the same hand computation, so a drift in EITHER engine's
re-segmentation breaks this test, not just the cross-engine compare.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from data_engineering_challenge_spark import testing
from data_engineering_challenge_spark.operators.analytics_ext import (
    BPE_LEARN_STEPS,
    _bpe_learn_sql,
    bpe_learn,
)

# doc1: a b a b c   doc2: a b c d
#
# step 1 pairs: (a,b)x3  (b,a)x1  (b,c)x2  (c,d)x1       -> merge (a,b) f=3
#   doc1: [a b, a b, c]      doc2: [a b, c, d]
# step 2 pairs: (a b,a b)x1  (a b,c)x2  (c,d)x1          -> merge (a b,c) f=2
#   doc1: [a b, a b c]       doc2: [a b c, d]
# step 3 pairs: (a b,a b c)x1  (a b c,d)x1  tie, lhs asc -> merge (a b,a b c) f=1
HAND = [
    (1, "a", "b", 3),
    (2, "a b", "c", 2),
    (3, "a b", "a b c", 1),
]


@pytest.fixture(scope="module")
def hand_corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("bpehand")
    pd.DataFrame(
        [
            {"doc_id": 1, "text": "a b a b c"},
            {"doc_id": 2, "text": "a b c d"},
        ]
    ).to_parquet(root / "documents.parquet", index=False)
    return str(root)


def test_spark_matches_hand_computation(spark, hand_corpus_dir):
    rows = [tuple(r) for r in bpe_learn(spark, hand_corpus_dir).collect()]
    assert rows[:3] == HAND
    # the run continues past step 3 while pairs remain; every step's
    # frequency is a positive count and steps are consecutive
    assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r[3] >= 1 for r in rows)
    assert len(rows) <= BPE_LEARN_STEPS


def test_oracle_matches_hand_computation(hand_corpus_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{hand_corpus_dir}/documents.parquet'"
    )
    _, rows = testing.run_oracle(con, _bpe_learn_sql(3))
    assert [tuple(r) for r in rows] == HAND


def test_overlapping_run_merges_greedily(spark, tmp_path_factory):
    """'x x x x x' with winner (x,x): greedy merges positions 1-2 and
    3-4, leaving [x x, x x, x] — the overlap case both the fold and
    the islands-parity SQL must get right."""
    root = tmp_path_factory.mktemp("bperun")
    pd.DataFrame([{"doc_id": 1, "text": "x x x x x"}]).to_parquet(
        root / "documents.parquet", index=False
    )
    rows = [tuple(r) for r in bpe_learn(spark, str(root)).collect()]
    # step 1: (x,x) appears 4 times (overlapping count)
    assert rows[0] == (1, "x", "x", 4)
    # step 2 segmentation is [x x, x x, x]: pairs (x x, x x) and (x x, x)
    assert rows[1] == (2, "x x", "x", 1) or rows[1] == (2, "x x", "x x", 1)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'"
    )
    _, orows = testing.run_oracle(con, _bpe_learn_sql(2))
    assert [tuple(r) for r in orows] == rows[:2]


def test_bpe_apply_matches_hand_computation(spark, hand_corpus_dir):
    """Per-doc encode report on the hand corpus. After the full merge
    run (steps 1-3 as in HAND, then step 4 merges (a b c, d), then no
    pairs remain): doc1 'a b a b c' -> one token, doc2 'a b c d' ->
    one token."""
    from data_engineering_challenge_spark.operators.analytics_ext import bpe_apply

    rows = [tuple(r) for r in bpe_apply(spark, hand_corpus_dir).collect()]
    assert rows == [(1, 5, 1, 5.0), (2, 4, 1, 4.0)]


def test_bpe_apply_merges_standalone_encoder_matches_loop(spark, hand_corpus_dir):
    """bpe_apply_merges with the FROZEN merge table must reproduce the
    learn loop's final segmentation exactly — the contract that lets a
    production pipeline encode with a stored table."""
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.catalog import load_table
    from data_engineering_challenge_spark.functions.text import tokens
    from data_engineering_challenge_spark.operators.analytics_ext import (
        _bpe_learn_loop,
        bpe_apply_merges,
    )

    merges, final = _bpe_learn_loop(spark, hand_corpus_dir)
    base = load_table(spark, hand_corpus_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("seq")
    )
    encoded = bpe_apply_merges(base, [(m[1], m[2]) for m in merges])
    got = {r.doc_id: list(r.seq) for r in encoded.collect()}
    want = {r.doc_id: list(r.seq) for r in final.collect()}
    assert got == want


def test_bpe_apply_long_doc_bounded_time(spark, tmp_path_factory):
    """The r7 verdict's hazard, pinned closed: a 100k-token document
    must encode in bounded time. The old F.aggregate fold copied the
    accumulator per element (O(L^2) ~ 1e10 element copies here); the
    linear re-segmentation is a flag string + one regexp_replace.
    'x' * 100k halves per step: 6 merges -> ceil-chain to 1563."""
    import time

    from data_engineering_challenge_spark.operators.analytics_ext import bpe_apply

    root = tmp_path_factory.mktemp("bpelong")
    pd.DataFrame([{"doc_id": 1, "text": " ".join(["x"] * 100_000)}]).to_parquet(
        root / "documents.parquet", index=False
    )
    t0 = time.time()
    rows = [tuple(r) for r in bpe_apply(spark, str(root)).collect()]
    elapsed = time.time() - t0
    assert rows == [(1, 100_000, 1563, 100_000 / 1563)]
    assert elapsed < 120, f"encode took {elapsed:.0f}s — re-segmentation regressed"


def test_bpe_artifacts_built_once_and_shared(spark, tmp_path, monkeypatch):
    """bpe_apply and bpe_fertility_by_source share ONE stored
    tokenizer-freeze artifact: the first call publishes merges+counts
    v1, later calls (either query) reuse it without a new version."""
    import os

    from data_engineering_challenge_spark.operators.analytics_ext import (
        bpe_apply,
        bpe_fertility_by_source,
        bpe_learn,
        bpe_table_dir,
    )
    from data_engineering_challenge_spark.sinks.versioned import history, read_snapshot

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pd.DataFrame(
        [
            {"doc_id": 1, "text": "a b a b c", "source": "web"},
            {"doc_id": 2, "text": "a b c d", "source": "code"},
        ]
    ).to_parquet(corpus / "documents.parquet", index=False)
    sf = str(corpus)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    first = [tuple(r) for r in bpe_apply(spark, sf).collect()]
    counts = os.path.join(bpe_table_dir(sf), "counts")
    m1 = history(counts)["versions"]
    fert = {r.source: (r.base_tokens, r.bpe_tokens)
            for r in bpe_fertility_by_source(spark, sf).collect()}
    second = [tuple(r) for r in bpe_apply(spark, sf).collect()]
    m2 = history(counts)["versions"]
    assert first == second == [(1, 5, 1, 5.0), (2, 4, 1, 4.0)]
    assert fert == {"web": (5, 1), "code": (4, 1)}
    assert m1 == m2 == [1]
    # the merge table snapshot matches a live bpe_learn run
    stored = sorted(
        tuple(r) for r in read_snapshot(
            spark, os.path.join(bpe_table_dir(sf), "merges")
        ).collect()
    )
    live = sorted(tuple(r) for r in bpe_learn(spark, sf).collect())
    assert stored == live
