"""Sign-LSH hot-bucket cap (operators/banding.py _cosine_bucket_cap).

A sign-LSH band has only 2^8 = 256 buckets, so one (band, bucket) can
hold an entire embedding cluster → k² candidates in the self-join. The
relative cap max(64, 8·⌈n/256⌉) drops such buckets from candidate
generation on BOTH engines (it is part of embedding_cosine_pairs'
defined semantics — the sf0.01/sf1/sf10 sweeps verify it where it
binds and where it doesn't). Here we craft a corpus where it DOES bind
and assert Spark and the DuckDB oracle agree on the capped result.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from data_engineering_challenge_spark import testing
from data_engineering_challenge_spark.operators.banding import (
    COSINE_BUCKET_CAP_MIN,
    _cosine_bucket_cap,
)
from data_engineering_challenge_spark.operators.similarity import embedding_cosine_pairs
from data_engineering_challenge_spark.registry import all_queries

N_HOT = COSINE_BUCKET_CAP_MIN + 6  # one bucket per band, above the cap


def _unit(v: np.ndarray) -> list[float]:
    return [float(x) for x in (v / np.linalg.norm(v)).astype(np.float32)]


@pytest.fixture(scope="module")
def clustered_corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("cluster_corpus")
    # hot cluster: N_HOT IDENTICAL vectors → the same bucket in all 4
    # bands, each bucket holding N_HOT > cap rows → every band dropped
    c = np.random.RandomState(42).randn(64)
    # survivor pair: direction d and a noised twin — verified offline to
    # share the band-3 bucket at cosine ≈ 0.63 (≥ the 0.4 threshold)
    d = np.random.RandomState(7).randn(64)
    d2 = d / np.linalg.norm(d) + 0.15 * np.random.RandomState(101).randn(64)
    rows = [{"vec_id": i, "embedding": _unit(c)} for i in range(N_HOT)]
    rows += [
        {"vec_id": 1000, "embedding": _unit(d)},
        {"vec_id": 1001, "embedding": _unit(d2)},
    ]
    pd.DataFrame(rows).to_parquet(root / "embeddings.parquet", index=False)
    return str(root)


def test_cap_scales_with_corpus_size():
    # floor: small corpora keep the historical absolute cap
    assert _cosine_bucket_cap(500) == 64
    assert _cosine_bucket_cap(64 * 256 // 8) == 64
    # relative regime: 8× the uniform per-bucket expectation n/256
    assert _cosine_bucket_cap(32_000) == 8 * 125
    assert _cosine_bucket_cap(1_000_000) == 8 * ((1_000_000 + 255) // 256)


def test_cap_drops_hot_cluster_pairs_and_matches_oracle(spark, clustered_corpus_dir):
    got = embedding_cosine_pairs(spark, clustered_corpus_dir)
    rows = [tuple(r) for r in got.collect()]
    pair_docs = {d for r in rows for d in (r[0], r[1])}
    # the identical-vector cluster sits above the cap in every band →
    # zero pairs from it; the small survivor pair collides in band 3
    assert all(v >= 1000 for v in pair_docs), f"hot-bucket pair leaked: {rows[:5]}"
    assert {(r[0], r[1]) for r in rows} == {(1000, 1001)}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{clustered_corpus_dir}/embeddings.parquet'"
    )
    spec = all_queries()["embedding_cosine_pairs"]
    d_cols, d_rows = testing.run_oracle(con, spec.oracle)
    ok, detail = testing.compare(got.columns, rows, d_cols, d_rows)
    assert ok, detail
