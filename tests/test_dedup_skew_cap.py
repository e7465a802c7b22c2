"""MinHash hot-band skew cap (operators/banding.py MAX_BAND_BUCKET).

A band bucket holding k docs contributes k^2 candidate pairs to the
bucket self-join; at corpus scale a boilerplate bucket is the one key
that breaks the stage. The cap drops oversized buckets from candidate
generation on BOTH engines (it is part of the operator's semantics,
oracle-verified at the registered scales where it never binds). Here we
craft a corpus where it DOES bind and assert both the Spark side and
the DuckDB oracle agree on the capped result.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from data_engineering_challenge_spark import testing
from data_engineering_challenge_spark.operators.banding import MAX_BAND_BUCKET, minhash_bands
from data_engineering_challenge_spark.operators.dedup import minhash_lsh_pairs
from data_engineering_challenge_spark.registry import all_queries

BOILERPLATE = (
    "this is the standard license header that appears verbatim on every "
    "generated page of the corpus and carries no signal at all"
)
NEAR_A = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR_B = "the quick brown fox jumps over the lazy dog near the river bank"


@pytest.fixture(scope="module")
def hot_corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("hotcorpus")
    n_hot = MAX_BAND_BUCKET + 6  # one bucket per band, all above the cap
    rows = [{"doc_id": i, "text": BOILERPLATE} for i in range(n_hot)]
    rows += [
        {"doc_id": 1000, "text": NEAR_A},
        {"doc_id": 1001, "text": NEAR_B},
    ]
    pd.DataFrame(rows).to_parquet(root / "documents.parquet", index=False)
    return str(root)


def test_cap_drops_hot_bucket_pairs_and_matches_oracle(spark, hot_corpus_dir):
    got = minhash_lsh_pairs(spark, hot_corpus_dir)
    rows = [tuple(r) for r in got.collect()]
    pair_docs = {d for r in rows for d in (r[0], r[1])}
    # every boilerplate doc sits in an over-cap bucket in all 4 bands ->
    # zero pairs from the hot cluster; the small near-dup pair survives
    assert all(d >= 1000 for d in pair_docs), f"hot-bucket pair leaked: {rows}"
    assert (1000, 1001) in {(r[0], r[1]) for r in rows}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{hot_corpus_dir}/documents.parquet'"
    )
    spec = all_queries()["minhash_lsh_pairs"]
    d_cols, d_rows = testing.run_oracle(con, spec.oracle)
    ok, detail = testing.compare(got.columns, rows, d_cols, d_rows)
    assert ok, detail


def test_cap_is_inert_on_registered_corpus(spark, sf_dir):
    """At the registered test scales no bucket exceeds the cap, so the
    capped operator equals the uncapped one (r1 driver-green result is
    unchanged)."""
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.operators import dedup as dd

    sig = dd._minhash_signatures(spark, sf_dir)
    biggest = (
        minhash_bands(sig)
        .groupBy("b", "bh")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert biggest <= MAX_BAND_BUCKET


def test_salted_join_spreads_hot_key_across_reducers(spark):
    """Spread pin for salted_join (the segment_event_value_salted
    consumer): on a one-hot-key fact with broadcast disabled (forcing a
    real shuffle join, the only regime where salting matters), the hot
    key's joined rows must land on >1 reducer partition — this fails if
    the salt is removed from the join key — and the salted result must
    equal the plain join."""
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.operators.skew import salted_join

    fact = spark.range(0, 20_000).select(
        F.when(F.col("id") < 18_000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    dim = spark.range(0, 50).select(F.col("id").alias("dk"), (F.col("id") * 10).alias("dv"))

    with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_conf = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE would coalesce this test-sized shuffle into one partition and
    # hide the spread; at scale it keeps hot (key, salt) groups apart
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = salted_join(fact, dim, "k", "dk")
        hot_parts = (
            joined.filter(F.col("k") == 7)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        assert hot_parts > 1, "salt removed: hot key funnelled through one reducer"
        plain = fact.join(dim, fact.k == dim.dk)
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_conf)
