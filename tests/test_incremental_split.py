"""The incremental delta split is defined twice, once per engine:
`dedup._incr_bucket` (Spark) and `dedup._incr_bucket_sql` (DuckDB, used
by every incremental oracle through `_INCR_PAIR_FILTER_SQL`). They must
assign every doc_id the same bucket, or the incremental queries would
silently disagree with their oracles about which docs are new."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from data_engineering_challenge_spark.operators.dedup import (
    INCR_DELTA_BUCKETS,
    INCR_DELTA_FROM,
    _INCR_PAIR_FILTER_SQL,
    _incr_bucket,
    _incr_bucket_sql,
)

IDS = list(range(5000)) + [2**40, 2**40 + 1, 2**41 + 12345, 2**53 + 7, 2**62 + 3]


def _spark_buckets(spark) -> dict[int, int]:
    df = spark.createDataFrame([(i,) for i in IDS], "doc_id long")
    return {
        r["doc_id"]: r["bucket"]
        for r in df.select("doc_id", _incr_bucket(F.col("doc_id")).alias("bucket")).collect()
    }


def test_spark_and_duckdb_buckets_agree(spark):
    con = duckdb.connect()
    con.register("ids", pd.DataFrame({"doc_id": pd.Series(IDS, dtype="int64")}))
    duck = dict(con.execute(f"SELECT doc_id, {_incr_bucket_sql('doc_id')} FROM ids").fetchall())
    got = _spark_buckets(spark)
    assert got == duck
    assert set(got.values()) == set(range(INCR_DELTA_BUCKETS))


def test_pair_filter_marks_pairs_with_a_delta_member(spark):
    bucket = _spark_buckets(spark)
    ids = IDS[:200] + IDS[-5:]
    pairs = [(a, b) for a in ids for b in ids if a < b]
    con = duckdb.connect()
    con.register("pairs", pd.DataFrame(pairs, columns=["doc_a", "doc_b"], dtype="int64"))
    marked = set(
        con.execute(f"SELECT doc_a, doc_b FROM pairs WHERE {_INCR_PAIR_FILTER_SQL}").fetchall()
    )
    expected = {
        (a, b) for a, b in pairs if bucket[a] >= INCR_DELTA_FROM or bucket[b] >= INCR_DELTA_FROM
    }
    assert marked == expected
    assert 0 < len(marked) < len(pairs)
