"""The MinHash estimator `banding.sig_est` is an unrolled codegen sum;
it must be BIT-identical to the zip_with/aggregate fold it stands in
for, or the MinHash queries would drift from their oracles."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from data_engineering_challenge_spark.operators.banding import NUM_MINHASH, sig_est


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def test_sig_est_matches_fold(spark):
    rows = []
    for r in range(32):
        sa = [(r * 7 + j) % 5 for j in range(NUM_MINHASH)]
        sb = [(r * 7 + j) % 5 if (r + j) % 3 else -1 for j in range(NUM_MINHASH)]
        rows.append((r, sa, sb))
    df = spark.createDataFrame(rows, "id long, s_a array<long>, s_b array<long>")
    eq = F.zip_with("s_a", "s_b", lambda x, y: (x == y).cast("int"))
    fold = F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / float(NUM_MINHASH)
    got = df.select(fold.alias("fold"), sig_est().alias("unrolled")).collect()
    for r in got:
        assert _bits(r["fold"]) == _bits(r["unrolled"])
