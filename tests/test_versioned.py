"""Versioned snapshot tables: atomic publish, time travel, rollback."""

from __future__ import annotations

import pytest

from data_engineering_challenge_spark.sinks.versioned import (
    history,
    read_snapshot,
    rollback,
    write_snapshot,
)


def test_snapshot_write_read_time_travel_rollback(spark, tmp_path):
    d = str(tmp_path / "tbl")
    assert write_snapshot(spark.range(10), d) == 1
    assert write_snapshot(spark.range(20), d) == 2
    assert write_snapshot(spark.range(5), d) == 3

    assert read_snapshot(spark, d).count() == 5  # latest = v3
    assert read_snapshot(spark, d, version=2).count() == 20  # time travel

    rollback(d, 2)
    assert read_snapshot(spark, d).count() == 20  # latest repointed
    assert read_snapshot(spark, d, version=3).count() == 5  # v3 still readable
    assert history(d) == {"latest": 2, "versions": [1, 2, 3]}

    # writing after rollback continues the version sequence (no reuse)
    assert write_snapshot(spark.range(7), d) == 4
    assert read_snapshot(spark, d).count() == 7


def test_snapshot_unknown_version_raises(spark, tmp_path):
    d = str(tmp_path / "tbl")
    write_snapshot(spark.range(3), d)
    with pytest.raises(ValueError, match="not in table history"):
        read_snapshot(spark, d, version=9)
    with pytest.raises(ValueError, match="not in table history"):
        rollback(d, 9)


def test_vacuum_drops_old_versions_keeps_latest_and_retained(spark, tmp_path):
    import os

    from data_engineering_challenge_spark.sinks.versioned import vacuum_snapshots

    d = str(tmp_path / "tbl")
    for n in (10, 20, 5, 7):
        write_snapshot(spark.range(n), d)
    assert vacuum_snapshots(d, keep_last=2) == [1, 2]
    assert history(d) == {"latest": 4, "versions": [3, 4]}
    assert read_snapshot(spark, d).count() == 7
    assert read_snapshot(spark, d, version=3).count() == 5
    # vacuumed versions are unreachable through the manifest AND gone
    with pytest.raises(ValueError, match="not in table history"):
        read_snapshot(spark, d, version=1)
    assert not os.path.exists(os.path.join(d, "v=1"))
    # idempotent
    assert vacuum_snapshots(d, keep_last=2) == []


def test_vacuum_never_drops_a_rolled_back_latest(spark, tmp_path):
    from data_engineering_challenge_spark.sinks.versioned import vacuum_snapshots

    d = str(tmp_path / "tbl")
    for n in (10, 20, 5):
        write_snapshot(spark.range(n), d)
    rollback(d, 1)  # latest points at the OLDEST version
    assert vacuum_snapshots(d, keep_last=1) == [2]
    assert read_snapshot(spark, d).count() == 10  # v1 survives as latest
    assert history(d) == {"latest": 1, "versions": [1, 3]}


def test_write_replaces_an_unpublished_leftover_version(spark, tmp_path):
    """A write that died after creating `v=1/` but before publishing the
    manifest must not block the next write of v1."""
    d = tmp_path / "tbl"
    spark.range(3).write.parquet(str(d / "v=1"))  # crash leftover
    assert history(str(d))["versions"] == []
    assert write_snapshot(spark.range(7), str(d)) == 1
    assert sorted(r.id for r in read_snapshot(spark, str(d)).collect()) == list(range(7))


def test_corpus_delta_lifecycle_helpers(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.sinks.versioned import (
        ensure_snapshot,
        fold_delta_snapshot,
        read_corpus_snapshot,
        write_corpus_snapshot,
    )

    d = str(tmp_path / "tbl")
    builds = []

    def build():
        builds.append(write_corpus_snapshot(spark.range(5), d))

    ensure_snapshot(d, build)
    ensure_snapshot(d, build)
    assert builds == [1]

    delta = spark.range(100, 103)
    assert fold_delta_snapshot(spark, d, delta) == 2
    assert fold_delta_snapshot(spark, d, delta) == 3
    v2, v3 = (
        sorted(map(tuple, read_snapshot(spark, d, v).collect())) for v in (2, 3)
    )
    assert v2 == v3 == [(i, False) for i in range(5)] + [(i, True) for i in range(100, 103)]

    corpus = read_corpus_snapshot(spark, d)
    assert corpus.columns == ["id"]
    assert sorted(r.id for r in corpus.collect()) == list(range(5))
    assert read_snapshot(spark, d).filter(F.col("is_delta")).count() == 3
