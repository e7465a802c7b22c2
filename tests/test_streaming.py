"""Structured Streaming pipelines driven to completion against their
batch twins (memory sink + processAllAvailable)."""

from __future__ import annotations

from data_engineering_challenge_spark.operators.windows import events_hourly
from data_engineering_challenge_spark.streaming.pipelines import (
    clean_corpus_stream,
    corpus_clean_transform,
    dedup_events_stream,
    hourly_event_counts_stream,
    run_stream_to_memory,
)
from data_engineering_challenge_spark.testing import compare


def test_stream_staging_dir_is_content_addressed():
    """A staging dir keyed on (path, resolved-schema token): a schema
    change MUST re-stage, same inputs MUST reuse — this is what stops a
    stale /tmp copy from masking a source-type change (the round-2
    fresh-environment streaming failure)."""
    from data_engineering_challenge_spark.streaming.pipelines import _stream_dir_for

    a = _stream_dir_for("/some/events.parquet", "struct<ts:bigint>")
    b = _stream_dir_for("/some/events.parquet", "struct<ts:timestamp_ntz>")
    c = _stream_dir_for("/some/events.parquet", "struct<ts:bigint>")
    assert a != b, "schema change must map to a fresh staging dir"
    assert a == c, "identical (path, schema) must reuse the same dir"


def test_streaming_hourly_matches_batch(spark, sf_dir):
    s = hourly_event_counts_stream(spark, sf_dir)
    assert s.isStreaming
    # complete mode: a finite file source never advances the watermark
    # past the last events, so append would withhold the final windows
    run_stream_to_memory(s, "hourly_out", mode="complete")
    got = spark.sql("SELECT * FROM hourly_out")
    want = events_hourly(spark, sf_dir)
    ok, detail = compare(
        got.columns,
        [tuple(r) for r in got.collect()],
        want.columns,
        [tuple(r) for r in want.collect()],
    )
    assert ok, detail


def test_streaming_corpus_clean_matches_batch(spark, sf_dir):
    """The stateless cleaning chain must yield identical rows whether
    the documents arrive as a stream or a batch table."""
    from data_engineering_challenge_spark.catalog import load_table

    s = clean_corpus_stream(spark, sf_dir)
    assert s.isStreaming
    run_stream_to_memory(s, "corpus_clean_out", mode="append")
    got = spark.sql("SELECT * FROM corpus_clean_out")
    want = corpus_clean_transform(load_table(spark, sf_dir, "documents"))
    ok, detail = compare(
        got.columns,
        [tuple(r) for r in got.collect()],
        want.columns,
        [tuple(r) for r in want.collect()],
    )
    assert ok, detail
    assert got.count() > 0


def test_streaming_dedup(spark, sf_dir):
    s = dedup_events_stream(spark, sf_dir)
    run_stream_to_memory(s, "dedup_out", mode="append")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    assert got.n == got.d  # no duplicate event_ids survive
    assert got.n > 0


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    import pytest

    from data_engineering_challenge_spark.catalog import load_table
    from data_engineering_challenge_spark.streaming.pipelines import user_totals_stream
    from pyspark.sql import functions as F

    s = user_totals_stream(spark, sf_dir)
    assert s.isStreaming
    run_stream_to_memory(s, "user_totals_out", mode="update")
    # last update per user = the totals after all data was consumed
    got = {
        r.user_id: r
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                   SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY n_events DESC) rk
                   FROM user_totals_out) WHERE rk = 1"""
        ).collect()
    }
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    )
    assert len(got) == len(want)
    for w in want:
        g = got[w.user_id]
        assert g.n_events == w.n_events
        assert g.total_value == pytest.approx(w.total_value, rel=1e-9)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Deterministic late-data semantics: after batch 1 advances the
    watermark, a batch-2 event whose 10-min window closed before the
    watermark is DROPPED; an in-watermark event still counts."""
    import os

    from pyspark.sql import functions as F
    from data_engineering_challenge_spark.streaming.pipelines import (
        run_stream_collect_batches,
    )

    src = tmp_path / "stream_src"
    os.makedirs(src)
    base = "2024-01-01 {}"
    # batch 0 advances the watermark to 10:50; batch 1 triggers state
    # eviction for closed windows (Spark applies the late filter from
    # the batch after eviction); batch 2 carries the probe rows
    files = {
        "f1": [(i, base.format(t)) for i, t in enumerate(
            ["10:00:00", "10:05:00", "10:20:00", "10:55:00", "11:00:00"])],
        "f2": [(100, base.format("11:01:00"))],
        "f3": [(200, base.format("10:05:30")),   # late: window [10:00,10:10) closed
               (201, base.format("10:55:30"))],  # ok: window [10:50,11:00) still open
    }
    for name, rows in files.items():
        spark.createDataFrame(rows, ["event_id", "ts_s"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(str(src / name))
    # flatten: the file source wants files in one dir, ordered by mtime
    import glob
    import shutil

    flat = tmp_path / "flat"
    os.makedirs(flat)
    for i, d in enumerate(files):
        (p,) = glob.glob(str(src / d / "part-*.parquet"))
        shutil.copy(p, str(flat / f"{i:04d}.parquet"))
        os.utime(str(flat / f"{i:04d}.parquet"), (1700000000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    batches = run_stream_collect_batches(stream, mode="update")
    assert len(batches) >= 3
    probe_updates = [r for _, rows in batches[2:] for r in rows]
    starts = {r.ws for r in probe_updates}
    assert "2024-01-01 10:50:00" in starts  # in-watermark event counted
    assert "2024-01-01 10:00:00" not in starts  # late event dropped


def test_parquet_sink_with_checkpoint(spark, sf_dir, tmp_path):
    from data_engineering_challenge_spark.streaming.pipelines import (
        dedup_events_stream,
        write_stream_to_parquet,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_stream_to_parquet(dedup_events_stream(spark, sf_dir), out, ckpt)
    back = spark.read.parquet(out)
    assert back.count() == back.select("event_id").distinct().count()
    assert back.count() > 0


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Stop a checkpointed query, add a file, restart with the same
    checkpoint: the first file must not be reprocessed (offsets in the
    checkpoint), and the sink ends up with each row exactly once."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_file(name, ids):
        spark.createDataFrame([(i,) for i in ids], ["event_id"]).coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / ("stage_" + name)))
        import glob
        import shutil

        (p,) = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))
        shutil.copy(p, os.path.join(src, name + ".parquet"))

    def run_once():
        q = (
            spark.readStream.schema("event_id long")
            .parquet(src)
            .withColumn("doubled", F.col("event_id") * 2)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write_file("f1", range(0, 100))
    run_once()
    assert spark.read.parquet(out).count() == 100
    write_file("f2", range(100, 150))
    run_once()  # restart from the same checkpoint
    back = spark.read.parquet(out)
    assert back.count() == 150  # f1 NOT reprocessed, f2 appended once
    assert back.select("event_id").distinct().count() == 150
    assert back.agg(F.sum("doubled")).first()[0] == sum(2 * i for i in range(150))


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.catalog import load_table
    from data_engineering_challenge_spark.streaming.pipelines import (
        clicks_purchases_join_stream,
    )

    s = clicks_purchases_join_stream(spark, sf_dir)
    assert s.isStreaming
    run_stream_to_memory(s, "ssj_out", mode="append")
    got = sorted(map(tuple, spark.sql("SELECT * FROM ssj_out").collect()))

    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"))
    want = sorted(map(tuple, (
        c.join(p, F.expr(
            "c_user = p_user AND purchase_ts >= click_ts - INTERVAL 10 MINUTES "
            "AND purchase_ts <= click_ts"))
        .select("click_id", "purchase_id", F.col("c_user").alias("user_id"),
                "click_ts", "purchase_ts")
    ).collect()))
    assert got == want
    assert len(got) > 0


def test_streaming_session_window_matches_batch(spark, sf_dir):
    from data_engineering_challenge_spark.operators.windows import (
        events_session_window,
    )
    from data_engineering_challenge_spark.streaming.pipelines import (
        session_counts_stream,
    )

    s = session_counts_stream(spark, sf_dir)
    assert s.isStreaming
    run_stream_to_memory(s, "session_out", mode="complete")
    got = spark.sql("SELECT * FROM session_out")
    want = events_session_window(spark, sf_dir)
    ok, detail = compare(
        got.columns,
        [tuple(r) for r in got.collect()],
        want.columns,
        [tuple(r) for r in want.collect()],
    )
    assert ok, detail


def test_transform_with_state_matches_batch_or_documented_gate(spark, sf_dir):
    """The TWS surface's status is self-documenting in either
    environment — this test never skips. With protobuf installed, the
    transformWithStateInPandas pipeline must reproduce the batch
    aggregate; without it (this container — installs are forbidden),
    the entry point must fail fast with the documented
    NotImplementedError instead of crashing a Python worker at the
    StateMessage_pb2 import. applyInPandasWithState
    (test_apply_in_pandas_with_state_*) covers the same stateful
    semantics dependency-free."""
    import pytest

    from data_engineering_challenge_spark.catalog import load_table
    from data_engineering_challenge_spark.streaming.pipelines import (
        user_totals_tws_stream,
    )
    from pyspark.sql import functions as F

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_totals_tws_stream(spark, sf_dir)
        return

    s = user_totals_tws_stream(spark, sf_dir)
    assert s.isStreaming
    run_stream_to_memory(s, "user_totals_tws_out", mode="update")
    got = {
        r.user_id: r
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                   SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY n_events DESC) rk
                   FROM user_totals_tws_out) WHERE rk = 1"""
        ).collect()
    }
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    )
    assert len(got) == len(want)
    for w in want:
        g = got[w.user_id]
        assert g.n_events == w.n_events
        assert g.total_value == pytest.approx(w.total_value, rel=1e-9)


def test_incremental_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The continuously-upserted rollup table must equal the one-shot
    batch aggregation after the stream drains (and survive the
    write-temp-then-replace swap)."""
    from data_engineering_challenge_spark.operators.windows import events_hourly
    from data_engineering_challenge_spark.streaming.rollup import (
        run_incremental_rollup,
    )

    rollup = str(tmp_path / "rollup")
    run_incremental_rollup(spark, sf_dir, rollup, str(tmp_path / "ckpt"))
    got = spark.read.parquet(rollup)
    want = events_hourly(spark, sf_dir)
    ok, detail = compare(
        got.columns,
        [tuple(r) for r in got.collect()],
        want.columns,
        [tuple(r) for r in want.collect()],
    )
    assert ok, detail


def test_incremental_rollup_restart_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running the rollup with the same checkpoint and no new data
    must leave the table byte-for-byte identical (offsets committed;
    per-key upsert replay-safe)."""
    from data_engineering_challenge_spark.streaming.rollup import (
        run_incremental_rollup,
    )

    rollup, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    run_incremental_rollup(spark, sf_dir, rollup, ckpt)
    first = sorted(map(tuple, spark.read.parquet(rollup).collect()))
    run_incremental_rollup(spark, sf_dir, rollup, ckpt)  # restart, no new data
    second = sorted(map(tuple, spark.read.parquet(rollup).collect()))
    assert first == second and len(first) > 0


def test_incremental_rollup_survives_crash_mid_publish(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between renaming the live rollup aside and promoting the
    new one must not lose committed buckets: the previous table
    survives (live or `.old`), and a restart from the same checkpoint
    restores it, replays the failed trigger and completes the rollup.
    Covers the rename-aside publish shared by every upsert sink."""
    import os
    import shutil

    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import StreamingQueryException

    from data_engineering_challenge_spark.streaming.pipelines import _stream_dir_for
    from data_engineering_challenge_spark.streaming.rollup import (
        run_incremental_rollup,
    )

    # night one: the earlier half of the events; night two (later
    # half, so no row is behind the watermark) lands as a second file
    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    half = events.num_rows // 2
    lz = tmp_path / "lz"
    lz.mkdir()
    src = str(lz / "events.parquet")
    pq.write_table(events.slice(0, half), src)
    rollup, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    run_incremental_rollup(spark, str(lz), rollup, ckpt)
    first = sorted(map(tuple, spark.read.parquet(rollup).collect()))
    assert first

    sdir = _stream_dir_for(src, spark.read.parquet(src).schema.simpleString())
    pq.write_table(events.slice(half), os.path.join(sdir, "night2.parquet"))

    real_replace = os.replace
    crashed = []

    def crash_once(a, b):
        if a == rollup + ".tmp" and not crashed:
            crashed.append(a)
            raise OSError("crash before promoting the new rollup")
        return real_replace(a, b)

    try:
        monkeypatch.setattr(os, "replace", crash_once)
        with pytest.raises(StreamingQueryException):
            run_incremental_rollup(spark, str(lz), rollup, ckpt)
        assert crashed
        survivors = [p for p in (rollup, rollup + ".old") if os.path.isdir(p)]
        assert survivors, "the committed rollup was deleted"
        assert sorted(map(tuple, spark.read.parquet(survivors[0]).collect())) == first

        run_incremental_rollup(spark, str(lz), rollup, ckpt)
    finally:
        shutil.rmtree(sdir)
    assert not os.path.exists(rollup + ".old")
    got = spark.read.parquet(rollup)
    want = events_hourly(spark, sf_dir)
    ok, detail = compare(
        got.columns,
        [tuple(r) for r in got.collect()],
        want.columns,
        [tuple(r) for r in want.collect()],
    )
    assert ok, detail


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path, monkeypatch):
    """The landing-zone near-dup filter: streamed delta docs joined
    against the frozen MinHash index emit exactly the corpus-delta
    pairs the batch incremental_dedup finds (delta-delta pairs are the
    batch path's job — a stateless stream cannot self-join)."""
    import hashlib as _hl

    import pandas as pd

    from data_engineering_challenge_spark.operators.dedup import (
        INCR_DELTA_BUCKETS,
        INCR_DELTA_FROM,
        incremental_dedup,
    )
    from data_engineering_challenge_spark.streaming.pipelines import (
        incremental_dedup_stream,
    )

    def bucket(doc_id: int) -> int:
        return int(_hl.md5(f"inc:{doc_id}".encode()).hexdigest()[:8], 16) % INCR_DELTA_BUCKETS

    corpus_ids = [i for i in range(400) if bucket(i) < INCR_DELTA_FROM]
    delta_ids = [i for i in range(400) if bucket(i) >= INCR_DELTA_FROM]
    base = (
        "the quick brown fox jumps over the lazy dog by the river bank "
        "while the sun sets slowly behind the old stone bridge tonight"
    )
    rows = [
        {"doc_id": corpus_ids[0], "text": base + " variant one"},
        {"doc_id": corpus_ids[1], "text": base + " variant two"},
        {"doc_id": delta_ids[0], "text": base + " variant one"},
        {"doc_id": delta_ids[1], "text": base.replace("fox", "wolf")},
        {"doc_id": delta_ids[2], "text": base.replace("fox", "wolf") + " x"},
    ]
    # a cluster whose DELTA member has the smaller doc_id than its
    # corpus partner — pins the least/greatest pair normalization (a
    # stream that emitted corpus-id-first would invert this pair)
    base2 = base.replace("quick brown fox", "slow green turtle")
    rows += [
        {"doc_id": corpus_ids[-1], "text": base2 + " variant one"},
        {"doc_id": delta_ids[3], "text": base2 + " variant two"},
    ]
    assert delta_ids[3] < corpus_ids[-1]
    root = tmp_path / "lz"
    root.mkdir()
    pd.DataFrame(rows).to_parquet(root / "documents.parquet", index=False)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))

    batch = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in incremental_dedup(spark, str(root)).collect()
    }
    delta_set = set(delta_ids)
    batch_cross = {
        k: v for k, v in batch.items() if not (k[0] in delta_set and k[1] in delta_set)
    }
    # the fixture must exercise both shapes: a corpus-delta hit and a
    # delta-delta pair the stream legitimately does NOT emit — plus at
    # least one cross pair whose delta member holds the SMALLER id
    # (doc_a), so canonical ordering is actually tested
    assert batch_cross, batch
    assert len(batch) > len(batch_cross), batch
    assert any(a in delta_set and b not in delta_set for a, b in batch_cross)

    s = incremental_dedup_stream(spark, str(root))
    run_stream_to_memory(s, "incr_dedup_out", mode="append")
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in spark.sql("SELECT * FROM incr_dedup_out").collect()
    }
    assert got == batch_cross


def test_row_minhash_signature_matches_batch_signatures(spark, sf_dir):
    """The per-row (streaming-safe) signature must be bit-identical to
    the explode+groupBy batch signature on every doc in the fixture."""
    from pyspark.sql import functions as F

    from data_engineering_challenge_spark.catalog import load_table
    from data_engineering_challenge_spark.functions.text import tokens, word_ngrams
    from data_engineering_challenge_spark.operators.dedup import (
        _minhash_signatures,
        row_minhash_signature,
    )

    batch = {
        r.doc_id: tuple(r.s) for r in _minhash_signatures(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    grams = F.array_distinct(word_ngrams(tokens(F.col("text")), 3))
    rowwise = {
        r.doc_id: tuple(r.s)
        for r in d.select("doc_id", grams.alias("g"))
        .filter(F.size("g") > 0)
        .select("doc_id", row_minhash_signature(F.col("g")).alias("s"))
        .collect()
    }
    assert rowwise == batch


def test_rocksdb_state_store_is_default_for_started_pipelines(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every pipeline's file-drop source routes through
    apply_streaming_confs, which selects the RocksDB state store
    (28 B/key vs heap's 210 B/key at wall parity — the billions-of-keys
    posture, STREAM_BENCH_r09). Pinned on STARTED stateful queries: the
    progress log's state operator must report RocksDB custom metrics,
    not just the session conf. The landing-zone near-dup stream starts
    from an unset provider conf, so it must pin RocksDB itself."""
    import json

    from data_engineering_challenge_spark.streaming.pipelines import (
        ROCKSDB_PROVIDER,
        dedup_events_stream,
        incremental_dedup_stream,
    )

    def state_metrics(s, name):
        q = s.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            metrics = set()
            for prog in q.recentProgress:
                if isinstance(prog, str):
                    prog = json.loads(prog)
                for so in prog.get("stateOperators", []):
                    metrics |= set((so.get("customMetrics") or {}).keys())
        finally:
            q.stop()
        return metrics

    s = dedup_events_stream(spark, sf_dir)  # stateful: dropDuplicates state
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == ROCKSDB_PROVIDER
    )
    metrics = state_metrics(s, "rocksdb_default_probe")
    assert any(m.startswith("rocksdb") for m in metrics), sorted(metrics)

    # stateful: the same-batch pair dropDuplicates
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    s = incremental_dedup_stream(spark, sf_dir)
    metrics = state_metrics(s, "rocksdb_landing_probe")
    assert any(m.startswith("rocksdb") for m in metrics), sorted(metrics)
