"""Structured Streaming pipelines (north-star extension — the
reference is batch-only, SURVEY.md §2.8).

Each pipeline is the streaming twin of a registered batch query, built
on the same aggregation logic, so correctness is anchored by the
batch oracle and the streaming tests only need to show the streaming
plan produces the same rows when driven to completion.

Scale posture: watermarks bound state (late data beyond 10 minutes is
dropped); windowed aggregations shuffle on (window, key) exactly like
their batch twins; `foreachBatch` is the exactly-once sink hook.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

WATERMARK = "10 minutes"

# State-store provider: RocksDB for every pipeline in this module.
# Measured at sf1 + sf10 (STREAM_BENCH_r09_*.json): RocksDB holds dedup
# state at 28 B/key vs the executor-heap HDFS store's 210 B/key — 7.4x
# smaller, off-heap, disk-spilling — at wall-clock parity (16.2 vs
# 18.2 s at sf10). At billions of keys the heap store cannot hold state.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def apply_streaming_confs(spark: SparkSession) -> SparkSession:
    """Runtime confs for a session about to run streaming work: the
    batch confs (UTC, AQE, …) plus the RocksDB state-store provider.
    The provider conf is read at query START, so setting it here (the
    head of every file-drop source, `_read_parquet_stream`) covers
    externally-created sessions too."""
    apply_runtime_confs(spark)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    return spark


def _stream_dir_for(path: str, token: str = "") -> str:
    """FileStreamSource requires a *directory* source; the testdata ships
    single parquet files. Symlink the file into a per-path temp dir (the
    shape a real file-drop ingestion directory has anyway).

    The dir name is content-addressed over (path, token) — callers pass
    the resolved source schema as the token — so a /tmp dir staged under
    one schema reading can never be silently reused after the source's
    resolved schema changes (e.g. a session-conf change flips how a
    parquet type is read)."""
    d = os.path.join(
        tempfile.gettempdir(),
        "desc_stream_src_"
        + hashlib.md5(f"{path}\x00{token}".encode()).hexdigest()[:16],
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    # lexists, not exists: exists() follows the link, so a dangling
    # symlink (source moved) would look absent and re-symlink → EEXIST
    if not os.path.lexists(link):
        os.symlink(path, link)
    return d


def _read_parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """The file-drop source of every pipeline: one parquet file per
    trigger from the staged directory of `path` (file-source smoke
    config; production swaps in kafka options without touching the
    pipeline). Applies the streaming confs first (UTC tz + RocksDB
    state store)."""
    apply_streaming_confs(spark)
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir_for(path, schema.simpleString()))
    )


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events file-drop source with `ts` as a watermarkable
    TIMESTAMP."""
    raw = _read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    # Watermarks require TIMESTAMP (not NTZ). The parquet `ts` column is
    # TIMESTAMP(NANOS) and arrives as EITHER a raw int64 (nanosAsLong
    # reading) or TIMESTAMP_NTZ depending on session conf state — handle
    # both. Session tz is pinned UTC above, so NTZ→TIMESTAMP via
    # to_timestamp is instant-preserving; outputs cast back to NTZ at
    # the edge.
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        raw = raw.withColumn("ts", F.to_timestamp("ts"))
    return raw


def hourly_counts_transform(e: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with a 10-minute watermark —
    shared by the sf-dir pipeline below and the throughput bench
    (tools/stream_bench.py), which feeds it a chunked file-drop
    source."""
    return (
        e.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hourly_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the `events_hourly` batch query: tumbling
    1-hour windows with a 10-minute watermark."""
    return hourly_counts_transform(_read_events_stream(spark, sf_dir))


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup on event_id within the watermark —
    the streaming form of exact dedup (state bounded by the watermark)."""
    e = _read_events_stream(spark, sf_dir)
    deduped = e.withWatermark("ts", WATERMARK).dropDuplicates(["event_id"])
    return deduped.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def corpus_clean_transform(d: DataFrame) -> DataFrame:
    """The corpus-cleaning chain as a STATELESS transform shared by the
    batch and streaming paths: PII scrub → normalize/tokenize →
    quality gate → scrubbed-content fingerprint. Stateless means the
    identical plan runs under readStream with zero state store — the
    shape of a streaming ingest filter in front of a training-corpus
    landing zone."""
    from ..functions.text import normalize_text
    from ..operators.pipeline_ops import PII_EMAIL, PII_PHONE

    scrubbed = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    t = d.select("doc_id", scrubbed.alias("stext")).select(
        "doc_id", normalize_text(F.col("stext")).alias("norm")
    ).select("doc_id", "norm", F.split("norm", " ").alias("t"))
    return (
        t.select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            (F.size(F.array_distinct("t")) / F.size("t")).alias("unique_ratio"),
            F.md5(F.col("norm").cast("binary")).alias("clean_fp"),
        )
        .filter(
            F.col("n_tokens").between(5, 500) & (F.col("unique_ratio") > 0.2)
        )
    )


def clean_corpus_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest filter: documents stream through the
    stateless cleaning chain (PII scrub + quality gate + fingerprint)."""
    return corpus_clean_transform(
        _read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    )


def run_stream_to_memory(df: DataFrame, name: str, mode: str = "append") -> None:
    """Drive a streaming frame to completion into an in-memory table
    (tests/local smoke; production uses foreachBatch/kafka sinks)."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def user_totals_transform(e: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals with event-time state timeout. Shared by the sf-dir
    pipeline below and tools/stream_bench.py.

    The state (n_events, total_value) lives in the state store keyed by
    user_id; each micro-batch updates it Arrow-batched and emits the
    current totals (update mode). State times out — and emits a final
    `closed=true` row — once the watermark passes last activity + the
    session gap, which is what bounds state size on an unbounded
    stream: memory is O(active users in the gap window), not O(users
    ever seen).
    """
    import pandas as pd  # local: executors import lazily

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_MS = 30 * 60 * 1000

    def op(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            n, tot = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [tot], "closed": [True]}
            )
            return
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + GAP_MS)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [tot], "closed": [False]}
        )

    return (
        e.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            op,
            outputStructType="user_id bigint, n_events bigint, total_value double, closed boolean",
            stateStructType="n bigint, tot double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals over the sf-dir events stream."""
    return user_totals_transform(_read_events_stream(spark, sf_dir))


def run_stream_collect_batches(df: DataFrame, mode: str = "update") -> list[tuple[int, list]]:
    """Drive a stream to completion through foreachBatch, returning
    [(batch_id, rows)] — the exactly-once sink hook (a production sink
    writes each batch transactionally; here we collect for assertions)."""
    out: list[tuple[int, list]] = []

    def sink(batch_df, batch_id: int) -> None:
        out.append((int(batch_id), batch_df.collect()))

    q = df.writeStream.outputMode(mode).foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    return out


def write_stream_to_parquet(df: DataFrame, path: str, checkpoint: str) -> None:
    """Append-mode parquet sink with a checkpoint directory — the
    production file-sink shape: offsets + sink metadata in the
    checkpoint give end-to-end exactly-once on restart."""
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def clicks_purchases_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases in the preceding 10 minutes. Watermarks on BOTH sides +
    the time-range join condition are what let the engine bound join
    state: a buffered click can be dropped once the purchase-side
    watermark passes click_ts, and vice versa.
    """
    clicks = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts - INTERVAL 10 MINUTES AND p_ts <= c_ts"
        ),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.col("c_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


def session_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the `events_session_window` batch query:
    native session_window (30-min gap) with watermark-bounded state.

    In production (append mode) a session finalizes — and its state is
    evicted — once the watermark passes its close; state is therefore
    O(open sessions), not O(history). The test drives it in complete
    mode because a finite file source never advances the watermark
    past the final events."""
    e = _read_events_stream(spark, sf_dir)
    return (
        e.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def user_totals_tws_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — the
    Spark 4 successor to applyInPandasWithState (same state-store
    model, but typed state handles, timers decoupled from output, and
    multiple state variables per key).

    Functionally a twin of `user_totals_stream`; kept side by side so
    the engine exercises BOTH stateful APIs. Requires the RocksDB
    state-store provider (changelog-checkpointed, spillable state —
    the 100-TB-stream configuration; the HDFS-backed heap store caps
    state at executor memory).

    Environment gate: the TWS state-server protocol speaks protobuf;
    environments without the `protobuf` package cannot run it (the
    worker crashes at StateMessage_pb2 import), so we fail fast with a
    clear error instead. `user_totals_stream` (applyInPandasWithState)
    covers the same semantics without that dependency."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(state-server protocol); use user_totals_stream here"
        ) from exc

    import pandas as pd  # local: executors import lazily

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", "n bigint, tot double")

        def handleInputRows(self, key, rows, timer_values):
            if self.totals.exists():
                n, tot = self.totals.get()
            else:
                n, tot = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                tot += float(pdf["value"].sum())
            self.totals.update((n, tot))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
            )

        def close(self) -> None:
            pass

    e = _read_events_stream(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .transformWithStateInPandas(
            UserTotals(),
            outputStructType="user_id bigint, n_events bigint, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def landing_dedup_transform(
    spark: SparkSession, sf_dir: str, raw: DataFrame
) -> DataFrame:
    """The landing-zone near-dup filter as a transform over an
    arbitrary documents stream `raw` — shared by the registered
    pipeline below and tools/stream_bench.py. See
    incremental_dedup_stream for semantics."""
    from ..operators.banding import cap_hot_buckets, minhash_bands, sig_est
    from ..operators.dedup import (
        build_minhash_index,
        is_delta_doc,
        minhash_index_dir,
        row_minhash_digests,
        row_minhash_from_digests,
    )
    from ..functions.text import tokens, word_ngrams
    from ..sinks.versioned import ensure_snapshot, read_corpus_snapshot

    table_dir = minhash_index_dir(sf_dir)
    ensure_snapshot(table_dir, lambda: build_minhash_index(spark, sf_dir, table_dir))
    corpus_sig = read_corpus_snapshot(spark, table_dir)
    corpus_bands = cap_hot_buckets(
        minhash_bands(corpus_sig, F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    )
    # static side is re-read per micro-batch: persist the capped band
    # table once (at 100 TB this is the stored-signature scan, not a
    # corpus scan — ~136 B/doc plus 4 band rows); routed through the
    # registry ledger so it is unpersisted at the next registered-query
    # call instead of leaking for the session lifetime. Persist AFTER
    # repartitioning on the join key: InMemoryTableScan preserves its
    # child's outputPartitioning, so every micro-batch's join reuses
    # the cached distribution instead of re-exchanging the whole band
    # table per trigger — the per-batch probe setup that capped the
    # sf1 stream at ~1.7k docs/s (round-7 STREAM_BENCH).
    from ..registry import track_persist

    corpus_bands = track_persist(corpus_bands.repartition("b", "bh"))

    delta = raw.filter(is_delta_doc("doc_id"))
    grams = F.array_distinct(word_ngrams(tokens(F.col("text")), 3))
    # digests staged as a REAL column between projections — inlined as
    # a subexpression, the 16 min-expressions would each recompute the
    # sha256 transform (see row_minhash_digests)
    delta_sig = (
        delta.select("doc_id", grams.alias("g"))
        .filter(F.size("g") > 0)
        .select("doc_id", row_minhash_digests(F.col("g")).alias("ds"))
        .select("doc_id", row_minhash_from_digests(F.col("ds")).alias("s"))
    )
    delta_bands = minhash_bands(
        delta_sig, F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b")
    )
    return (
        # SHUFFLE_HASH on the micro-batch side: the hash map builds on
        # the (tiny) delta batch and PROBES the pre-partitioned cached
        # static side — no per-batch sort of the corpus band table,
        # which a SortMergeJoin would redo every trigger
        delta_bands.hint("shuffle_hash").join(corpus_bands, ["b", "bh"])
        # canonical pair order (doc_a < doc_b) — stateless least/
        # greatest, matching the batch incremental_dedup contract;
        # without it a delta doc_id smaller than its corpus partner
        # would emit an inverted pair
        .select(
            F.least("doc_a", "doc_b").alias("pa"),
            F.greatest("doc_a", "doc_b").alias("pb"),
            sig_est().alias("est_jaccard"),
        )
        .withColumnsRenamed({"pa": "doc_a", "pb": "doc_b"})
        .filter(F.col("est_jaccard") >= 0.5)
        # a doc's 4 band rows arrive in one micro-batch, so duplicates
        # are same-batch only (multi-band hits); the dedup state is one
        # row per EMITTED near-dup pair — output-cardinality-bounded,
        # not input-bounded
        .dropDuplicates(["doc_a", "doc_b"])
    )


def incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup: NEW documents stream through a
    stream-static band join against the FROZEN MinHash index — the
    landing-zone filter in front of a training corpus ("is this
    incoming doc a near-dup of anything we already hold?").

    Stateless by construction: per-doc signatures are computed with
    row-level array expressions (operators/dedup.py
    row_minhash_signature — no explode/groupBy, so no state store),
    bands explode 4 rows per doc, and the join's static side is the
    snapshot-derived band table with the hot-bucket cap applied at
    index-freeze time (corpus bucket sizes; a streaming engine cannot
    see union sizes without state — delta-delta pairs within the
    stream are likewise out of scope, that's the batch
    incremental_dedup's job). Anchored in tests: the streamed pairs
    equal the batch incremental_dedup output restricted to
    corpus-delta pairs."""
    return landing_dedup_transform(
        spark, sf_dir, _read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    )


def _run_publishing_stream(
    raw: DataFrame, out_path: str, checkpoint: str, build, mode: str = "append"
) -> None:
    """The crash-safe publishing sink shared by the upsert pipelines:
    drive `raw` to completion through foreachBatch, replacing the
    parquet table at `out_path` with `build(spark_b, batch_df,
    batch_id, current)` per trigger, where `current` is the live table
    (None before the first publish).

    Rename-aside publish: write the new table to `.tmp`, rename the
    live table ASIDE to `.old` (never delete-then-replace — that window
    loses the table while the stream checkpoint already marks the batch
    committed), promote `.tmp`, then drop `.old`. Every crash point
    leaves either the old or the new table restorable, and the next
    trigger restores `.old` when the live path is missing.

    Publish-window caveat: between `os.replace(out_path, old_path)` and
    `os.replace(tmp, out_path)` the live path briefly does not exist.
    Crash recovery restores the WRITER's invariant (committed data is
    never lost), but a concurrent READER hitting that window sees a
    missing table rather than the previous version — readers must
    retry, or fall back to the `.old` path. Acceptable for the
    single-writer/single-reader harness; a multi-reader deployment
    would publish via a versioned manifest (sinks/versioned.py)
    instead."""
    old_path, tmp = out_path + ".old", out_path + ".tmp"

    def publish_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        # Crash recovery: a previous publish that renamed the live table
        # aside but died before promoting the new one leaves only
        # `.old` — restore it so committed data is never dropped.
        if not os.path.isdir(out_path) and os.path.isdir(old_path):
            os.replace(old_path, out_path)
        current = spark_b.read.parquet(out_path) if os.path.isdir(out_path) else None
        build(spark_b, batch_df, batch_id, current).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old_path, ignore_errors=True)
        if os.path.isdir(out_path):
            os.replace(out_path, old_path)
        os.replace(tmp, out_path)
        shutil.rmtree(old_path, ignore_errors=True)

    q = (
        raw.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(publish_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _run_landing_span_stream(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    raw: DataFrame | None,
    batch_op,
) -> None:
    """Shared machinery of the landing-zone span pipelines: stream the
    delta docs, run `batch_op(spark_b, table_dir, delta)` per trigger
    (foreachBatch — span merging needs per-doc ordered windows, a
    batch-only operator) and keyed-upsert the result into `out_path`
    through the rename-aside publish."""
    from ..operators.dedup import is_delta_doc
    from ..operators.merge import merge_upsert
    from ..operators.span_dedup import build_span_index, span_index_dir
    from ..sinks.versioned import ensure_snapshot

    if raw is None:
        raw = _read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    table_dir = span_index_dir(sf_dir)
    ensure_snapshot(table_dir, lambda: build_span_index(spark, sf_dir, table_dir))

    def build(spark_b, batch_df, batch_id, current):
        delta = batch_df.filter(is_delta_doc("doc_id"))
        out = batch_op(spark_b, table_dir, delta)
        return out if current is None else merge_upsert(current, out, ["doc_id"])

    _run_publishing_stream(raw, out_path, checkpoint, build)


def run_incremental_span_filter(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    raw: DataFrame | None = None,
) -> None:
    """Landing-zone exact-SPAN filter: streamed delta documents probed
    per micro-batch against the FROZEN gram-postings index
    (operators/span_dedup.py), maintaining a queryable per-doc span
    table at `out_path`.

    The contract is PER-TRIGGER equivalence to the batch
    incremental_duplicate_spans — pinned in tests by comparing a
    2-trigger run against per-slice batch runs. Cross-trigger
    delta-delta spans are out of scope (exactly the stream/batch split
    incremental_dedup_stream documents); the nightly fold
    (extend_span_index) makes them visible to the next day's probe.

    Restart safety: foreachBatch re-delivers a batch only after
    failure, and the sink is an idempotent keyed upsert (merge_upsert
    on doc_id — replaying a batch rewrites the same rows)."""
    from ..operators.span_dedup import incremental_span_probe

    _run_landing_span_stream(
        spark, sf_dir, out_path, checkpoint, raw, incremental_span_probe
    )


def run_incremental_span_rewrite(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    raw: DataFrame | None = None,
) -> None:
    """Landing-zone span CLEANSE: the arriving delta docs land at
    `out_path` with every corpus-owned (or lower-delta-owned) span
    already CUT — the streaming twin of the registered
    incremental_span_rewrite query, maintaining a cleaned-docs landing
    table instead of a span report. Same per-trigger equivalence,
    idempotent doc_id upsert, and rename-aside publish as the filter
    pipeline; downstream consumers read span-deduplicated text without
    a separate rewrite job."""
    from ..operators.span_dedup import apply_incremental_span_removal

    _run_landing_span_stream(
        spark, sf_dir, out_path, checkpoint, raw, apply_incremental_span_removal
    )


def quality_score_transform(d: DataFrame, w: list[float]) -> DataFrame:
    """Frozen-model quality scoring as a STATELESS transform (pure
    projections — featurize + w·x dot product), so the identical plan
    runs under readStream with zero state store: the corpus-filter
    stage applied at ingest time."""
    from ..operators.quality_probe import _spark_features, _spark_score

    return _spark_score(_spark_features(d), w).select("doc_id", "y", "score", "pred")


def quality_score_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of quality_probe_scores' scoring pass: documents
    stream through the FROZEN stored model (trained/published on first
    use — the versioned-snapshot protocol), emitting per-doc scores.
    Stateless ⇒ per-trigger output is exactly the batch scoring of that
    trigger's docs, which is what the test pins."""
    from ..operators.quality_probe import _load_weights

    raw = _read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    return quality_score_transform(raw, _load_weights(spark, sf_dir))


def run_lm_score_stream(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    raw: DataFrame | None = None,
) -> None:
    """Streaming twin of the frozen-LM corpus filter
    (`operators/lm.py:bigram_lm_frozen_score`): arriving docs are
    scored per trigger against the STORED counts snapshot (built and
    published on first use) and land as a queryable per-doc score
    table at `out_path` — (doc_id, source, split, doc_bits, n_bigrams,
    flagged). Per-doc scoring needs an aggregation over the bigram
    stream, so this runs under foreachBatch (per-trigger batch
    semantics) with the same idempotent doc_id upsert + rename-aside
    publish (`_run_publishing_stream`) as the landing-zone span
    pipelines: per-trigger output ≡ batch `lm_doc_scores` of that
    trigger's docs, and a replayed batch after restart rewrites the
    same rows."""
    from ..operators.lm import lm_doc_scores, load_lm_model
    from ..operators.merge import merge_upsert

    if raw is None:
        raw = _read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    c12, c1, vctx = load_lm_model(spark, sf_dir)

    def build(spark_b, batch_df, batch_id, current):
        out = lm_doc_scores(batch_df.select("doc_id", "source", "text"), c12, c1, vctx)
        return out if current is None else merge_upsert(current, out, ["doc_id"])

    _run_publishing_stream(raw, out_path, checkpoint, build)


def run_scd2_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint: str,
    keys: list[str],
    attrs: list[str],
    raw: DataFrame | None = None,
) -> None:
    """Streaming SCD Type-2 dimension maintenance: a CDC-style feed of
    dimension rows (re-crawls, corrections) lands as a versioned
    history table at `out_path` via `operators/merge.py:scd2_apply`
    per trigger (batch_id = stream epoch + 1, so the seed load is
    batch 1 against an empty history).

    Restart safety WITHOUT an idempotent upsert: scd2_apply itself is
    replay-idempotent — after a batch commits, its rows ARE the
    current versions, so a replayed trigger re-sends rows that now
    match identically and no-ops (the idempotent-re-send rule). Each
    trigger's delta must be key-unique — scd2_apply would mint
    duplicate current versions otherwise — so the batch hook dedupes
    defensively on the keys (arbitrary survivor within a trigger; a
    CDC feed that needs last-writer-wins should order upstream).
    Publish uses the rename-aside protocol shared by the landing-zone
    pipelines (`_run_publishing_stream`, which also documents the
    reader-side publish-window caveat). At 100 TB the per-trigger cost
    is two delta-sized joins against the current slice — the history
    is only ever unioned.
    """
    from ..operators.merge import scd2_apply

    if raw is None:
        raw = _read_parquet_stream(spark, source_path)

    def build(spark_b, batch_df, batch_id, current):
        delta = batch_df.select(*keys, *attrs).dropDuplicates(keys)
        if current is None:
            current = (
                delta.limit(0)
                .withColumn("valid_from", F.lit(0).cast("int"))
                .withColumn("valid_to", F.lit(None).cast("int"))
                .withColumn("is_current", F.lit(True))
            )
        return scd2_apply(current, delta, keys, attrs, batch_id=int(batch_id) + 1)

    _run_publishing_stream(raw, out_path, checkpoint, build)
