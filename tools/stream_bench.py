"""Streaming throughput bench — the streaming surface, measured at scale.

    python tools/stream_bench.py [--sf-dir DIR] [--chunks N] [--cpus N]

The streaming pipelines are correctness-anchored by their batch twins
(tests/test_streaming.py drives them to completion on driver testdata),
but through round 3 there was no streaming evidence above toy scale.
This tool replays the `events` table of any sf dir as a file-drop
stream (N chunk files, maxFilesPerTrigger=1 → N micro-batches — the
shape of a landing-zone ingest) through three pipelines and measures
end-to-end throughput:

- `hourly_agg`    — watermarked tumbling-window aggregation (shuffle
                    per micro-batch, windowed state store)
- `dedup`         — watermark-bounded exactly-once dropDuplicates
                    (state = event_id set within the watermark)
- `user_totals`   — applyInPandasWithState custom stateful operator
                    (Arrow-batched per-user running totals)

Each runs with Trigger.AvailableNow semantics (processAllAvailable) to
a no-op-equivalent sink; wall time covers source listing → final
state commit. Output: one JSON line + STREAM_BENCH.json next to the
script.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_challenge_spark.session import get_session
from data_engineering_challenge_spark.catalog import load_table
from data_engineering_challenge_spark.sinks.versioned import ensure_snapshot
from data_engineering_challenge_spark.streaming import pipelines as P


def stage_chunks(spark: SparkSession, sf_dir: str, n_chunks: int) -> tuple[str, int]:
    """Write the events table as n_chunks parquet files into a fresh
    drop directory (untimed setup — simulates n file arrivals)."""
    e = load_table(spark, sf_dir, "events")
    n_rows = e.count()
    import hashlib

    # md5, not builtin hash(): PYTHONHASHSEED randomizes str hashes per
    # process, which would mint a fresh drop dir (a full events copy)
    # every run and orphan the old ones
    key = hashlib.md5(f"{sf_dir}\x00{n_chunks}".encode()).hexdigest()[:12]
    drop = os.path.join(tempfile.gettempdir(), f"stream_bench_drop_{key}")
    shutil.rmtree(drop, ignore_errors=True)
    # ts normalized to TIMESTAMP (watermark-compatible) at stage time,
    # mirroring _read_events_stream's arrival normalization
    ts_type = dict(e.dtypes).get("ts")
    if ts_type == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        e = e.withColumn("ts", F.to_timestamp("ts"))
    e.repartition(n_chunks).write.parquet(drop)
    return drop, n_rows


def read_drop_stream(spark: SparkSession, drop: str) -> DataFrame:
    schema = spark.read.parquet(drop).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )


def _state_summary(q) -> dict:
    """Aggregate state-store metrics over the query's progress log:
    total commit + update wall (ms), peak store memory, final row
    count. Fields come from StreamingQueryProgress.stateOperators."""
    commit_ms = update_ms = 0
    peak_mem = rows = 0
    for prog in q.recentProgress:
        for so in prog.get("stateOperators", []):
            commit_ms += so.get("commitTimeMs", 0) or 0
            update_ms += so.get("allUpdatesTimeMs", 0) or 0
            peak_mem = max(peak_mem, so.get("memoryUsedBytes", 0) or 0)
            rows = so.get("numRowsTotal", rows) or rows
    return {
        "commit_ms": commit_ms,
        "update_ms": update_ms,
        "peak_state_bytes": peak_mem,
        "state_rows": rows,
    }


def drive(df: DataFrame, name: str, mode: str) -> tuple[float, dict]:
    """Run the stream to completion against a memory sink in the given
    output mode; returns (wall seconds, state metrics). (The `noop`
    sink doesn't support streaming on this build; the complete/update-
    mode result sets here are tiny relative to the input, so the memory
    sink's collect cost is noise — the work measured is the source scan
    + state commits.)"""
    t0 = time.perf_counter()
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    sec = round(time.perf_counter() - t0, 3)
    state = _state_summary(q)
    q.stop()
    return sec, state


def drive_distributed_sink(df: DataFrame, mode: str) -> tuple[float, dict]:
    """Run the stream to completion through a foreachBatch noop BATCH
    write — the production sink shape for high-volume update-mode
    output (each micro-batch is written executor-side, never collected).
    The memory sink is wrong for these pipelines: user_totals emits
    ~|active users| rows per micro-batch, and collecting them to the
    driver billed ~11 s/1M events (sf1, 15k users x 16 batches) to the
    OPERATOR — a harness artifact, not state-op cost (round-5
    measurement: 32.2 s memory sink vs 21.3 s noop foreachBatch)."""
    t0 = time.perf_counter()
    q = (
        df.writeStream.outputMode(mode)
        .foreachBatch(lambda b, _i: b.write.format("noop").mode("overwrite").save())
        .start()
    )
    q.processAllAvailable()
    sec = round(time.perf_counter() - t0, 3)
    state = _state_summary(q)
    q.stop()
    return sec, state


def run_all(
    spark: SparkSession, sf_dir: str, chunks: int, drop: str, n_rows: int,
    only: set[str] | None = None,
) -> dict[str, dict]:
    """One full pass over the pipelines on the engine's RocksDB state
    store. `only` restricts to a named subset (focused big-SF probes — the bench ONLY pattern);
    every selected pipeline still reports, nothing is silently capped."""
    results: dict[str, dict] = {}

    def want(name: str) -> bool:
        return only is None or name in only

    if want("hourly_agg"):
        agg = P.hourly_counts_transform(read_drop_stream(spark, drop))
        sec, state = drive(agg, f"sb_hourly_{time.monotonic_ns()}", "complete")
        results["hourly_agg"] = {"sec": sec, "events_per_sec": round(n_rows / sec), "state": state}

    if want("dedup"):
        dedup = (
            read_drop_stream(spark, drop)
            .withWatermark("ts", P.WATERMARK)
            .dropDuplicates(["event_id"])
            .groupBy()  # reduce sink volume: count survivors per batch
            .count()
        )
        sec, state = drive(dedup, f"sb_dedup_{time.monotonic_ns()}", "complete")
        results["dedup"] = {"sec": sec, "events_per_sec": round(n_rows / sec), "state": state}

    if want("user_totals"):
        ut = P.user_totals_transform(read_drop_stream(spark, drop))
        sec, state = drive_distributed_sink(ut, "update")
        results["user_totals"] = {"sec": sec, "events_per_sec": round(n_rows / sec), "state": state}

    # landing-zone near-dup filter: documents replayed as a file drop
    # through the stream-static band join against the frozen MinHash
    # index (index build is untimed setup — the nightly shape)
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    import hashlib as _hl

    dkey = _hl.md5(f"docs\x00{sf_dir}\x00{chunks}".encode()).hexdigest()[:12]
    ddrop = os.path.join(tempfile.gettempdir(), f"stream_bench_docdrop_{dkey}")
    if not os.path.isdir(ddrop):
        d.repartition(chunks).write.parquet(ddrop)
    from data_engineering_challenge_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_dir,
    )

    if want("landing_dedup"):
        idx = minhash_index_dir(sf_dir)
        ensure_snapshot(idx, lambda: build_minhash_index(spark, sf_dir, idx))
        ld = P.landing_dedup_transform(spark, sf_dir, read_drop_stream(spark, ddrop))
        sec, state = drive_distributed_sink(ld, "append")
        results["landing_dedup"] = {"sec": sec, "events_per_sec": round(n_docs / sec), "state": state}

    # landing-zone image / audio fingerprint filters: the same doc drop
    # through the stream-static band join against each media kind's
    # frozen index (index builds untimed setup — the nightly shape).
    # The static side is persisted pre-partitioned on the band key
    # inside the transform; state telemetry covers the output-bounded
    # same-batch dropDuplicates.
    from data_engineering_challenge_spark.operators.multimodal import FP_KINDS

    for kind in FP_KINDS:
        nm = f"landing_{kind.name}"
        if not want(nm):
            continue
        fidx = kind.index_dir(sf_dir)
        ensure_snapshot(fidx, lambda: kind.build_index(spark, sf_dir, fidx))
        fp = kind.landing_transform(spark, sf_dir, read_drop_stream(spark, ddrop))
        sec, state = drive_distributed_sink(fp, "append")
        results[nm] = {"sec": sec, "events_per_sec": round(n_docs / sec), "state": state}

    # landing-zone exact-SPAN filter: same doc drop through the
    # foreachBatch probe against the frozen gram-postings index
    # (index build untimed — the nightly shape)
    from data_engineering_challenge_spark.operators.span_dedup import (
        build_span_index,
        span_index_dir,
    )

    no_state = {"commit_ms": 0, "update_ms": 0, "peak_state_bytes": 0, "state_rows": 0}
    if want("landing_span"):
        sidx = span_index_dir(sf_dir)
        ensure_snapshot(sidx, lambda: build_span_index(spark, sf_dir, sidx))
        sout = os.path.join(tempfile.gettempdir(), f"stream_bench_spans_{dkey}")
        sckpt = sout + "_ckpt"
        shutil.rmtree(sout, ignore_errors=True)
        shutil.rmtree(sckpt, ignore_errors=True)
        t0 = time.time()
        P.run_incremental_span_filter(
            spark, sf_dir, sout, sckpt, raw=read_drop_stream(spark, ddrop)
        )
        sec = time.time() - t0
        # stateless foreachBatch pipelines report an explicit zero state
        # summary (not a missing field) so downstream tooling needn't
        # special-case stateless rows
        results["landing_span"] = {
            "sec": sec, "events_per_sec": round(n_docs / sec), "state": dict(no_state)
        }

    # landing-zone span REWRITE (r9): same doc drop, cleaned-docs
    # landing table (probe + per-doc token cut per trigger)
    if want("landing_rewrite"):
        rout = os.path.join(tempfile.gettempdir(), f"stream_bench_rewrite_{dkey}")
        rckpt = rout + "_ckpt"
        shutil.rmtree(rout, ignore_errors=True)
        shutil.rmtree(rckpt, ignore_errors=True)
        t0 = time.time()
        P.run_incremental_span_rewrite(
            spark, sf_dir, rout, rckpt, raw=read_drop_stream(spark, ddrop)
        )
        sec = time.time() - t0
        results["landing_rewrite"] = {
            "sec": sec, "events_per_sec": round(n_docs / sec), "state": dict(no_state)
        }
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--chunks", type=int, default=16)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--out", default=None, help="output json path (default STREAM_BENCH.json)")
    ap.add_argument(
        "--pipelines", default=None,
        help="comma-separated pipeline subset (focused big-SF probes); "
        "default: all",
    )
    args = ap.parse_args()
    only = {p for p in (args.pipelines or "").split(",") if p} or None

    spark = get_session("stream-bench", cpus=args.cpus)
    drop, n_rows = stage_chunks(spark, args.sf_dir, args.chunks)

    P.apply_streaming_confs(spark)
    results = run_all(spark, args.sf_dir, args.chunks, drop, n_rows, only=only)

    # headline = hourly_agg when present (the historical metric), else
    # the first selected pipeline (focused --pipelines probes)
    head_name = "hourly_agg" if "hourly_agg" in results else next(iter(results))
    line = {
        "metric": "stream_events_per_sec",
        "value": results[head_name]["events_per_sec"],
        "unit": "rows/sec",
        "sf_dir": args.sf_dir,
        "n_events": n_rows,
        "chunks": args.chunks,
        "pipelines": results,
    }
    out = args.out or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "STREAM_BENCH.json"
    )
    with open(out, "w") as fh:
        json.dump(line, fh, indent=2)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
