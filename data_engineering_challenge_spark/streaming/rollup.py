"""Incrementally-maintained rollup (continuous aggregate): the
"hypertable rollup" pattern — a streaming aggregation that keeps a
queryable parquet aggregate table up to date as events arrive, so
dashboards read |buckets| rows instead of re-scanning raw events.

Mechanics: an update-mode streaming agg emits each hourly bucket's
*current* totals whenever a micro-batch touches it; `foreachBatch`
upserts those rows into the rollup table with
:func:`operators.merge.merge_upsert` (keyed full-outer, source wins).
Restart safety comes from the checkpoint: foreachBatch re-delivers a
batch only after failure, and the upsert is idempotent per key
(replaying the same totals writes the same rows).

Scale notes (100 TB posture):
- The rollup table is O(buckets × event types) — tiny — so the
  per-batch merge joins a small delta against a small table no matter
  how large the raw stream is. Raw events are never re-read.
- Watermarked state bounds the streaming agg's memory; buckets stop
  receiving updates once the watermark passes, after which their
  rollup rows are final.
- The swap is the rename-aside publish of
  `pipelines._run_publishing_stream`: the new table is written to
  `.tmp`, the live table is renamed to `.old` before `.tmp` is
  promoted, and a trigger that finds only `.old` restores it. Readers
  never see a half-written table, but may briefly find the live path
  missing mid-swap.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.merge import merge_upsert
from .pipelines import _run_publishing_stream, hourly_event_counts_stream

_KEYS = ["window_start", "event_type"]


def run_incremental_rollup(
    spark: SparkSession, sf_dir: str, rollup_path: str, checkpoint: str
) -> None:
    """Drive the stream to completion, maintaining `rollup_path`."""

    def build(spark_b, batch_df, batch_id, current):
        return batch_df if current is None else merge_upsert(current, batch_df, _KEYS)

    _run_publishing_stream(
        hourly_event_counts_stream(spark, sf_dir), rollup_path, checkpoint, build,
        mode="update",
    )
