"""Temporal join operators Spark lacks as primitives: as-of join and
range join, built as scalable compositions of DataFrame ops
(north-star custom operators; the reference is batch-relational only,
SURVEY.md §2.3 "not present" row).

Scale design (100 TB posture):
- **As-of join** uses the union-merge formulation: tag both sides,
  union, one shuffle on the key, in-partition sort by (time, tag),
  then `last(value, ignorenulls)` over an unbounded-preceding window
  carries the right side's most recent attributes onto each left row.
  Cost = one shuffle + one sort — same asymptotics as a sort-merge
  join, with no per-key driver logic and no point-lookup loop.
- **Range join** avoids the O(n·m) inequality join by bucketing time
  into interval-width buckets: the probe side explodes to the (two)
  candidate buckets covering its window, the equi-join runs on
  (key, bucket) — a hash shuffle Catalyst handles like any other —
  and the exact range predicate filters residual pairs. At 100 TB the
  shuffle carries only (key, bucket, ts, id), never the pair space.

DuckDB has both as native operators (ASOF JOIN, inequality join), so
the oracles are the *specification* and our compositions must
reproduce them row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

RANGE_MINUTES = 10


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: tuple[str, ...],
) -> DataFrame:
    """Left as-of join: for each left row, the right row with the
    greatest `right_time` <= `left_time` within the `on` key (ties on
    equal times match, like DuckDB's ASOF with >=).

    Returns the left columns plus `right_values` (null when no prior
    right row exists).

    Caller contract for deterministic results: the right side must be
    UNIQUE per (on, right_time). Among several right rows at the same
    instant, the unbounded-preceding `last()` (and DuckDB's native
    ASOF) picks arbitrarily — pre-aggregate ties away (e.g.
    max_by(value, id)) as clicks_asof_purchase does; same-key
    same-microsecond collisions first appear around sf10 row counts.
    """
    left_cols = left.columns
    l_tagged = left.select(
        *left_cols,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(dict(right.dtypes)[v]).alias(f"__r_{v}") for v in right_values],
    )
    r_tagged = right.select(
        *[
            F.col(on) if c == on else F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left_cols
        ],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__tag"),
        *[F.col(v).alias(f"__r_{v}") for v in right_values],
    )
    u = l_tagged.unionByName(r_tagged)
    # right rows (tag 0) sort before left rows at equal times → a
    # same-instant right row is visible to the left row (<= semantics)
    w = W.partitionBy(on).orderBy("__t", "__tag").rowsBetween(W.unboundedPreceding, 0)
    carried = u.select(
        *left_cols,
        "__tag",
        *[F.last(f"__r_{v}", ignorenulls=True).over(w).alias(v) for v in right_values],
    )
    return carried.filter(F.col("__tag") == 1).drop("__tag")


@register(
    "clicks_asof_purchase",
    oracle="""
        SELECT c.event_id AS click_id,
               c.user_id,
               c.ts AS click_ts,
               p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (
            SELECT user_id, ts, arg_max(value, event_id) AS value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        ) p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        ORDER BY click_id
    """,
    doc="As-of join: each click annotated with the user's most recent "
    "purchase at or before it (nulls when none). Spark side is the "
    "union-merge composition in asof_join(); the DuckDB native ASOF "
    "JOIN is the specification. The purchase side is first reduced to "
    "ONE row per (user_id, ts) — the highest event_id's value — "
    "because BOTH an ASOF join and the union-merge window pick "
    "arbitrarily among equal-timestamp right rows: same-user "
    "same-microsecond purchase pairs first appear at sf10 (caught by "
    "the round-5 sf10 strict sweep as a value divergence; the r4 sf1 "
    "sweep's window-tie finding, one scale decade later).",
    tags=("temporal", "join", "extension"),
)
def clicks_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="click_ts",
        right_time="purchase_ts",
        right_values=("purchase_ts", "purchase_value"),
    ).orderBy("click_id")


@register(
    "purchase_click_context",
    oracle=f"""
        SELECT p.event_id AS purchase_id,
               p.user_id,
               COUNT(c.event_id) AS n_recent_clicks
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts > p.ts - INTERVAL {RANGE_MINUTES} MINUTE
         AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id
        ORDER BY purchase_id
    """,
    doc="Range join: clicks by the same user in the 10 minutes up to "
    "each purchase, counted per purchase. Spark side buckets time into "
    "interval-width cells and equi-joins (key, bucket) — the scalable "
    "rewrite of DuckDB's native inequality join.",
    tags=("temporal", "join", "extension"),
)
def purchase_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    wsec = RANGE_MINUTES * 60
    b_bucket = F.floor(F.unix_timestamp("c_ts") / wsec)
    p_bucket = F.floor(F.unix_timestamp("p_ts") / wsec)
    bld = clicks.withColumn("__bucket", b_bucket)
    prb = purchases.withColumn("__bucket", F.explode(F.array(p_bucket - 1, p_bucket)))
    joined = prb.join(
        bld,
        (prb.user_id == bld.c_user)
        & (prb["__bucket"] == bld["__bucket"])
        & (bld.c_ts > prb.p_ts - F.expr(f"INTERVAL {wsec} SECONDS"))
        & (bld.c_ts <= prb.p_ts),
        "left",
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        # a matching click lands in exactly one of the probe's two
        # exploded buckets, so each pair appears once; misses are null
        .agg(F.count("c_id").alias("n_recent_clicks"))
        .orderBy("purchase_id")
    )
