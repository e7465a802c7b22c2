"""Window-function operators (ranking, running totals, sessionization,
time-bucketed aggregation).

The reference has **no** window functions (SURVEY.md §2.8) — these are
the north-star extensions (SURVEY.md §7.4), built on
``Window.partitionBy().orderBy()`` and ``F.window``.

Scale notes:
- Each window spec shuffles once on its partition key; we always
  pre-aggregate before ranking so the window input is |groups|, not
  |rows| (top-3-per-supplier ranks ~|suppliers × parts| rows, never the
  raw fact table).
- Sessionization is a single shuffle on user_id + an in-partition sort
  — the canonical scalable formulation (lag → gap flag → cumulative
  sum), no per-user driver loop.
- Tumbling windows use ``F.window`` on the event time column, the same
  construct Structured Streaming uses (streaming/ reuses this logic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

DEC = "decimal(18,2)"

_SESSIONIZE_ORACLE = """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts, event_id,
                   SUM(is_new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM numbered
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """


@register(
    "top3_parts_per_supplier",
    oracle="""
        WITH agg AS (
            SELECT l_suppkey, l_partkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS units
            FROM lineitem
            GROUP BY l_suppkey, l_partkey
        ),
        ranked AS (
            SELECT l_suppkey, l_partkey, units,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_suppkey
                       ORDER BY units DESC, l_partkey
                   ) AS rn
            FROM agg
        )
        SELECT l_suppkey, l_partkey, CAST(units AS DOUBLE) AS units, rn
        FROM ranked
        WHERE rn <= 3
        ORDER BY l_suppkey, rn
    """,
    doc="Top-K per group via row_number over a pre-aggregated frame — "
    "the scalable top-k-per-key pattern (agg first, rank |groups| rows).",
    tags=("window", "topk"),
)
def top3_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("units")
    )
    w = W.partitionBy("l_suppkey").orderBy(F.desc("units"), F.asc("l_partkey"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        # rank on the exact decimal; emit double at the boundary
        .withColumn("units", F.col("units").cast("double"))
        .orderBy("l_suppkey", "rn")
    )


@register(
    "revenue_running_total",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS order_date,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_revenue
            FROM orders
            GROUP BY 1
        )
        SELECT order_date, CAST(day_revenue AS DOUBLE) AS day_revenue,
               CAST(SUM(day_revenue) OVER (
                   ORDER BY order_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_revenue
        FROM daily
        ORDER BY order_date
    """,
    doc="Cumulative sum over pre-aggregated daily revenue. The global "
    "window runs over |days| rows only (bounded), never the fact table.",
    tags=("window", "analytic"),
)
def revenue_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("day_revenue")
    )
    w = W.orderBy("order_date").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.withColumn("running_revenue", F.sum("day_revenue").over(w).cast("double"))
        .withColumn("day_revenue", F.col("day_revenue").cast("double"))
        .orderBy("order_date")
    )


@register(
    "sessionize_events",
    oracle=_SESSIONIZE_ORACLE,
    doc="Batch sessionization: 30-min inactivity gap → session rows. "
    "Routed through the skew-safe hybrid (sessionize_hybrid_frame): on "
    "uniform data the plan is the one-shuffle lag formulation plus one "
    "cheap count; keys above HOT_KEY_THRESHOLD take the segmented-scan "
    "decomposition instead of funnelling through a single window task "
    "(sf10 measured 4x cliff on a 30%%-one-key corpus). The plain lag "
    "plan survives as sessionize_lag_plan, pytest-pinned equivalent "
    "(tests/test_scale_utils.py::"
    "test_sessionize_events_registered_is_hybrid_and_lag_twin_matches).",
    tags=("window", "sessionize"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionize_hybrid_frame(e)


def sessionize_lag_plan(e: DataFrame) -> DataFrame:
    """The original one-shuffle lag+cumsum sessionization plan, kept as
    a pytest-pinned equivalence twin of the registered hybrid (the
    doc_sentences_udtf pattern): semantically identical, but funnels
    every event of a key through ONE window task — the scale cliff the
    hybrid removes. Not registered; do not route new callers here."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff works on TIMESTAMP_NTZ; microsecond granularity so
    # sub-second gaps compare exactly like the oracle's interval compare
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "is_new_session",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


SESSION_GAP_US = 30 * 60 * 1_000_000
SEG_CHUNK_US = 3_600 * 1_000_000  # 1-hour segments
# keys with more rows than this take the segmented path (a frequency a
# key only reaches when its single-task window sort would dominate a
# stage); everything else keeps the cheaper one-shuffle lag plan.
# Per-task-memory bound, corpus-size-independent — calibration and
# re-tuning rule in SCALING.md "Threshold provenance".
HOT_KEY_THRESHOLD = 100_000


def _sessionize_segmented(e: DataFrame) -> DataFrame:
    """Exact sessionization as a SEGMENTED scan: events are bucketed
    into 1-hour time chunks and windowed per (user, chunk) — a
    time-range salt a hot key spreads across — then chunk boundaries
    are stitched with windows over per-chunk AGGREGATES: the previous
    non-empty chunk's last event time resolves each chunk-first gap,
    and a running max of per-chunk last-session-start carries session
    starts forward (a classic segmented-scan decomposition — exact,
    not approximate). Per-event work is bounded by chunk occupancy,
    not key frequency. Returns (user_id, session_start_tsd, n_events,
    session_start, session_end) — one row per session, unnumbered.

    Cost: ~6 narrow shuffles (two local windows, two per-chunk
    aggregates + their user-ordered windows, two joins) — ~7× the
    plain lag plan's single shuffle. That constant only pays for
    itself on keys whose single-task sort would otherwise dominate a
    stage, which is why sessionize_skew_hybrid routes ONLY hot keys
    here (measured at sf10: segmented-everything is 17.9 s vs the lag
    plan's 2.2 s on uniform data — the hybrid keeps the lag plan's
    cost there and removes the hot-key cliff).
    """
    tsd = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    e = e.select("user_id", "ts", "event_id").withColumn("tsd", tsd).withColumn(
        "chunk", (F.col("tsd") / F.lit(SEG_CHUNK_US)).cast("long")
    )

    wl = W.partitionBy("user_id", "chunk").orderBy("tsd", "event_id")
    wchunk = W.partitionBy("user_id").orderBy("chunk")

    # previous event time WITHIN the chunk; the chunk's first event gets
    # its predecessor from the previous non-empty chunk's last event
    local = e.withColumn("prev_local", F.lag("tsd").over(wl))
    chunk_last = (
        e.groupBy("user_id", "chunk").agg(F.max("tsd").alias("chunk_last_tsd"))
        .withColumn("carry_prev", F.lag("chunk_last_tsd").over(wchunk))
        .select("user_id", "chunk", "carry_prev")
    )
    flagged = (
        local.join(chunk_last, ["user_id", "chunk"])
        .withColumn("prev_tsd", F.coalesce("prev_local", "carry_prev"))
        .withColumn(
            "is_new",
            F.col("prev_tsd").isNull()
            | (F.col("tsd") - F.col("prev_tsd") > SESSION_GAP_US),
        )
    )

    # session start carried by segmented running-max: local running max
    # of new-session times, with per-chunk maxima carried across chunks
    new_tsd = F.when(F.col("is_new"), F.col("tsd"))
    with_local_start = flagged.withColumn(
        "local_start",
        F.max(new_tsd).over(wl.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    chunk_new = (
        flagged.groupBy("user_id", "chunk")
        .agg(F.max(new_tsd).alias("chunk_last_new"))
        .withColumn(
            "carry_start",
            F.max("chunk_last_new").over(
                wchunk.rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .select("user_id", "chunk", "carry_start")
    )
    assigned = (
        with_local_start.join(chunk_new, ["user_id", "chunk"])
        .withColumn("session_start_tsd", F.coalesce("local_start", "carry_start"))
    )

    return assigned.groupBy("user_id", "session_start_tsd").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _sessionize_lag(e: DataFrame) -> DataFrame:
    """The one-shuffle lag formulation, reduced to unnumbered session
    rows (user_id, session_start_tsd, n_events, session_start,
    session_end) so it unions with the segmented path."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    tsd = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    flagged = (
        e.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            gap_us.isNull() | (gap_us > SESSION_GAP_US),
        )
        .withColumn("tsd", tsd)
    )
    start = flagged.withColumn(
        "session_start_tsd",
        F.max(F.when(F.col("is_new"), F.col("tsd"))).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return start.groupBy("user_id", "session_start_tsd").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "sessionize_skew_hybrid",
    oracle=_SESSIONIZE_ORACLE,
    doc="Skew-proof sessionization — identical semantics (and oracle) "
    "to sessionize_events, without its scale cliff. The lag "
    "formulation funnels every event of a key through ONE task: on a "
    "30%-one-user corpus at sf10 it runs 4× its uniform-data time "
    "while 31 cores idle. The hybrid counts rows per key (one cheap "
    "partial-agg pass), routes keys above HOT_KEY_THRESHOLD through "
    "the segmented-scan decomposition (_sessionize_segmented: "
    "time-chunk salting + boundary stitching over per-chunk "
    "aggregates), everything else through the plain lag plan, and "
    "unions the per-session rows before a session-level (not "
    "event-level) numbering window. Hot set is by construction tiny "
    "(few keys can exceed an absolute row threshold) → broadcast "
    "anti/semi joins split the input without a shuffle. On uniform "
    "data the hot set is empty and the plan IS the lag plan plus one "
    "count; the threshold choice affects only performance, never "
    "results — both paths compute the same exact sessions.",
    tags=("window", "sessionize", "skew", "extension"),
)
def sessionize_skew_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionize_hybrid_frame(e)


def sessionize_hybrid_frame(
    e: DataFrame, hot_threshold: int = HOT_KEY_THRESHOLD
) -> DataFrame:
    # The hot set is bounded by |rows| / hot_threshold keys (≤ ~100 at
    # 10M rows), so collecting it is a scalar-sized driver decision —
    # the same pattern as an iterative operator's `changed` count, not
    # a data collect. Branching on it keeps the uniform-data plan
    # IDENTICAL to the plain lag plan (zero join/union overhead when no
    # key is hot — measured 1.2 s of pure tax otherwise at sf10), and
    # when keys ARE hot, isin-literal filters push into the scan
    # instead of planning broadcast joins.
    # NULL user_ids are excluded from the hot set even when the NULL
    # group itself exceeds the threshold: a None inside an isin() list
    # makes `~isin` evaluate to NULL (never true) for EVERY cold
    # non-null key under SQL IN semantics, silently emptying the cold
    # branch. NULL rows always route to the lag path, where they
    # sessionize as their own partition exactly as the oracle does.
    hot_keys = [
        r.user_id
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > hot_threshold)
        .collect()
        if r.user_id is not None
    ]
    if hot_keys:
        # NULL user_ids sessionize as their own partition in the lag
        # path (and in the oracle); `~isin` alone would evaluate NULL
        # and silently drop them from BOTH branches.
        cold_sessions = _sessionize_lag(
            e.filter(F.col("user_id").isNull() | ~F.col("user_id").isin(hot_keys))
        )
        hot_sessions = _sessionize_segmented(e.filter(F.col("user_id").isin(hot_keys)))
        sessions = cold_sessions.unionByName(hot_sessions)
    else:
        sessions = _sessionize_lag(e)
    ws = W.partitionBy("user_id").orderBy("session_start_tsd")
    return (
        sessions.withColumn("session_id", F.row_number().over(ws).cast("bigint"))
        .select("user_id", "session_id", "n_events", "session_start", "session_end")
        .orderBy("user_id", "session_id")
    )


@register(
    "events_hourly",
    oracle="""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation over the events table — the "
    "batch twin of the Structured Streaming pipeline in streaming/.",
    tags=("window", "time"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_1h30m",
    oracle="""
        WITH starts AS (
            SELECT event_type, value,
                   unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                           time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                       AS window_start
            FROM events
        )
        SELECT window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM starts
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Sliding windows (1 h size, 30 min slide): each event lands in "
    "exactly two windows. Spark's F.window handles replication; the "
    "oracle unnests the two epoch-aligned starts explicitly.",
    tags=("window", "time"),
)
def events_sliding_1h30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_session_window",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            -- the running sum MUST order by (ts, event_id) like the LAG
            -- above: with same-user-same-ts ties (27 such pairs at sf1)
            -- a ts-only ROWS frame is nondeterministic — a tied row can
            -- land before or after the is_new row it shares a ts with,
            -- flipping its session id run-to-run
            SELECT user_id, ts,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    doc="Native session_window operator (30-min gap). Semantics: an "
    "event at exactly start+gap begins a NEW session (half-open "
    "windows) — hence the >= in the oracle, vs the strict > of the "
    "lag-based sessionize_events.",
    tags=("window", "sessionize"),
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "sales_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="Hierarchical ROLLUP totals (flag → flag+status → grand total).",
    tags=("agg", "rollup"),
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "daily_revenue_analytics",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS order_date,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders
            GROUP BY 1
        )
        SELECT order_date, CAST(revenue AS DOUBLE) AS revenue,
               CAST(LAG(revenue) OVER w AS DOUBLE) AS prev_revenue,
               CAST(LEAD(revenue) OVER w AS DOUBLE) AS next_revenue,
               CAST(revenue - LAG(revenue) OVER w AS DOUBLE) AS delta,
               NTILE(4) OVER (ORDER BY revenue, order_date) AS revenue_quartile,
               ROUND(PERCENT_RANK() OVER (ORDER BY revenue, order_date), 12)
                   AS revenue_pct_rank,
               CAST(SUM(revenue) OVER (
                   ORDER BY order_date
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / COUNT(*) OVER (
                   ORDER BY order_date
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS revenue_7d_ma
        FROM daily
        WINDOW w AS (ORDER BY order_date)
        ORDER BY order_date
    """,
    doc="Analytic-function battery over pre-aggregated daily revenue: "
    "lag/lead/delta, ntile quartiles, percent_rank, and a 7-row moving "
    "average. The window input is |days|, never |orders| — aggregate "
    "first, analyze second is what keeps single-partition windows "
    "harmless at any scale (the unpartitioned window sees ~3k rows).",
    tags=("window", "analytic"),
)
def daily_revenue_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue")
    )
    w = W.orderBy("order_date")
    wr = W.orderBy("revenue", "order_date")
    ma = W.orderBy("order_date").rowsBetween(-6, 0)
    return daily.select(
        "order_date",
        F.col("revenue").cast("double").alias("revenue"),
        F.lag("revenue").over(w).cast("double").alias("prev_revenue"),
        F.lead("revenue").over(w).cast("double").alias("next_revenue"),
        # difference in exact decimal space, double only at the boundary
        (F.col("revenue") - F.lag("revenue").over(w)).cast("double").alias("delta"),
        F.ntile(4).over(wr).alias("revenue_quartile"),
        F.round(F.percent_rank().over(wr), 12).alias("revenue_pct_rank"),
        # exact decimal SUM / COUNT instead of AVG: decimal-average
        # result scales differ between engines; this is bit-identical
        (F.sum("revenue").over(ma).cast("double") / F.count(F.lit(1)).over(ma)).alias(
            "revenue_7d_ma"
        ),
    ).orderBy("order_date")


@register(
    "events_by_hour_of_day",
    oracle="""
        SELECT hour(ts) AS hour_of_day,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    doc="Time-component extraction (the reference's TIME-column design "
    "point, SURVEY §1.3: no TIME type in Spark, so hour-of-day is a "
    "derived integer): diurnal profile of events.",
    tags=("time", "agg"),
)
def events_by_hour_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .orderBy("hour_of_day")
    )


@register(
    "priority_price_extremes",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               first_value(o_orderkey) OVER w_full AS cheapest_key,
               last_value(o_orderkey) OVER w_full AS priciest_key,
               nth_value(o_orderkey, 2) OVER w_full AS second_cheapest_key,
               cume_dist() OVER w_ord AS price_cume_dist
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-03-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        WINDOW
            w_full AS (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING),
            w_ord AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey
    """,
    doc="Value-window battery: first_value / last_value / nth_value "
    "over an explicit unbounded frame (last_value under the DEFAULT "
    "frame is a classic footgun - it returns the CURRENT row) plus "
    "cume_dist. Ordering is made unique with the key tie-break so "
    "every engine ranks identically; one month of orders per "
    "priority keeps output bounded.",
    tags=("window", "extension"),
)
def priority_price_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-03-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    w_full = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    w_ord = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.first("o_orderkey").over(w_full).alias("cheapest_key"),
        F.last("o_orderkey").over(w_full).alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_cheapest_key"),
        F.cume_dist().over(w_ord).alias("price_cume_dist"),
    ).orderBy("o_orderkey")


@register(
    "revenue_daily_deltas",
    oracle="""
        WITH d AS (
            SELECT CAST(o_orderdate AS DATE) AS order_date,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY 1
        )
        SELECT order_date, revenue,
               revenue - LAG(revenue) OVER w AS delta,
               (revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w
                   AS pct_change,
               LEAD(revenue) OVER w AS next_revenue,
               CAST(NTILE(4) OVER (ORDER BY revenue, order_date) AS BIGINT)
                   AS revenue_quartile,
               PERCENT_RANK() OVER (ORDER BY revenue, order_date)
                   AS revenue_pct_rank
        FROM d WINDOW w AS (ORDER BY order_date)
        ORDER BY order_date
    """,
    doc="Day-over-day revenue analytics: LAG/LEAD deltas and percent "
    "change over the date sequence, NTILE(4) and PERCENT_RANK over the "
    "revenue distribution (tie-broken on the unique date, so every "
    "window value is deterministic; percent change divides exact "
    "decimal-derived doubles). Scale note: the global window runs over "
    "the per-DAY aggregate (O(days) rows after a partial+final hash "
    "agg), never over raw orders — a single-partition sort of a few "
    "thousand rows, not a single-partition sort of the fact table.",
    tags=("window", "analytics", "extension"),
)
def revenue_daily_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue")
    )
    w = W.orderBy("order_date")
    wr = W.orderBy("revenue", "order_date")
    prev = F.lag("revenue").over(w)
    return d.select(
        "order_date",
        "revenue",
        (F.col("revenue") - prev).alias("delta"),
        ((F.col("revenue") - prev) / prev).alias("pct_change"),
        F.lead("revenue").over(w).alias("next_revenue"),
        F.ntile(4).over(wr).cast("bigint").alias("revenue_quartile"),
        F.percent_rank().over(wr).alias("revenue_pct_rank"),
    ).orderBy("order_date")


# ---------------------------------------------------------------------------
# session-gap calibration profile

# bucket upper edges in microseconds. Edges are upper-EXCLUSIVE except
# the 1800 s (30 m) and 7200 s (2 h) edges, which are upper-INCLUSIVE.
# The 1800 s inclusivity aligns exactly with the session rule:
# sessionization breaks on gap > SESSION_GAP_US, so a gap of precisely
# 30:00.000000 stays in-session and must land in the in-session
# bucket. The 2 h edge mirrors that convention (oracle CASE uses
# <= 7200000000) so the last finite bucket is closed on the right too.
# The profile shows how much probability mass sits on each side of the
# session cut, which is how the threshold gets (re)calibrated.
_GAP_EDGES = (
    (1_000_000, False, "0_lt_1s"),
    (60_000_000, False, "1_1s_1m"),
    (300_000_000, False, "2_1m_5m"),
    (SESSION_GAP_US, True, "3_5m_30m"),
    (7_200_000_000, True, "4_30m_2h"),
)
_GAP_LAST = "5_gt_2h"


def _gap_bucket_expr(gap_us):
    expr = None
    for edge_us, inclusive, name in _GAP_EDGES:
        cond = (gap_us <= edge_us) if inclusive else (gap_us < edge_us)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(_GAP_LAST)


@register(
    "session_gap_profile",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        bucketed AS (
            SELECT user_id,
                   CASE WHEN gap_us < 1000000 THEN '0_lt_1s'
                        WHEN gap_us < 60000000 THEN '1_1s_1m'
                        WHEN gap_us < 300000000 THEN '2_1m_5m'
                        WHEN gap_us <= 1800000000 THEN '3_5m_30m'
                        WHEN gap_us <= 7200000000 THEN '4_30m_2h'
                        ELSE '5_gt_2h' END AS gap_bucket
            FROM gaps WHERE gap_us IS NOT NULL
        ),
        counted AS (
            SELECT gap_bucket, COUNT(*) AS n_gaps,
                   COUNT(DISTINCT user_id) AS n_users
            FROM bucketed GROUP BY gap_bucket
        )
        SELECT gap_bucket, n_gaps, n_users,
               CAST(n_gaps AS DOUBLE)
                   / (SELECT CAST(SUM(n_gaps) AS BIGINT) FROM counted) AS share
        FROM counted
        ORDER BY gap_bucket
    """,
    doc="Inter-event gap histogram per user — the calibration evidence "
    "behind the 30-min session threshold (SESSION_GAP_US): the share "
    "of gaps on each side of the cut tells you whether moving it "
    "merges or splits real sessions. Buckets are exact-integer "
    "microsecond comparisons and counts (engine-exact; the one double "
    "division happens once per 6-row output). Scale: same one-shuffle "
    "lag plan as sessionization — for Zipf-hot keys route through the "
    "skew kit first (sessionize_hybrid_frame's hot-key split applies "
    "unchanged; gaps need only pairwise adjacency, not a cumsum).",
    tags=("window", "profiling", "extension"),
)
def session_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    gaps = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("gap_us", gap_us)
        .filter(F.col("gap_us").isNotNull())
        .withColumn("gap_bucket", _gap_bucket_expr(F.col("gap_us")))
    )
    counted = gaps.groupBy("gap_bucket").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.countDistinct("user_id").alias("n_users"),
    )
    total = counted.agg(F.sum("n_gaps").cast("bigint").alias("total_gaps"))
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "gap_bucket",
            "n_gaps",
            "n_users",
            (F.col("n_gaps").cast("double") / F.col("total_gaps")).alias("share"),
        )
        .orderBy("gap_bucket")
    )
