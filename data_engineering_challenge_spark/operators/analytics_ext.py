"""Warehouse/pipeline analytics beyond the reference surface:
market-basket pair mining, rolling active users, anomaly detection
over daily aggregates, and BPE-style bigram merge candidates.

The reference's analytics stop at per-day revenue and store rollups
(`/root/reference/src/db/queries/*.sql`); these four are the next
queries a production event/retail warehouse and an LLM-tokenizer
pipeline run, expressed with the registry's exact-arithmetic oracle
discipline.

Scale posture (100 TB):
- `copurchase_pairs` is candidate-quadratic PER BASKET, so the basket
  cap (MAX_BASKET distinct parts per order, mirrored in the oracle) is
  the skew escape hatch — the same discipline as the MinHash/cosine
  hot-bucket caps (dedup.py:44). With the cap, pair expansion is
  bounded by |orders| x C(cap,2); the self-join runs on the orderkey
  partitioning already produced by the cap's aggregation, so Catalyst
  reuses one exchange.
- `rolling_active_users` NEVER range-joins: each (day, user) row
  explodes into the 7 day-buckets it contributes to (a constant-factor
  map-side expansion), then one equi-shuffle counts distinct users per
  bucket. A range join would be |days| x |du| candidate pairs; this is
  7 x |du| rows, linear at any scale.
- `daily_value_anomalies` windows over the DAYS table (calendar-sized,
  ~2.4k rows here, bounded forever), never over raw events; the event
  scan reduces to per-day exact decimal sums first. Mean/variance come
  from exact decimal window sums cast to double once — identical IEEE
  expressions on both engines, so the z-scores compare exactly.
- `bigram_merge_candidates` partial-aggregates the exploded bigrams
  map-side: the shuffle is bigram-vocabulary-sized, not corpus-sized
  (same argument as build_vocab, text_analysis.py:626).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import tokens, word_ngrams
from ..operators.pipeline_ops import _gram_sql
from ..operators.text_analysis import _TOK_SQL
from ..registry import register

DEC = "decimal(18,2)"

# Baskets with more distinct parts than this are dropped from pair
# mining (both engines): a degenerate mega-basket contributes
# C(n,2) pairs of near-zero analytic value but quadratic cost. The
# synthetic baskets top out at ~13 distinct parts (sf0.01) — the cap
# is a 100-TB skew guard, not a result shaper (pinned by a unit test
# with a synthetic hot basket). See SCALING.md "Threshold provenance".
MAX_BASKET = 100

# Pairs must co-occur in at least this many orders to be reported.
MIN_SUPPORT = 2

# Trailing window width for the rolling active-user count.
ROLLING_DAYS = 7

# Anomaly gate: days whose |z| exceeds this are reported.
ANOMALY_Z = 1.5
ANOMALY_WINDOW = 7  # trailing days used for the mean/std baseline

BIGRAM_TOP_K = 50


def basket_pair_counts(l: DataFrame) -> DataFrame:
    """(pa, pb, n_orders) support counts of distinct-part pairs per
    order — the shared core of copurchase_pairs and the pagerank edge
    build.

    r10 rewrite (guide §2.4: remove shuffles outright): ONE aggregation
    collects each order's distinct parts into a sorted array (partial
    map-side agg, one 8-byte-key shuffle), the basket cap filters on
    array size, and pair expansion is a MAP-SIDE nested transform over
    the sorted array — no distinct, no window, no self-join. The old
    chain (distinct → window count → pp⋈pp self-join) paid three wide
    exchanges plus a join; this pays two exchanges total (basket agg,
    pair-count agg). Per-order pair expansion stays bounded by
    C(MAX_BASKET, 2) exactly as before — the cap is applied before the
    flatten. Result-identical: collect_set == per-order distinct, and
    a sorted-array (i < j) expansion enumerates each pa < pb pair
    exactly once per order."""
    ps = (
        l.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .filter(F.size("ps") <= MAX_BASKET)
        .select(F.array_sort("ps").alias("ps"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps")) - i - F.lit(1)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return (
        ps.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "copurchase_pairs",
    oracle=f"""
        WITH po AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        sized AS (
            SELECT l_orderkey FROM po
            GROUP BY l_orderkey HAVING COUNT(*) <= {MAX_BASKET}
        ),
        pp AS (
            SELECT po.l_orderkey, po.l_partkey
            FROM po JOIN sized USING (l_orderkey)
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM pp a
        JOIN pp b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING COUNT(*) >= {MIN_SUPPORT}
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 100
    """,
    doc="Market-basket pair mining: part pairs co-purchased in at "
    f"least {MIN_SUPPORT} orders, top-100 by support. The basket cap "
    f"({MAX_BASKET} distinct parts) bounds the per-order pair "
    "expansion — the skew escape hatch that keeps the self-join "
    "linear in |orders| at any scale.",
    tags=("join", "agg", "topk", "extension"),
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        basket_pair_counts(l.select("l_orderkey", "l_partkey"))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "n_orders",
        )
        .filter(F.col("n_orders") >= MIN_SUPPORT)
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


@register(
    "rolling_active_users",
    oracle=f"""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ),
        days AS (SELECT DISTINCT d FROM du),
        expanded AS (
            SELECT du.d + CAST(o.off AS INTEGER) AS day, du.user_id
            FROM du CROSS JOIN (SELECT unnest(range(0, {ROLLING_DAYS})) AS off) o
        )
        SELECT e.day AS day, COUNT(DISTINCT e.user_id) AS active_users_7d
        FROM expanded e JOIN days ON days.d = e.day
        GROUP BY e.day
        ORDER BY e.day
    """,
    doc=f"Rolling {ROLLING_DAYS}-day distinct active users per day "
    "(the WAU curve). Windowed COUNT(DISTINCT) doesn't exist in either "
    "engine; instead each (day, user) contribution row is exploded "
    f"into the {ROLLING_DAYS} trailing buckets it belongs to and one "
    "equi-shuffle counts distinct users per bucket — linear, no range "
    "join. Buckets are clipped to observed days so the curve has no "
    "phantom tail.",
    tags=("window", "agg", "extension"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().select(F.col("d").alias("day"))
    expanded = du.select(
        "d",
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(ROLLING_DAYS - 1))).alias("off"),
    ).select(F.date_add(F.col("d"), F.col("off")).alias("day"), "user_id")
    return (
        expanded.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .orderBy("day")
    )


@register(
    "daily_value_anomalies",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CAST(value AS DECIMAL(18,2))) AS total
            FROM events GROUP BY day
        ),
        stats AS (
            SELECT day,
                   CAST(total AS DOUBLE) AS daily_value,
                   COUNT(*) OVER w AS cnt,
                   CAST(SUM(total) OVER w AS DOUBLE) AS s,
                   CAST(SUM(total * total) OVER w AS DOUBLE) AS ss
            FROM daily
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {ANOMALY_WINDOW - 1} PRECEDING
                                  AND CURRENT ROW)
        )
        SELECT day, daily_value,
               ROUND((daily_value - s / cnt)
                   / sqrt((ss - (s * s) / cnt) / (cnt - 1)), 6) AS z
        FROM stats
        WHERE cnt = {ANOMALY_WINDOW}
          AND (ss - (s * s) / cnt) / (cnt - 1) > 0
          AND abs(ROUND((daily_value - s / cnt)
                  / sqrt((ss - (s * s) / cnt) / (cnt - 1)), 6)) > {ANOMALY_Z}
        ORDER BY day
    """,
    doc=f"Daily-total anomaly days: |z| > {ANOMALY_Z} against a "
    f"trailing {ANOMALY_WINDOW}-day mean/std baseline. The event scan "
    "reduces to exact per-day decimal sums first; the window runs over "
    "the calendar-sized days table. Mean and variance are computed "
    "from exact decimal window sums (total, total²) cast to double "
    "once, with the identical expression tree on both engines. The "
    "reported z is rounded to 6 dp: the ss sum's unscaled decimal "
    "exceeds 2^53 at sf10+, so the two engines' decimal→double "
    "conversions can differ by ~1e-11 — semantically irrelevant for a "
    "z-score, but fatal to an exact-repr compare.",
    tags=("window", "agg", "extension"),
)
def daily_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).alias("total")
    )
    # calendar-sized frame: a single unpartitioned window over ~2.4k
    # day rows is bounded forever (same argument as build_vocab's
    # vocabulary window)
    w = (
        Window.orderBy("day")
        .rowsBetween(-(ANOMALY_WINDOW - 1), Window.currentRow)
    )
    cnt = F.count(F.lit(1)).over(w)
    s = F.sum("total").over(w).cast("double")
    ss = F.sum(F.col("total") * F.col("total")).over(w).cast("double")
    x = F.col("total").cast("double")
    var = (F.col("ss") - (F.col("s") * F.col("s")) / F.col("cnt")) / (
        F.col("cnt") - 1
    )
    z = (F.col("daily_value") - F.col("s") / F.col("cnt")) / F.sqrt(var)
    return (
        daily.select(
            "day",
            x.alias("daily_value"),
            cnt.alias("cnt"),
            s.alias("s"),
            ss.alias("ss"),
        )
        .filter(F.col("cnt") == ANOMALY_WINDOW)
        .withColumn("z", F.round(z, 6))
        .filter(var > 0)
        .filter(F.abs(F.col("z")) > ANOMALY_Z)
        .select("day", "daily_value", "z")
        .orderBy("day")
    )


@register(
    "bigram_merge_candidates",
    oracle=f"""
        WITH big AS (
            SELECT unnest({_gram_sql(2)}) AS bigram
            FROM documents
            WHERE len({_TOK_SQL}) >= 2
        )
        SELECT bigram, COUNT(*) AS freq
        FROM big
        GROUP BY bigram
        ORDER BY freq DESC, bigram
        LIMIT {BIGRAM_TOP_K}
    """,
    doc="The first BPE merge iteration over the corpus: the top "
    f"{BIGRAM_TOP_K} adjacent-token pairs by frequency — the merge "
    "candidates a tokenizer trainer would fuse next. The bigram "
    "explode partial-aggregates map-side (shuffle is bigram-vocab-"
    "sized); top-k is a distributed TakeOrdered, never a global sort.",
    tags=("text", "topk", "extension"),
)
def bigram_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(tokens(F.col("text")).alias("tok")).filter(F.size("tok") >= 2)
    return (
        tok.select(F.explode(word_ngrams(F.col("tok"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(BIGRAM_TOP_K)
    )


# ---------------------------------------------------------------------------
# Iterated BPE merge learning (round 7) — bigram_merge_candidates
# computes ONE merge iteration's candidate table; real tokenizer
# training iterates merge -> re-segment k times. Semantics per step:
# count all adjacent token pairs over the CURRENT segmentation, pick
# the single most frequent pair (ties: lexicographic lhs, rhs), then
# greedily merge its non-overlapping occurrences left-to-right in
# every sequence. The merged token is the space-join of its parts, so
# later merges compose ("a b" + "c" -> "a b c"), exactly the BPE
# merge-table shape.
#
# Scale design: the re-segmentation is per-row JVM array/string math
# (zip_with match flags -> one regexp_replace -> transform+filter; see
# _bpe_resegment — LINEAR in per-doc token count, no Python, no
# explode-shuffle of the corpus); only the PAIR COUNTS shuffle, and
# they partial-aggregate map-side to vocabulary size. Each generation
# is eagerly localCheckpoint-ed, the same lineage-bounding pattern as
# the connected-components loop (operators/graph.py) — without it the
# k-th generation's plan nests k re-segmentations deep. The per-step
# argmax is a 1-row driver decision (bounded, same precedent as the
# cosine cap). Round 8 replaced the original F.aggregate fold, whose
# per-element accumulator copy was quadratic in per-DOC length (the
# r7 verdict's documented hazard for 100k-token rows — now pinned
# linear by test_bpe_apply_long_doc_bounded_time).

BPE_LEARN_STEPS = 6


def _bpe_iter_parts(k: int) -> tuple[list[str], list[str]]:
    """The shared k-iteration CTE chain (merge->re-segment, greedy
    selection as gaps-and-islands) plus the per-step winner selects —
    consumed by both the learn oracle (winners) and the apply oracle
    (final segmentation seq{k})."""
    parts = [
        f"seq0 AS MATERIALIZED (SELECT doc_id, {_TOK_SQL} AS seq FROM documents)"
    ]
    finals = []
    for i in range(1, k + 1):
        p = i - 1
        parts.append(f"""tok{i} AS MATERIALIZED (
            SELECT doc_id, unnest(seq) AS tok, generate_subscripts(seq, 1) AS pos
            FROM seq{p}
        )""")
        parts.append(f"""nxt{i} AS MATERIALIZED (
            SELECT doc_id, tok, pos,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
            FROM tok{i}
        )""")
        parts.append(f"""m{i} AS MATERIALIZED (
            SELECT tok AS lhs, nt AS rhs, COUNT(*) AS freq
            FROM nxt{i} WHERE nt IS NOT NULL
            GROUP BY 1, 2
            ORDER BY freq DESC, lhs, rhs
            LIMIT 1
        )""")
        parts.append(f"""mm{i} AS MATERIALIZED (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM nxt{i}
            WHERE tok = (SELECT lhs FROM m{i}) AND nt = (SELECT rhs FROM m{i})
        )""")
        parts.append(f"""chosen{i} AS MATERIALIZED (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS rn
                FROM mm{i}
            ) WHERE rn % 2 = 1
        )""")
        parts.append(f"""seq{i} AS MATERIALIZED (
            SELECT n.doc_id,
                   list(CASE WHEN c.pos IS NOT NULL THEN n.tok || ' ' || n.nt
                             ELSE n.tok END ORDER BY n.pos) AS seq
            FROM nxt{i} n
            LEFT JOIN chosen{i} c ON c.doc_id = n.doc_id AND c.pos = n.pos
            LEFT JOIN chosen{i} pp ON pp.doc_id = n.doc_id AND pp.pos = n.pos - 1
            WHERE pp.pos IS NULL
            GROUP BY n.doc_id
        )""")
        finals.append(
            f"SELECT {i} AS step, lhs, rhs, CAST(freq AS BIGINT) AS freq FROM m{i}"
        )
    return parts, finals


def _bpe_apply_fixed_sql(merges: list[tuple[str, str]], doc_filter: str = "TRUE") -> str:
    """DuckDB replay of a FIXED merge table (no per-step argmax search)
    over an optionally filtered document slice — the cheap half of the
    big-SF dual-oracle protocol (tools/check_bpe_bigsf.py): the full
    replay oracle materializes six full-corpus generations (80 GB spill
    at sf10, infeasible at sf100), but encoding a held-out slice with
    the ENGINE-learned merges costs |slice| only. Returns (doc_id,
    seq_str) with the final segmentation pipe-joined for exact
    comparison."""
    parts = [
        "seq0 AS MATERIALIZED ("
        f"SELECT doc_id, {_TOK_SQL} AS seq FROM documents WHERE {doc_filter})"
    ]
    for i, (lhs, rhs) in enumerate(merges, 1):
        p = i - 1
        ql, qr = lhs.replace("'", "''"), rhs.replace("'", "''")
        parts.append(f"""tok{i} AS MATERIALIZED (
            SELECT doc_id, unnest(seq) AS tok, generate_subscripts(seq, 1) AS pos
            FROM seq{p}
        )""")
        parts.append(f"""nxt{i} AS MATERIALIZED (
            SELECT doc_id, tok, pos,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
            FROM tok{i}
        )""")
        parts.append(f"""mm{i} AS MATERIALIZED (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM nxt{i}
            WHERE tok = '{ql}' AND nt = '{qr}'
        )""")
        parts.append(f"""chosen{i} AS MATERIALIZED (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS rn
                FROM mm{i}
            ) WHERE rn % 2 = 1
        )""")
        parts.append(f"""seq{i} AS MATERIALIZED (
            SELECT n.doc_id,
                   list(CASE WHEN c.pos IS NOT NULL THEN n.tok || ' ' || n.nt
                             ELSE n.tok END ORDER BY n.pos) AS seq
            FROM nxt{i} n
            LEFT JOIN chosen{i} c ON c.doc_id = n.doc_id AND c.pos = n.pos
            LEFT JOIN chosen{i} pp ON pp.doc_id = n.doc_id AND pp.pos = n.pos - 1
            WHERE pp.pos IS NULL
            GROUP BY n.doc_id
        )""")
    k = len(merges)
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT b.doc_id,
               COALESCE(array_to_string(s.seq, '|'),
                        array_to_string(b.seq, '|')) AS seq_str
        FROM seq0 b LEFT JOIN seq{k} s USING (doc_id)
        ORDER BY b.doc_id
    """
    )


def _bpe_learn_sql(k: int) -> str:
    """DuckDB oracle: k mirrored merge->re-segment iterations. Greedy
    non-overlapping occurrence selection is expressed relationally as
    gaps-and-islands over match positions: within each maximal run of
    consecutive matches, the odd-ranked positions are exactly the
    pairs the left-to-right greedy scan merges."""
    parts, finals = _bpe_iter_parts(k)
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT * FROM (" + " UNION ALL ".join(finals) + ") ORDER BY step"
    )


def _bpe_apply_sql(k: int) -> str:
    """DuckDB oracle for bpe_apply: replay the identical k iterations,
    then report per-doc encoded length against the base segmentation.
    seq{i} CTEs lose docs whose token array is empty (unnest of an
    empty list emits no rows), so the final select re-joins from seq0
    and COALESCEs the encoded length back to the base length (an
    empty/1-token doc is its own encoding)."""
    parts, _finals = _bpe_iter_parts(k)
    return (
        "WITH " + ",\n".join(parts) + f""",
        base AS (SELECT doc_id, CAST(len(seq) AS BIGINT) AS n_base_tokens
                 FROM seq0)
        SELECT b.doc_id,
               b.n_base_tokens,
               CAST(COALESCE(len(s.seq), b.n_base_tokens) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(b.n_base_tokens AS DOUBLE)
                   / NULLIF(COALESCE(len(s.seq), b.n_base_tokens), 0)
                   AS compression
        FROM base b LEFT JOIN seq{k} s USING (doc_id)
        ORDER BY b.doc_id
    """
    )


@register(
    "bpe_learn",
    oracle=_bpe_learn_sql(BPE_LEARN_STEPS),
    doc=f"Learned BPE merge table: {BPE_LEARN_STEPS} iterations of "
    "merge->re-segment over the corpus (most frequent adjacent pair "
    "per step, lexicographic tie-break, greedy non-overlapping "
    "left-to-right merging). Re-segmentation is a per-row JVM fold "
    "(no corpus explode between iterations); pair counts "
    "partial-aggregate to vocabulary size; generations are "
    "localCheckpoint-ed per the graph.py lineage-bounding pattern. "
    "The oracle replays every iteration in mirrored SQL with "
    "gaps-and-islands greedy-occurrence selection.",
    tags=("text", "iterative", "extension"),
)
def bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _final = _bpe_learn_loop(spark, sf_dir)
    return spark.createDataFrame(
        merges, schema="step int, lhs string, rhs string, freq bigint"
    ).orderBy("step")


@register(
    "bpe_fertility_by_source",
    oracle=(
        "WITH " + ",\n".join(_bpe_iter_parts(BPE_LEARN_STEPS)[0]) + f""",
        base AS (
            SELECT doc_id, source, CAST(len(seq) AS BIGINT) AS n_base
            FROM seq0 JOIN documents USING (doc_id)
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_base) AS BIGINT) AS base_tokens,
               CAST(SUM(COALESCE(len(s.seq), n_base)) AS BIGINT) AS bpe_tokens,
               CAST(SUM(n_base) AS DOUBLE)
                   / NULLIF(SUM(COALESCE(len(s.seq), n_base)), 0)
                   AS compression
        FROM base b LEFT JOIN seq{BPE_LEARN_STEPS} s USING (doc_id)
        GROUP BY source
        ORDER BY source
    """
    ),
    doc="Tokenizer fertility per SOURCE: the learned merge table "
    "applied corpus-wide, rolled up to exact per-source token sums and "
    "the compression ratio — the number that tells a data-mixture "
    "owner which sources blow the token budget after a tokenizer "
    "freeze (web text compresses differently from code or tables). "
    "Exact integer sums (order-independent), double division once at "
    "the end; encoded lengths come from the stored token-count "
    "summary (build_bpe_artifacts — one learn/encode per corpus "
    "version shared across consumers).",
    tags=("text", "iterative", "profiling", "extension"),
)
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_doc = _bpe_counts(spark, sf_dir).join(d.select("doc_id", "source"), "doc_id")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_base_tokens").cast("bigint").alias("base_tokens"),
            F.sum("n_bpe_tokens").cast("bigint").alias("bpe_tokens"),
        )
        .select(
            "source", "n_docs", "base_tokens", "bpe_tokens",
            F.when(
                F.col("bpe_tokens") > 0,
                F.col("base_tokens").cast("double") / F.col("bpe_tokens"),
            ).alias("compression"),
        )
        .orderBy("source")
    )


@register(
    "bpe_apply",
    oracle=_bpe_apply_sql(BPE_LEARN_STEPS),
    doc=f"The encode counterpart of bpe_learn: the {BPE_LEARN_STEPS} "
    "learned merges applied in rank order to every document (greedy "
    "non-overlapping left-to-right, identical semantics to the learn "
    "loop's re-segmentation), reporting per-doc base vs encoded token "
    "counts and the compression ratio — the number a tokenizer freeze "
    "is judged by. The tokenizer freeze is a STORED artifact: "
    "build_bpe_artifacts publishes the merge table and the per-doc "
    "token-count summary as versioned snapshots (the pq-codes "
    "pattern), so this query and bpe_fertility_by_source read one "
    "24 B/row summary scan instead of re-running six corpus passes "
    "each; the standalone encoder for a frozen merge table is "
    "bpe_apply_merges (pytest-pinned equal to the learn loop). "
    "Re-segmentation is linear per doc (match-flag string + one "
    "regexp_replace; see _bpe_resegment) — a 100k-token row encodes in "
    "bounded time, pinned by test_bpe_apply_long_doc_bounded_time.",
    tags=("text", "iterative", "extension"),
)
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bpe_counts(spark, sf_dir)
        .select(
            "doc_id",
            "n_base_tokens",
            "n_bpe_tokens",
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.col("n_base_tokens").cast("double") / F.col("n_bpe_tokens"),
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


def _bpe_resegment(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """One greedy left-to-right non-overlapping merge pass over
    (doc_id, seq) — LINEAR in per-doc token count, pure JVM.

    The trick: greedy selection within a run of consecutive (lhs, rhs)
    matches picks alternating positions from the run start — exactly
    what a left-to-right non-overlapping regexp_replace of '11' with
    '10' computes on the match-flag string. So: (1) zip_with the
    shifted sequences into a '1'/'0' flag string (linear), (2) one
    regexp_replace resolves ALL greedy choices (linear; the oracle's
    gaps-and-islands rn % 2 = 1 selection, same parity), (3) a
    transform+filter rebuilds the sequence, each element doing two O(1)
    substr probes into the staged flag string (staged as a real column
    — inside a lambda Catalyst would inline and re-evaluate the
    regexp per element). The original F.aggregate fold copied the
    accumulator array per element: O(L^2) per doc."""
    la, lb = F.lit(lhs), F.lit(rhs)
    merged = F.lit(f"{lhs} {rhs}")
    seq = F.col("seq")
    npairs = F.greatest(F.size(seq) - 1, F.lit(0))
    flags = F.zip_with(
        F.slice(seq, 1, npairs),
        F.slice(seq, 2, npairs),
        lambda a, b: F.when((a == la) & (b == lb), F.lit("1")).otherwise(F.lit("0")),
    )
    chosen = F.regexp_replace(F.concat_ws("", flags), "11", "10")
    staged = df.select("doc_id", "seq", chosen.alias("ch"))
    ch = F.col("ch")

    def emit(x, i):
        # i is 0-based; flag position i+1 (1-based) is the pair
        # starting at token i. A chosen merge emits the merged token at
        # its start and consumes the token after it (never both: the
        # replace leaves no adjacent '1's).
        starts_merge = ch.substr(i + 1, F.lit(1)) == "1"
        consumed = (i >= F.lit(1)) & (ch.substr(i, F.lit(1)) == "1")
        return F.when(starts_merge, merged).when(consumed, F.lit(None)).otherwise(x)

    out = F.filter(F.transform(F.col("seq"), emit), lambda x: x.isNotNull())
    return staged.select("doc_id", out.alias("seq"))


def bpe_table_dir(sf_dir: str) -> str:
    """Fingerprinted location of the stored tokenizer-freeze artifacts
    for sf_dir's documents (sinks/versioned.py fingerprint_dir)."""
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", "bpe_")


def build_bpe_artifacts(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Run the learn loop ONCE and publish the tokenizer-freeze
    artifacts as versioned snapshots: the merge table (the tokenizer)
    and the per-doc token-count summary (doc_id, n_base_tokens,
    n_bpe_tokens — the corpus-sized encode result, 24 B/row). The
    reporting queries (bpe_apply, bpe_fertility_by_source) read the
    summary scan instead of re-running six corpus passes each —
    exactly the pq-codes pattern: encode once per corpus version,
    reuse across consumers. Returns the summary's published version."""
    import os as _os

    from ..sinks.versioned import write_snapshot

    merges, final = _bpe_learn_loop(spark, sf_dir)
    mdf = spark.createDataFrame(
        merges, schema="step int, lhs string, rhs string, freq bigint"
    )
    write_snapshot(mdf, _os.path.join(table_dir, "merges"))
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_base_tokens")
    )
    enc = final.select("doc_id", F.size("seq").cast("bigint").alias("n_bpe_tokens"))
    return write_snapshot(
        base.join(enc, "doc_id"), _os.path.join(table_dir, "counts")
    )


def _bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_base_tokens, n_bpe_tokens) from the stored artifacts,
    building them on first use (`counts` is the table the build writes
    last)."""
    import os as _os

    from ..sinks.versioned import ensure_snapshot, read_snapshot

    table_dir = bpe_table_dir(sf_dir)
    counts_dir = _os.path.join(table_dir, "counts")
    ensure_snapshot(counts_dir, lambda: build_bpe_artifacts(spark, sf_dir, table_dir))
    return read_snapshot(spark, counts_dir)


def bpe_apply_merges(
    df: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """The corpus ENCODER: apply a frozen merge table to (doc_id, seq)
    in rank order — one linear re-segmentation pass per merge,
    localCheckpoint-ed per generation (lineage bounding, as in the
    learn loop). This is the function a production pipeline calls with
    a stored merge table; the registered bpe_apply query derives its
    table from bpe_learn so the driver can replay it."""
    for lhs, rhs in merges:
        df = _bpe_resegment(df, lhs, rhs).localCheckpoint()
    return df


def _bpe_learn_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The merge->re-segment loop: returns (merge table rows, FINAL
    segmentation (doc_id, seq)). The final generation is exactly the
    merge table applied in rank order to the base segmentation —
    bpe_apply reports from it without re-encoding."""
    from ..catalog import spread_scan

    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    # LAZY checkpoints (r10): eager=False still caches the generation
    # and cuts lineage, but materialization happens inside the NEXT
    # step's argmax job instead of a dedicated per-step job — one
    # corpus pass per step instead of two (argmax + checkpoint). The
    # final generation is only materialized by whoever consumes it
    # (build_bpe_artifacts' snapshot write); bpe_learn itself never
    # pays for it.
    prev = d.select("doc_id", tokens(F.col("text")).alias("seq")).localCheckpoint(
        eager=False
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, BPE_LEARN_STEPS + 1):
        staged = prev.filter(F.size("seq") >= 2).select(
            F.expr("slice(seq, 1, size(seq) - 1)").alias("la"),
            F.expr("slice(seq, 2, size(seq) - 1)").alias("ra"),
        )
        top = (
            staged.select(F.explode(F.arrays_zip("la", "ra")).alias("p"))
            .select(F.col("p.la").alias("lhs"), F.col("p.ra").alias("rhs"))
            .groupBy("lhs", "rhs")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, freq = top[0]["lhs"], top[0]["rhs"], int(top[0]["freq"])
        merges.append((step, lhs, rhs, freq))
        prev = _bpe_resegment(prev, lhs, rhs).localCheckpoint(eager=False)
    return merges, prev
