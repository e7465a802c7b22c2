"""Exact substring (span-level) deduplication over the document corpus.

Doc-level dedup (exact_dedup / minhash_lsh_pairs) drops whole
documents; the remaining contamination in a training corpus is the
*partial* overlap — boilerplate headers, quoted paragraphs, mirrored
sections — that survives because the containing documents differ.
The ExactSubstr pass of Lee et al., "Deduplicating Training Data
Makes Language Models Better" (ACL 2022) removes any ≥50-token span
that appears twice in the corpus; their implementation is a
single-node suffix array, which does not shard.

This module is the Spark-native equivalent at word granularity:

1. positional K-grams — `posexplode` over the shared `word_ngrams`
   chain gives (doc_id, p, gram) without sub-array copies;
2. one shuffle on the 60-bit md5 gram key (`gh`, 8-byte shuffle key —
   same collision surface as `decontaminate_split`, mirrored exactly
   in the oracle) with THREE window aggregates over that one
   exchange: postings count (hot-gram cap), min/max doc_id
   (cross-doc test). A gram is *duplicated* iff it occurs in ≥2
   distinct documents;
3. per-document maximal spans — duplicated positions ≤ K apart merge
   into one island (classic gaps-and-islands: lag + running sum), so
   a span's token count is exactly `max_p − min_p + K` and distinct
   islands are disjoint by construction (the next island starts > K
   positions after the previous island's last gram start).

Scale posture: step 2 is the only corpus-sized shuffle and its key is
8 bytes/posting; the cap (`MAX_SPAN_GRAM_POSTINGS`, mirrored in the
oracle) bounds the largest gh partition the same way the
decontaminate boilerplate cap does, so a corpus-wide boilerplate gram
cannot create a straggler. Step 3 partitions by doc_id — bounded by
the longest document, not the corpus. A suffix array would find the
same spans in O(n) on one machine and on zero machines at 100 TB.

No reference counterpart (the reference has no text-dedup surface at
all); modeled on Lee et al. §4.1 and the RefinedWeb/Dolma exact-span
passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.text import tokens, word_ngrams
from ..registry import register
from .dedup import is_delta_doc, is_delta_doc_sql
from .pipeline_ops import _TOK_SQL

SPAN_K = 8  # span granularity: a duplicated run must contain a full K-gram
# Hot-gram postings cap: grams occurring at more corpus positions than
# this are boilerplate (language property, not corpus-size property —
# the decontaminate MAX_GRAM_TRAIN_DF rationale, SCALING.md "Threshold
# provenance"). Bounds the widest gh window partition.
MAX_SPAN_GRAM_POSTINGS = 1000


def _span_chain(
    docs_rel: str = "documents", prefix: str = "", removable_only: bool = False
) -> str:
    """Oracle CTE chain body (no leading WITH): positional grams of
    ``docs_rel`` → duplicated positions → maximal merged spans, ending
    in ``{prefix}spans(doc_id, s, e, span_len)``. ``prefix`` namespaces
    the CTEs so the chain can run twice in one query (the residual
    audit re-runs it over the rewritten corpus)."""
    removal = (
        "AND doc_id <> MIN(doc_id) OVER (PARTITION BY gh)" if removable_only else ""
    )
    p = prefix
    return f"""{p}t AS (
            SELECT doc_id, {_TOK_SQL} AS toks
            FROM {docs_rel}
            WHERE len({_TOK_SQL}) >= {SPAN_K}
        ), {p}g AS (
            SELECT doc_id,
                   unnest(range(1, len(toks) - {SPAN_K - 2})) AS p,
                   unnest(list_transform(range(1, len(toks) - {SPAN_K - 2}),
                          i -> ('0x' || substr(md5(array_to_string(toks[i:i+{SPAN_K - 1}], ' ')), 1, 15))::BIGINT)) AS gh
            FROM {p}t
        ), {p}d AS (
            SELECT doc_id, p FROM {p}g
            QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {MAX_SPAN_GRAM_POSTINGS}
               AND MIN(doc_id) OVER (PARTITION BY gh) <> MAX(doc_id) OVER (PARTITION BY gh)
               {removal}
        ), {p}isl AS (
            SELECT doc_id, p,
                   SUM(CASE WHEN gap IS NULL OR gap > {SPAN_K} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, p,
                         p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS gap
                  FROM {p}d)
        ), {p}spans AS (
            SELECT doc_id, MIN(p) AS s, MAX(p) + {SPAN_K - 1} AS e,
                   MAX(p) - MIN(p) + {SPAN_K} AS span_len
            FROM {p}isl GROUP BY doc_id, island
        )"""


def _span_sql(inner_select: str, removable_only: bool = False) -> str:
    """Shared oracle chain over `documents`, ending in a
    `spans(doc_id, s, e, span_len)` relation consumed by
    ``inner_select``."""
    return f"""
        WITH {_span_chain(removable_only=removable_only)}
        {inner_select}
    """


def _spans_over(docs: DataFrame, removable_only: bool = False) -> DataFrame:
    """(doc_id, s, e, span_len) of every maximal cross-doc duplicated
    span of an arbitrary (doc_id, text) frame — the engine twin of
    ``_span_chain``. `s`/`e` are 1-based inclusive token positions
    (e ≤ n_tokens because the last gram covers p..p+K-1).

    With ``removable_only`` the position filter additionally demands
    ``doc_id != min(doc_id) over the gram`` — the Lee et al. removal
    policy: every duplicated gram survives in exactly its lowest-id
    owner, so the returned spans are the ones a rewrite pass would cut.
    """
    tok = tokens(F.col("text"))
    grams = (
        docs.select("doc_id", tok.alias("toks"))
        .filter(F.size("toks") >= SPAN_K)
        .select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("toks"), SPAN_K)).alias("pos", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("p"),
            F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh"),
        )
    )
    # One exchange on gh serves all three window aggregates (postings
    # cap + cross-doc min/max) — the decontaminate single-exchange trick.
    wg = Window.partitionBy("gh")
    keep = (F.col("postings") <= MAX_SPAN_GRAM_POSTINGS) & (
        F.col("dmin") != F.col("dmax")
    )
    if removable_only:
        keep = keep & (F.col("doc_id") != F.col("dmin"))
    dup_positions = (
        grams.withColumn("postings", F.count(F.lit(1)).over(wg))
        .withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(keep)
        .select("doc_id", "p")
    )
    wd = Window.partitionBy("doc_id").orderBy("p")
    return (
        dup_positions.withColumn("gap", F.col("p") - F.lag("p").over(wd))
        .withColumn(
            "new_island",
            F.when(F.col("gap").isNull() | (F.col("gap") > SPAN_K), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("s"),
            (F.max("p") + (SPAN_K - 1)).alias("e"),
            (F.max("p") - F.min("p") + SPAN_K).alias("span_len"),
        )
        .select("doc_id", "s", "e", "span_len")
    )


def _duplicate_position_spans(
    spark: SparkSession, sf_dir: str, removable_only: bool = False
) -> DataFrame:
    """(doc_id, span_len) over the sf_dir documents table (see
    ``_spans_over`` for semantics)."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return _spans_over(d, removable_only=removable_only).select("doc_id", "span_len")


@register(
    "duplicate_spans",
    oracle=_span_sql(
        """
        SELECT doc_id,
               COUNT(*) AS n_spans,
               SUM(span_len)::BIGINT AS dup_tokens,
               MAX(span_len)::BIGINT AS longest_span
        FROM spans GROUP BY doc_id ORDER BY doc_id
        """
    ),
    doc=f"Exact substring dedup (Lee et al. 2022 ExactSubstr, word-level): "
    f"per-document maximal spans whose every {SPAN_K}-gram also appears in "
    "another document. One 8-byte-key shuffle over the positional grams "
    "(hot-gram capped), then per-doc gaps-and-islands span merging.",
    tags=("text", "dedup", "extension"),
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing cross-doc duplicated spans: span count, total
    duplicated tokens (spans are disjoint, so the sum is exact), and
    the longest single span."""
    spans = _duplicate_position_spans(spark, sf_dir)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_len").cast("bigint").alias("dup_tokens"),
            F.max("span_len").cast("bigint").alias("longest_span"),
        )
        .orderBy("doc_id")
    )


@register(
    "span_dedup_savings",
    oracle=_span_sql(
        f"""
        , per_doc AS (
            SELECT doc_id, SUM(span_len)::BIGINT AS dup_tokens
            FROM spans GROUP BY doc_id
        ), docs AS (
            SELECT doc_id, source, len({_TOK_SQL})::BIGINT AS n_tokens
            FROM documents
        )
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(p.dup_tokens) AS docs_with_dup_spans,
               SUM(d.n_tokens)::BIGINT AS total_tokens,
               COALESCE(SUM(p.dup_tokens), 0)::BIGINT AS dup_tokens,
               COALESCE(SUM(p.dup_tokens), 0)::DOUBLE / SUM(d.n_tokens)::DOUBLE
                   AS dup_token_frac
        FROM docs d LEFT JOIN per_doc p USING (doc_id)
        GROUP BY source ORDER BY source
        """
    ),
    doc="Corpus-level payoff of exact-span dedup, rolled up by source: "
    "what fraction of each source's tokens sits inside cross-doc "
    "duplicated spans. The span frame aggregates to one row per "
    "affected doc before the source join, so the join's small side is "
    "duplicate-doc-sized and AQE broadcasts it.",
    tags=("text", "dedup", "profiling", "extension"),
)
def span_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-token share under exact-span dedup."""
    per_doc = (
        _duplicate_position_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_len").cast("bigint").alias("dup_tokens"))
    )
    docs = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    agg = (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dup_tokens").alias("docs_with_dup_spans"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "docs_with_dup_spans",
        "total_tokens",
        "dup_tokens",
        (F.col("dup_tokens").cast("double") / F.col("total_tokens").cast("double")).alias(
            "dup_token_frac"
        ),
    ).orderBy("source")


@register(
    "span_removal_plan",
    oracle=_span_sql(
        f"""
        , per_doc AS (
            SELECT doc_id,
                   COUNT(*) AS n_cut_spans,
                   SUM(span_len)::BIGINT AS tokens_removed
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id, n_cut_spans, tokens_removed,
               len({_TOK_SQL})::BIGINT AS n_tokens,
               tokens_removed::DOUBLE / len({_TOK_SQL})::DOUBLE AS removed_frac
        FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
        """,
        removable_only=True,
    ),
    doc="The actionable half of exact-span dedup (Lee et al.'s 'remove "
    "all but one occurrence'): per document, the maximal spans a "
    "rewrite pass would CUT under the keep-lowest-doc_id policy — "
    "every duplicated gram survives in exactly its owner doc, so the "
    "cleaned corpus keeps one copy of every span. Same two-shuffle "
    "plan as duplicate_spans; the ownership test is one more window "
    "aggregate over the existing gh exchange.",
    tags=("text", "dedup", "extension"),
)
def span_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc removal plan: spans to cut, tokens removed, and the
    removed fraction of the doc."""
    per_doc = (
        _duplicate_position_spans(spark, sf_dir, removable_only=True)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_cut_spans"),
            F.sum("span_len").cast("bigint").alias("tokens_removed"),
        )
    )
    docs = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    return (
        per_doc.join(docs, "doc_id")
        .select(
            "doc_id",
            "n_cut_spans",
            "tokens_removed",
            "n_tokens",
            (
                F.col("tokens_removed").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("removed_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental span dedup: delta batch vs a FROZEN gram-postings index
# (the minhash-index nightly lifecycle, now at span granularity).


def _positional_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, p, gh) positional K-grams of an arbitrary doc frame."""
    tok = tokens(F.col("text"))
    return (
        docs.select("doc_id", tok.alias("toks"))
        .filter(F.size("toks") >= SPAN_K)
        .select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("toks"), SPAN_K)).alias("pos", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("p"),
            F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh"),
        )
    )


def span_index_dir(sf_dir: str) -> str:
    """Fingerprinted gram-index location for sf_dir's documents table
    (fresh dir when the fixture regenerates — sinks/versioned.py)."""
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", prefix="spangrams_")


def _gram_postings(docs: DataFrame) -> DataFrame:
    """(gh, postings) of a doc frame's positional grams."""
    return _positional_grams(docs).groupBy("gh").agg(F.count(F.lit(1)).alias("postings"))


def build_span_index(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Publish the frozen-corpus gram-postings table — (gh, postings),
    one row per DISTINCT gram hash of the corpus docs — as a versioned
    snapshot. Positions are NOT stored: the delta probe only needs
    corpus membership and the postings count for the hot-gram cap, so
    the index is distinct-gram-sized (~16 B/row). Returns the
    published version."""
    from ..sinks.versioned import write_corpus_snapshot

    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return write_corpus_snapshot(
        _gram_postings(d.filter(~is_delta_doc("doc_id"))), table_dir
    )


def extend_span_index(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Fold the CURRENT delta batch's gram postings into snapshot v+1
    (the corpus side is never re-tokenized). A FULL-corpus consumer
    aggregates postings over all rows of a folded version."""
    from ..sinks.versioned import fold_delta_snapshot

    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return fold_delta_snapshot(
        spark, table_dir, _gram_postings(d.filter(is_delta_doc("doc_id")))
    )


@register(
    "incremental_duplicate_spans",
    oracle=_span_sql(
        f"""
        SELECT doc_id,
               COUNT(*) AS n_spans,
               SUM(span_len)::BIGINT AS dup_tokens,
               MAX(span_len)::BIGINT AS longest_span
        FROM spans
        WHERE {is_delta_doc_sql("doc_id")}
        GROUP BY doc_id ORDER BY doc_id
        """
    ),
    doc="Exact-span dedup of a NEW document batch (md5-salted buckets "
    ">= 90) against a FROZEN gram-postings index of the other 90%, "
    "built once via build_span_index and read back as a versioned-"
    "snapshot scan — the corpus is never re-tokenized. EXACTLY "
    "equivalent to duplicate_spans restricted to delta docs: a delta "
    "position is duplicated iff corpus postings > 0 (cross-doc is "
    "automatic — delta and corpus are disjoint) or two delta docs "
    "share the gram, under the combined corpus+delta postings cap — "
    "the same predicate the full run evaluates, which is what the "
    "oracle replays. Nightly cost is O(delta) tokenization plus a "
    "distinct-gram index scan, not O(corpus); extend_span_index folds "
    "the delta into v+1 idempotently.",
    tags=("text", "dedup", "incremental", "extension"),
)
def incremental_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir, delta = _span_index_and_delta(spark, sf_dir)
    return incremental_span_probe(spark, table_dir, delta)


def _span_index_and_delta(spark: SparkSession, sf_dir: str):
    """(span index dir, built if missing; the delta docs frame)."""
    from ..sinks.versioned import ensure_snapshot

    table_dir = span_index_dir(sf_dir)
    ensure_snapshot(table_dir, lambda: build_span_index(spark, sf_dir, table_dir))
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return table_dir, d.filter(is_delta_doc("doc_id"))


def _incremental_span_islands(
    spark: SparkSession,
    table_dir: str,
    delta_docs: DataFrame,
    removable_only: bool = False,
) -> DataFrame:
    """(doc_id, s, e, span_len) of the delta docs' duplicated spans
    against the FROZEN gram index — the shared body of the incremental
    probe and the incremental rewrite.

    ``removable_only`` applies the landing-zone ownership policy: the
    frozen corpus owns every gram it contains (cpost > 0 ⇒ the delta
    occurrence is removable), and among delta-only dups the lowest
    delta doc_id owns — the natural extension of the full-run
    keep-lowest-doc_id policy to a frozen/delta split."""
    from ..sinks.versioned import read_corpus_snapshot

    corpus_idx = read_corpus_snapshot(spark, table_dir).select(
        "gh", F.col("postings").alias("cpost")
    )
    grams = _positional_grams(delta_docs)
    # Window over the DELTA grams (one gh exchange, delta-sized), then
    # a gh join against the index scan for the corpus contribution.
    wg = Window.partitionBy("gh")
    keep = (F.col("cpost") + F.col("dpost") <= MAX_SPAN_GRAM_POSTINGS) & (
        (F.col("cpost") > 0) | (F.col("dmin") != F.col("dmax"))
    )
    if removable_only:
        keep = keep & ((F.col("cpost") > 0) | (F.col("doc_id") != F.col("dmin")))
    probed = (
        grams.withColumn("dpost", F.count(F.lit(1)).over(wg))
        .withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .join(corpus_idx, "gh", "left")
        .withColumn("cpost", F.coalesce(F.col("cpost"), F.lit(0)))
        .filter(keep)
        .select("doc_id", "p")
    )
    wd = Window.partitionBy("doc_id").orderBy("p")
    return (
        probed.withColumn("gap", F.col("p") - F.lag("p").over(wd))
        .withColumn(
            "new_island",
            F.when(F.col("gap").isNull() | (F.col("gap") > SPAN_K), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("s"),
            (F.max("p") + (SPAN_K - 1)).alias("e"),
            (F.max("p") - F.min("p") + SPAN_K).alias("span_len"),
        )
        .select("doc_id", "s", "e", "span_len")
    )


def incremental_span_probe(
    spark: SparkSession, table_dir: str, delta_docs: DataFrame
) -> DataFrame:
    """Span-dedup an arbitrary delta doc frame against the frozen gram
    index at `table_dir` — the probe body shared by the registered
    batch query and the streaming landing-zone filter (which calls it
    per micro-batch via foreachBatch, delta := trigger batch)."""
    return (
        _incremental_span_islands(spark, table_dir, delta_docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_len").cast("bigint").alias("dup_tokens"),
            F.max("span_len").cast("bigint").alias("longest_span"),
        )
        .orderBy("doc_id")
    )


@register(
    "span_source_matrix",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, {_TOK_SQL} AS toks
            FROM documents
            WHERE len({_TOK_SQL}) >= {SPAN_K}
        ), g AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(toks) - {SPAN_K - 2}),
                          i -> ('0x' || substr(md5(array_to_string(toks[i:i+{SPAN_K - 1}], ' ')), 1, 15))::BIGINT)) AS gh
            FROM t
        ), d AS (
            SELECT DISTINCT gh, source FROM g
            QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {MAX_SPAN_GRAM_POSTINGS}
               AND MIN(doc_id) OVER (PARTITION BY gh) <> MAX(doc_id) OVER (PARTITION BY gh)
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared_grams
        FROM d a JOIN d b ON a.gh = b.gh AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Cross-source contamination at SPAN granularity (the exact-"
    "substring analog of dedup_source_matrix): for every unordered "
    "source pair, how many duplicated 8-grams the two sources share. "
    "The provenance question behind a mixture decision - which feeds "
    "are copying from each other. The self-join fans out at most "
    "|sources| rows per gram key (grams are already DISTINCT per "
    "source and hot-gram capped), so the pair space is "
    "sources-squared-bounded per key, never doc-pair-sized.",
    tags=("text", "dedup", "profiling", "extension"),
)
def span_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, shared_grams) for source_a < source_b."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    tok = tokens(F.col("text"))
    grams = (
        d.select("doc_id", "source", tok.alias("toks"))
        .filter(F.size("toks") >= SPAN_K)
        .select(
            "doc_id",
            "source",
            F.explode(word_ngrams(F.col("toks"), SPAN_K)).alias("gram"),
        )
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh"),
        )
    )
    wg = Window.partitionBy("gh")
    dup_sources = (
        grams.withColumn("postings", F.count(F.lit(1)).over(wg))
        .withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(
            (F.col("postings") <= MAX_SPAN_GRAM_POSTINGS)
            & (F.col("dmin") != F.col("dmax"))
        )
        .select("gh", "source")
        .distinct()
    )
    a = dup_sources.select("gh", F.col("source").alias("source_a"))
    b = dup_sources.select("gh", F.col("source").alias("source_b"))
    return (
        a.join(b, "gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Span REMOVAL — materialize the cleaned corpus (the second half of the
# Lee et al. ExactSubstr pass: span_removal_plan says what to cut;
# apply_span_removal performs the cut).


def apply_span_removal(docs: DataFrame) -> DataFrame:
    """Materialize the span-deduplicated corpus of a (doc_id, source,
    text) frame: delete every token inside a removable span (the
    keep-lowest-doc_id ownership policy of ``span_removal_plan``) and
    re-join the surviving tokens with single spaces.

    Output: (doc_id, source, text, n_tokens, tokens_removed,
    n_tokens_after) for EVERY input document — uncut docs pass through
    with tokens_removed = 0 and their original text byte-identical
    (re-normalization happens only on cut docs, whose output is in
    normalized token space by construction).

    Scale shape: the cut list is the span plan (one 8-byte-key gram
    shuffle + per-doc islands), aggregated to one array row per CUT
    document — duplicate-doc-sized, so the docs⨝cuts join broadcasts
    under AQE at moderate dup rates and degrades to a doc_id-key
    shuffle join (each side partitioned by the same key, bounded by
    the longest document) at worst. The token deletion itself is a
    per-row JVM higher-order filter — zero additional shuffles.
    """
    spans = _spans_over(docs.select("doc_id", "text"), removable_only=True)
    return _apply_cuts(docs, spans)


def _apply_cuts(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Delete the tokens inside `spans`' (doc_id, s, e) ranges from
    `docs` (doc_id, [passthrough cols...], text) — the shared rewrite
    tail of the full-corpus and incremental span removals. Non-text
    columns pass through unchanged (planted fixtures and stream
    batches may lack `source`)."""
    passthrough = [c for c in docs.columns if c not in ("doc_id", "text")]
    cuts = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("cuts")
    )
    tok = tokens(F.col("text"))
    pos_in_cut = lambda i: F.exists(  # noqa: E731 — 1-based position i
        F.col("cuts"), lambda c: (i >= c["s"]) & (i <= c["e"])
    )
    kept = F.filter(F.col("toks"), lambda t, i: ~pos_in_cut(i + 1))
    return (
        docs.join(cuts, "doc_id", "left")
        .withColumn("toks", tok)
        .select(
            "doc_id",
            *passthrough,
            F.when(F.col("cuts").isNull(), F.col("text"))
            .otherwise(F.array_join(kept, " "))
            .alias("text"),
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.when(F.col("cuts").isNull(), F.lit(0))
            .otherwise(F.size("toks") - F.size(kept))
            .cast("bigint")
            .alias("tokens_removed"),
            F.when(F.col("cuts").isNull(), F.size("toks"))
            .otherwise(F.size(kept))
            .cast("bigint")
            .alias("n_tokens_after"),
        )
    )


# DuckDB twin of the token-deletion lambda: positions NOT inside any
# cut survive; toks[i] is 1-based like the span bounds.
_REWRITE_SQL = """list_transform(
               list_filter(range(1, len(toks) + 1),
                   i -> len(list_filter(cuts, cc -> i >= cc.s AND i <= cc.e)) = 0),
               i -> toks[i])"""


@register(
    "span_rewrite",
    oracle=f"""
        WITH {{chain}}
        , cuts AS (
            SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS cuts
            FROM spans GROUP BY doc_id
        ), rew AS (
            SELECT d.doc_id, {{tok}} AS toks, c.cuts
            FROM documents d JOIN cuts c ON d.doc_id = c.doc_id
        ), out AS (
            SELECT doc_id, len(toks) AS n_tokens, {_REWRITE_SQL} AS kept
            FROM rew
        )
        SELECT doc_id,
               n_tokens::BIGINT AS n_tokens,
               (n_tokens - len(kept))::BIGINT AS tokens_removed,
               len(kept)::BIGINT AS n_tokens_after,
               -- DuckDB's array_to_string([]) is NULL; Spark's
               -- array_join([]) is '' — coalesce to the Spark value
               COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
        FROM out ORDER BY doc_id
    """.format(chain=_span_chain(removable_only=True), tok=_TOK_SQL),
    doc="Materialized exact-span dedup (the rewrite half of Lee et "
    "al. 2022): per CUT document, the cleaned text with every "
    "non-owner duplicated span deleted, plus before/after token "
    "counts. Cut docs only — the result is duplicate-doc-sized, and "
    "uncut docs are byte-identical passthroughs by construction. The "
    "full-corpus frame (every doc, cut or not) is apply_span_removal, "
    "which examples/pipeline stages consume.",
    tags=("text", "dedup", "extension"),
)
def span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned text + cut stats for every document that lost a span."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return (
        apply_span_removal(d)
        .filter(F.col("tokens_removed") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "tokens_removed",
            "n_tokens_after",
            F.col("text").alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


@register(
    "span_rewrite_residual",
    oracle=f"""
        WITH {{chain1}}
        , cuts AS (
            SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS cuts
            FROM spans GROUP BY doc_id
        ), cleaned AS (
            -- fully-cut docs rewrite to '' (array_to_string([]) is NULL
            -- in DuckDB), only cut-free docs pass through unchanged
            SELECT d.doc_id,
                   CASE WHEN cuts IS NULL THEN d.text
                        ELSE COALESCE(array_to_string({_REWRITE_SQL}, ' '), '')
                   END AS text
            FROM (SELECT doc_id, text, {{tok}} AS toks FROM documents) d
            LEFT JOIN cuts USING (doc_id)
        ), {{chain2}}
        SELECT COUNT(DISTINCT doc_id)::BIGINT AS residual_docs,
               COUNT(*)::BIGINT AS residual_spans,
               COALESCE(SUM(span_len), 0)::BIGINT AS residual_tokens
        FROM r_spans
    """.format(
        chain1=_span_chain(removable_only=True),
        chain2=_span_chain(docs_rel="cleaned", prefix="r_", removable_only=True),
        tok=_TOK_SQL,
    ),
    doc="Residual-invariant audit of the span rewrite: re-runs the "
    "removable-span detector over the CLEANED corpus (rewrite output "
    "fed back through the identical gram chain) and reports what a "
    "second pass would still cut. The Lee et al. invariant — every "
    "duplicated gram survives only in its owner doc — makes all three "
    "counters 0; the only theoretical leak is a junction gram "
    "coincidentally equal to text elsewhere (tokens newly adjacent "
    "across a cut), which the audit would surface rather than hide. "
    "Cost: two span plans back to back — same scale posture as "
    "duplicate_spans, run twice.",
    tags=("text", "dedup", "audit", "extension"),
)
def span_rewrite_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit: removable spans remaining after the rewrite."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    cleaned = apply_span_removal(d).select("doc_id", "text")
    residual = _spans_over(cleaned, removable_only=True)
    return residual.agg(
        F.countDistinct("doc_id").cast("bigint").alias("residual_docs"),
        F.count(F.lit(1)).cast("bigint").alias("residual_spans"),
        F.coalesce(F.sum("span_len"), F.lit(0)).cast("bigint").alias("residual_tokens"),
    )


# ---------------------------------------------------------------------------
# Incremental span REWRITE — the landing-zone cleanse: arriving delta
# docs lose every span the frozen corpus (or an earlier delta doc)
# already owns, so what lands downstream is already span-deduplicated.


def apply_incremental_span_removal(
    spark: SparkSession, table_dir: str, delta_docs: DataFrame
) -> DataFrame:
    """Cut the removable spans of an arbitrary delta doc frame against
    the FROZEN gram index (ownership: corpus owns everything it
    contains; among delta-only dups the lowest delta doc_id owns).
    Same output contract as :func:`apply_span_removal`, restricted to
    the delta. Cost: the O(delta) probe + the per-doc HOF cut — the
    corpus is only touched through the distinct-gram index scan."""
    spans = _incremental_span_islands(
        spark, table_dir, delta_docs.select("doc_id", "text"), removable_only=True
    )
    return _apply_cuts(delta_docs, spans)


@register(
    "incremental_span_rewrite",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_TOK_SQL} AS toks,
                   ({is_delta_doc_sql("doc_id")}) AS isd
            FROM documents
            WHERE len({_TOK_SQL}) >= {SPAN_K}
        ), g AS (
            SELECT doc_id, isd,
                   unnest(range(1, len(toks) - {SPAN_K - 2})) AS p,
                   unnest(list_transform(range(1, len(toks) - {SPAN_K - 2}),
                          i -> ('0x' || substr(md5(array_to_string(toks[i:i+{SPAN_K - 1}], ' ')), 1, 15))::BIGINT)) AS gh
            FROM t
        ), d AS (
            -- delta positions removable under the landing policy:
            -- capped on TOTAL (corpus+delta) postings, then corpus
            -- presence OR a lower delta owner
            SELECT doc_id, p FROM g
            QUALIFY isd
               AND COUNT(*) OVER (PARTITION BY gh) <= {MAX_SPAN_GRAM_POSTINGS}
               AND (COUNT(*) FILTER (WHERE NOT isd) OVER (PARTITION BY gh) > 0
                    OR doc_id <> MIN(doc_id) FILTER (WHERE isd)
                                 OVER (PARTITION BY gh))
        ), isl AS (
            SELECT doc_id, p,
                   SUM(CASE WHEN gap IS NULL OR gap > {SPAN_K} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, p,
                         p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS gap
                  FROM d)
        ), spans AS (
            SELECT doc_id, MIN(p) AS s, MAX(p) + {SPAN_K - 1} AS e
            FROM isl GROUP BY doc_id, island
        ), cuts AS (
            SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS cuts
            FROM spans GROUP BY doc_id
        ), rew AS (
            SELECT d.doc_id, {_TOK_SQL} AS toks, c.cuts
            FROM documents d JOIN cuts c ON d.doc_id = c.doc_id
        ), out AS (
            SELECT doc_id, len(toks) AS n_tokens, {_REWRITE_SQL} AS kept
            FROM rew
        )
        SELECT doc_id,
               n_tokens::BIGINT AS n_tokens,
               (n_tokens - len(kept))::BIGINT AS tokens_removed,
               len(kept)::BIGINT AS n_tokens_after,
               COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
        FROM out ORDER BY doc_id
    """,
    doc="Landing-zone span CLEANSE of the delta batch (md5 buckets >= "
    "90) against the frozen gram index: every span the corpus already "
    "contains — plus delta-internal dups, lowest delta doc_id owns — "
    "is cut from the arriving doc before it lands. The batch twin of "
    "the streaming run_incremental_span_rewrite; nightly cost is the "
    "O(delta) probe + a per-doc JVM token filter, never O(corpus). "
    "The oracle replays the policy from the full documents table with "
    "FILTERed window aggregates over the gram partition (corpus count "
    "> 0 OR a lower delta owner) and hash-compares the full cleaned "
    "text of every cut delta doc.",
    tags=("text", "dedup", "incremental", "extension"),
)
def incremental_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, tokens_removed, n_tokens_after, cleaned_text)
    for every CUT delta document."""
    table_dir, delta = _span_index_and_delta(spark, sf_dir)
    return (
        apply_incremental_span_removal(spark, table_dir, delta)
        .filter(F.col("tokens_removed") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "tokens_removed",
            "n_tokens_after",
            F.col("text").alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )
