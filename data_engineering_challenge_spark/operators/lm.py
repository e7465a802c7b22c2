"""Statistical language-model corpus filter (the CCNet/KenLM seat).

Production LLM pipelines (CCNet, RedPajama, Dolma) filter crawl text
by perplexity under a small n-gram LM trained on a reference corpus —
the stage that sits BEFORE the trained quality classifier
(`operators/quality_probe.py`). The reference repo has no analog
(its quality surface stops at per-column regex contracts,
`src/utils/data_validation.py`); this is a north-star extension.

Spark-first design, with the engine's cross-engine exactness rule:
floating log-probabilities would make the doc score depend on
summation order, so the LM here is QUANTIZED TO INTEGER BITS —
per-bigram surprisal is computed with floor(log2 n) over integer
counts (`length(bin(n)) - 1` in Spark, `length(format('{:b}', n)) - 1`
in DuckDB — both exact string lengths, no libm), and a document's
score is an exact BIGINT sum. One final division produces the
human-readable bits/bigram. This mirrors `bm25_topk`'s libm-free
rational idf and the fixed-point pagerank: rank-equivalent to the
float LM at the resolution that matters for a keep/drop gate, and
bit-identical across engines, partitionings and summation orders.

Model: add-one-smoothed bigram surprisal
    bits(prev, cur) = floor(log2(c1(prev) + V)) - floor(log2(c12(prev, cur) + 1))
with c12/c1 counted over the TRAIN split's bigram stream (the same
content-hash 8/1/1 split every other pipeline stage uses), and V the
context vocabulary (# distinct bigram-lead tokens in train). Since
c12 <= c1 and V >= 1, surprisal is always >= 0; unseen contexts cost
floor(log2 V) — the add-one uniform.

Scale posture (100 TB):
- counts tables are vocabulary-sized (one row per distinct bigram /
  context), pre-aggregated before any join — map-side combine does
  the heavy lifting on the token stream;
- the scoring stream joins on fixed-width 60-bit hashes of the gram
  strings (shuffle bytes independent of token length), two hash joins
  that AQE handles; V is a 1-row broadcast;
- doc scores and the per-(source, split) rollup are exact integer
  partial aggregations — no order sensitivity anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.text import tokens, word_ngrams
from ..registry import register
from .pipeline_ops import _SPLIT_CASE_SQL, _TOK_SQL, _gram_sql, _split_col

# Keep/drop gate: flag a doc whose mean surprisal exceeds this many
# CENTIBITS per bigram. Integer cross-multiply — doc_bits * 100 >
# LM_FLAG_CENTIBITS * n_bigrams — so the gate is exact. 4.95 sits at
# ~p95 of the per-doc distribution on the test corpus (p50 = 4.89,
# max = 5.27): the flag selects the high-perplexity tail a CCNet-style
# pipeline would route to its "drop or re-review" bucket.
LM_FLAG_CENTIBITS = 495  # 4.95 bits/bigram


def _gh60(col) -> F.Column:
    """60-bit md5-prefix hash (the repo's standard join key width)."""
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
    )


def _bits(col) -> F.Column:
    """floor(log2(n)) for n >= 1, exactly: binary digit count - 1."""
    return (F.length(F.bin(col)) - 1).cast("bigint")


def _bigram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, split, gh, ph) — one row per bigram occurrence."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens(F.col("text"))
    return (
        d.select(
            "doc_id",
            "source",
            _split_col().alias("split"),
            toks.alias("toks"),
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "source",
            "split",
            F.explode(word_ngrams(F.col("toks"), 2)).alias("g"),
        )
        .select(
            "doc_id",
            "source",
            "split",
            _gh60(F.col("g")).alias("gh"),
            _gh60(F.split(F.col("g"), " ").getItem(0)).alias("ph"),
        )
    )


# DuckDB replay of train-from-scratch + score + rollup — shared by
# the inline query and the frozen-model twin (the model is a pure
# function of the train split, so a from-scratch retrain IS the
# stored model — the quality-probe oracle protocol).
_LM_ROLLUP_SQL = f"""
        WITH docs AS (
            SELECT doc_id, source, {_SPLIT_CASE_SQL} AS split,
                   {_gram_sql(2)} AS g2
            FROM documents WHERE len({_TOK_SQL}) >= 2
        ),
        stream AS (
            SELECT doc_id, source, split,
                   ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh,
                   ('0x' || substr(md5(split_part(g, ' ', 1)), 1, 15))::BIGINT AS ph
            FROM (SELECT doc_id, source, split, unnest(g2) AS g FROM docs)
        ),
        train AS (SELECT gh, ph FROM stream WHERE split = 'train'),
        c12 AS (SELECT gh, COUNT(*)::BIGINT AS c12 FROM train GROUP BY gh),
        c1  AS (SELECT ph, COUNT(*)::BIGINT AS c1 FROM train GROUP BY ph),
        v AS (SELECT COUNT(DISTINCT ph)::BIGINT AS vctx FROM train),
        scored AS (
            SELECT s.doc_id, s.source, s.split,
                   CAST(length(format('{{:b}}', COALESCE(c12_t.c12, 0) + 1)) AS BIGINT)
                       AS lo_bits,
                   CAST(length(format('{{:b}}', COALESCE(c1_t.c1, 0) + v.vctx)) AS BIGINT)
                       AS hi_bits
            FROM stream s
            LEFT JOIN c12 c12_t ON s.gh = c12_t.gh
            LEFT JOIN c1 c1_t ON s.ph = c1_t.ph
            CROSS JOIN v
        ),
        docbits AS (
            SELECT doc_id, source, split,
                   SUM(hi_bits - lo_bits)::BIGINT AS doc_bits,
                   COUNT(*)::BIGINT AS n_bigrams
            FROM scored GROUP BY doc_id, source, split
        )
        SELECT source, split,
               COUNT(*)::BIGINT AS n_docs,
               SUM(n_bigrams)::BIGINT AS total_bigrams,
               SUM(doc_bits)::BIGINT AS total_bits,
               CAST(SUM(doc_bits) AS DOUBLE) / CAST(SUM(n_bigrams) AS DOUBLE)
                   AS avg_bits,
               COUNT(*) FILTER (WHERE doc_bits * 100 > {LM_FLAG_CENTIBITS} * n_bigrams)
                   ::BIGINT AS n_flagged
        FROM docbits GROUP BY source, split ORDER BY source, split
    """


@register(
    "bigram_lm_score",
    oracle=_LM_ROLLUP_SQL,
    doc="Statistical-LM corpus filter (the CCNet/KenLM stage): add-one "
    "bigram surprisal quantized to INTEGER BITS (floor-log2 via binary "
    "digit counts — no libm, so doc scores are exact BIGINT sums, "
    "bit-identical across engines and partitionings), trained on the "
    "content-hash train split, scored over every doc, rolled up per "
    "(source, split) with an exact integer keep/drop flag count.",
    tags=("text", "lm", "quality", "extension"),
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, split, n_docs, total_bigrams, total_bits, avg_bits,
    n_flagged) under the integer-bits bigram LM."""
    stream = _bigram_stream(spark, sf_dir)
    train = stream.filter(F.col("split") == "train").select("gh", "ph")
    c12 = train.groupBy("gh").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    c1 = train.groupBy("ph").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    vctx = train.agg(F.countDistinct("ph").cast("bigint").alias("vctx"))
    scored = (
        stream.join(c12, "gh", "left")
        .join(c1, "ph", "left")
        .crossJoin(F.broadcast(vctx))
        .select(
            "doc_id",
            "source",
            "split",
            # bin() digit counts, not the -1'd floor-log2: the -1s
            # cancel in the difference and the oracle mirrors this.
            F.length(F.bin(F.coalesce(F.col("c12"), F.lit(0)) + 1))
            .cast("bigint")
            .alias("lo_bits"),
            F.length(F.bin(F.coalesce(F.col("c1"), F.lit(0)) + F.col("vctx")))
            .cast("bigint")
            .alias("hi_bits"),
        )
    )
    docbits = scored.groupBy("doc_id", "source", "split").agg(
        F.sum(F.col("hi_bits") - F.col("lo_bits")).cast("bigint").alias("doc_bits"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    )
    return (
        docbits.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.sum("doc_bits").cast("bigint").alias("total_bits"),
            (
                F.sum("doc_bits").cast("double")
                / F.sum("n_bigrams").cast("double")
            ).alias("avg_bits"),
            F.count(
                F.when(
                    F.col("doc_bits") * 100
                    > F.lit(LM_FLAG_CENTIBITS) * F.col("n_bigrams"),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# Frozen-model lifecycle: the trained LM as a versioned snapshot.
#
# At 100 TB the counts tables (vocabulary-sized, never corpus-sized)
# ARE the model: they are published once as a versioned snapshot
# (`sinks/versioned.py`, the build_pq_index / build_quality_model
# protocol) and every scoring pass — batch or streaming — joins the
# FROZEN tables instead of re-counting the corpus. The model is a
# pure function of the train split, so the oracle replays a
# from-scratch retrain and must hash-match the stored-model path.
# ---------------------------------------------------------------------------

LM_MODELV = 1  # bump when featurization/smoothing changes


def lm_model_dir(sf_dir: str) -> str:
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", prefix=f"lmbigram{LM_MODELV}_")


def build_lm_model(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Count the train split's bigram stream and publish (kind, key,
    cnt) rows — kind 'g' = bigram counts keyed by gh, 'p' = context
    counts keyed by ph, 'v' = the 1-row context vocabulary size — as a
    versioned snapshot. Returns the version."""
    from ..sinks.versioned import write_snapshot

    train = (
        _bigram_stream(spark, sf_dir)
        .filter(F.col("split") == "train")
        .select("gh", "ph")
    )
    c12 = train.groupBy("gh").agg(F.count(F.lit(1)).cast("bigint").alias("cnt")).select(
        F.lit("g").alias("kind"), F.col("gh").alias("key"), "cnt"
    )
    c1 = train.groupBy("ph").agg(F.count(F.lit(1)).cast("bigint").alias("cnt")).select(
        F.lit("p").alias("kind"), F.col("ph").alias("key"), "cnt"
    )
    v = train.agg(F.countDistinct("ph").cast("bigint").alias("cnt")).select(
        F.lit("v").alias("kind"), F.lit(0).cast("bigint").alias("key"), "cnt"
    )
    return write_snapshot(c12.unionByName(c1).unionByName(v), table_dir)


def load_lm_model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """Latest stored model (trained+published on first use): (c12 frame
    keyed gh, c1 frame keyed ph, vctx scalar)."""
    from ..sinks.versioned import ensure_snapshot, read_snapshot

    table_dir = lm_model_dir(sf_dir)
    ensure_snapshot(table_dir, lambda: build_lm_model(spark, sf_dir, table_dir))
    snap = read_snapshot(spark, table_dir)
    c12 = snap.filter(F.col("kind") == "g").select(
        F.col("key").alias("gh"), F.col("cnt").alias("c12")
    )
    c1 = snap.filter(F.col("kind") == "p").select(
        F.col("key").alias("ph"), F.col("cnt").alias("c1")
    )
    vrow = snap.filter(F.col("kind") == "v").collect()  # 1 row — bounded
    vctx = int(vrow[0]["cnt"]) if vrow else 0
    return c12, c1, vctx


def lm_doc_scores(
    docs: DataFrame,
    c12: DataFrame,
    c1: DataFrame,
    vctx: int | None,
    vctx_df: DataFrame | None = None,
) -> DataFrame:
    """Per-doc integer-bits surprisal of `docs` (doc_id, source, text)
    against the FROZEN counts tables: (doc_id, source, split,
    n_bigrams, doc_bits, flagged). Shared by the stored-model batch
    query and the streaming scorer — stateless apart from the two
    frozen-table joins, so per-trigger streaming output is exactly the
    batch scoring of that trigger's docs."""
    toks = tokens(F.col("text"))
    stream = (
        docs.select(
            "doc_id", "source", _split_col().alias("split"), toks.alias("toks")
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "source",
            "split",
            F.explode(word_ngrams(F.col("toks"), 2)).alias("g"),
        )
        .select(
            "doc_id",
            "source",
            "split",
            _gh60(F.col("g")).alias("gh"),
            _gh60(F.split(F.col("g"), " ").getItem(0)).alias("ph"),
        )
    )
    # No broadcast hint: the counts tables are vocabulary-sized —
    # small at test SF (AQE broadcasts them on its own) but a 100 TB
    # corpus's bigram vocabulary can exceed the broadcast budget, and
    # then the right plan is a hash join on the 60-bit key.
    # vctx arrives either as a python int (frozen snapshot path — the
    # scalar is one stored row) or as a 1-row aggregate frame riding a
    # broadcast cross-join (incremental path, r11: fuses the derived
    # context-vocabulary count into the scoring job — no separate
    # count() pass; the bigram_lm_score pattern).
    scored = stream.join(c12, "gh", "left").join(c1, "ph", "left")
    if vctx_df is not None:
        scored = scored.crossJoin(F.broadcast(vctx_df))
        vctx_col = F.col("vctx")
    else:
        vctx_col = F.lit(vctx)
    scored = (
        scored
        .select(
            "doc_id",
            "source",
            "split",
            F.length(F.bin(F.coalesce(F.col("c12"), F.lit(0)) + 1))
            .cast("bigint")
            .alias("lo_bits"),
            F.length(F.bin(F.coalesce(F.col("c1"), F.lit(0)) + vctx_col))
            .cast("bigint")
            .alias("hi_bits"),
        )
    )
    return scored.groupBy("doc_id", "source", "split").agg(
        F.sum(F.col("hi_bits") - F.col("lo_bits")).cast("bigint").alias("doc_bits"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    ).withColumn(
        "flagged",
        F.col("doc_bits") * 100 > F.lit(LM_FLAG_CENTIBITS) * F.col("n_bigrams"),
    )


@register(
    "bigram_lm_frozen_score",
    oracle=_LM_ROLLUP_SQL,
    doc="The stored-model path of the LM filter: counts tables "
    "published once as a versioned snapshot (build_lm_model — the "
    "build_pq_index protocol), corpus scored by joining the FROZEN "
    "tables; the model is a pure function of the train split, so the "
    "oracle's from-scratch retrain must hash-match the stored-model "
    "scoring — which is the integrity check on the snapshot itself. "
    "This is the production shape at 100 TB: train once, score every "
    "ingest batch without re-counting the corpus.",
    tags=("text", "lm", "quality", "incremental", "extension"),
)
def bigram_lm_frozen_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bigram_lm_score's rollup, computed from the stored snapshot."""
    c12, c1, vctx = load_lm_model(spark, sf_dir)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    docbits = lm_doc_scores(d.select("doc_id", "source", "text"), c12, c1, vctx)
    return (
        docbits.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.sum("doc_bits").cast("bigint").alias("total_bits"),
            (
                F.sum("doc_bits").cast("double")
                / F.sum("n_bigrams").cast("double")
            ).alias("avg_bits"),
            F.count(F.when(F.col("flagged"), 1)).cast("bigint").alias("n_flagged"),
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# Incremental training: bigram counts are ADDITIVE sufficient
# statistics (like the quality probe's X^T X moments), so the frozen
# corpus is a stored counts table and a delta batch folds in by exact
# BIGINT addition — bit-identical to a full retrain, which is exactly
# what the oracle replays. vctx is NOT stored: it is the number of
# distinct context rows, derived from the folded c1 table, so the
# fold never needs to merge a distinct-count scalar.
# ---------------------------------------------------------------------------


def lm_counts_dir(sf_dir: str) -> str:
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", prefix=f"lmcounts{LM_MODELV}_")


def _train_counts(stream: DataFrame) -> DataFrame:
    """(kind, key, cnt) count rows of a bigram stream's train slice."""
    train = stream.filter(F.col("split") == "train").select("gh", "ph")
    c12 = train.groupBy("gh").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).select(F.lit("g").alias("kind"), F.col("gh").alias("key"), "cnt")
    c1 = train.groupBy("ph").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).select(F.lit("p").alias("kind"), F.col("ph").alias("key"), "cnt")
    return c12.unionByName(c1)


def build_lm_corpus_counts(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Count the CORPUS slice's train bigrams and publish (kind, key,
    cnt) as v1."""
    from ..sinks.versioned import write_corpus_snapshot
    from .dedup import is_delta_doc

    stream = _bigram_stream(spark, sf_dir).filter(~is_delta_doc("doc_id"))
    return write_corpus_snapshot(_train_counts(stream), table_dir)


def extend_lm_counts(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Fold the delta batch's train counts into snapshot v+1. Returns
    the new version."""
    from ..sinks.versioned import fold_delta_snapshot
    from .dedup import is_delta_doc

    stream = _bigram_stream(spark, sf_dir).filter(is_delta_doc("doc_id"))
    return fold_delta_snapshot(spark, table_dir, _train_counts(stream))


def _folded_model(counts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Sum tagged count rows into (c12, c1) frames."""
    summed = counts.groupBy("kind", "key").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    c12 = summed.filter(F.col("kind") == "g").select(
        F.col("key").alias("gh"), F.col("cnt").alias("c12")
    )
    c1 = summed.filter(F.col("kind") == "p").select(
        F.col("key").alias("ph"), F.col("cnt").alias("c1")
    )
    return c12, c1


@register(
    "incremental_lm_score",
    oracle=_LM_ROLLUP_SQL,
    doc="Incremental LM training: the frozen corpus-slice counts "
    "snapshot (build_lm_corpus_counts) plus the delta batch's fresh "
    "counts, summed by exact BIGINT addition — bit-identical to a "
    "full retrain (counts are additive sufficient statistics; the "
    "context vocabulary is derived from the folded table, never a "
    "merged scalar), which is exactly what the oracle replays. At "
    "100 TB the nightly cost is the delta tokenization plus a "
    "vocabulary-sized index scan — the corpus is never re-counted. "
    "The fold itself (extend_lm_counts, idempotent is_delta "
    "replacement) is driven by the pipeline 'lm' incremental kind.",
    tags=("text", "lm", "quality", "incremental", "extension"),
)
def incremental_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bigram_lm_score's rollup, computed from frozen corpus counts +
    fresh delta counts (the refreshed model, pre-fold)."""
    from ..sinks.versioned import ensure_snapshot, read_corpus_snapshot
    from .dedup import is_delta_doc

    table_dir = lm_counts_dir(sf_dir)
    ensure_snapshot(
        table_dir, lambda: build_lm_corpus_counts(spark, sf_dir, table_dir)
    )
    corpus_counts = read_corpus_snapshot(spark, table_dir)
    delta_stream = _bigram_stream(spark, sf_dir).filter(is_delta_doc("doc_id"))
    fresh = _train_counts(delta_stream)
    from ..registry import track_persist

    # r11 (guide §1.2 remove passes): persist the FOLDED counts frame —
    # the shared base of c12, c1 AND the vocab count — so the delta
    # tokenize + fold runs once (previously c1 was persisted but c12
    # re-derived the whole fold, and a separate count() job paid a
    # third pass). The context vocabulary rides the scoring job as a
    # 1-row broadcast aggregate (vctx_df), so the query is ONE job.
    summed = track_persist(
        corpus_counts.unionByName(fresh)
        .groupBy("kind", "key")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    c12 = summed.filter(F.col("kind") == "g").select(
        F.col("key").alias("gh"), F.col("cnt").alias("c12")
    )
    c1 = summed.filter(F.col("kind") == "p").select(
        F.col("key").alias("ph"), F.col("cnt").alias("c1")
    )
    vn = c1.agg(F.count(F.lit(1)).cast("bigint").alias("vctx"))
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    docbits = lm_doc_scores(
        d.select("doc_id", "source", "text"), c12, c1, None, vctx_df=vn
    )
    return (
        docbits.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.sum("doc_bits").cast("bigint").alias("total_bits"),
            (
                F.sum("doc_bits").cast("double")
                / F.sum("n_bigrams").cast("double")
            ).alias("avg_bits"),
            F.count(F.when(F.col("flagged"), 1)).cast("bigint").alias("n_flagged"),
        )
        .orderBy("source", "split")
    )
