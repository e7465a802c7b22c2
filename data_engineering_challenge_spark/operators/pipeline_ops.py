"""Training-data pipeline compositions over `documents`: split
decontamination, repetition profiling, deterministic mixture sampling,
PII scrubbing, and a dedup-savings report.

North-star extensions (SURVEY.md §7.4) beyond the reference's surface
(`/root/reference/src/utils/data_validation.py` stops at per-column
regex contracts): these are the corpus-level operations an LLM
training-data pipeline runs between raw ingest and tokenization.

Scale posture shared by every query here:
- one pass over `documents` per side, all expressions JVM-side
  (codegen), no Python in any hot path;
- joins happen on fixed-width md5-prefix gram hashes, never on raw
  n-gram strings — shuffle bytes per gram are constant, independent of
  gram length;
- boilerplate guard: grams above a train-side document frequency cap
  are excluded *identically* in engine and oracle, so hot-gram shuffle
  skew is bounded by construction (same pattern as the MinHash band
  cap in `dedup.py`);
- outputs are aggregated summaries (per test-doc, per lang, per
  cluster size) — result sizes track entity counts, not pair spaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.text import NORM_SQL as _NORM_SQL
from ..functions.text import normalize_text, tokens, word_ngrams
from ..registry import register

# ---------------------------------------------------------------------------
# shared deterministic hashing helpers (engine-identical by construction)

N_SPLIT_BUCKETS = 10  # 8/1/1 — must agree with text_analysis.stable_split


def _md5_bucket(col, n_buckets: int, salt: str = ""):
    """First-8-hex-digits-of-md5 mod n — the partition-stable,
    engine-independent bucketing primitive (twin of the `('0x' ||
    substr(md5(..), 1, 8))::BIGINT % n` DuckDB form)."""
    keyed = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    return (
        F.conv(F.substring(F.md5(keyed.cast("binary")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _bucket_sql(expr: str, n_buckets: int, salt: str = "") -> str:
    keyed = f"'{salt}' || CAST({expr} AS VARCHAR)" if salt else f"CAST({expr} AS VARCHAR)"
    return f"('0x' || substr(md5({keyed}), 1, 8))::BIGINT % {n_buckets}"


_SPLIT_CASE_SQL = (
    f"CASE WHEN {_bucket_sql('doc_id', N_SPLIT_BUCKETS)} < 8 THEN 'train' "
    f"WHEN {_bucket_sql('doc_id', N_SPLIT_BUCKETS)} = 8 THEN 'val' "
    "ELSE 'test' END"
)


def _split_col():
    b = _md5_bucket(F.col("doc_id"), N_SPLIT_BUCKETS)
    return F.when(b < 8, "train").when(b == 8, "val").otherwise("test")


_TOK_SQL = f"string_split({_NORM_SQL}, ' ')"

# ---------------------------------------------------------------------------
# 1. split decontamination

DECON_NGRAM = 8  # industry-standard contamination gram width
MAX_GRAM_TRAIN_DF = 50  # grams in more train docs than this are boilerplate
# (a language property, not a corpus-size property — see SCALING.md
# "Threshold provenance" for the calibration corpus + re-tuning rule)


def _gram_sql(n: int) -> str:
    """DuckDB list of space-joined word n-grams (twin of word_ngrams)."""
    return (
        f"list_transform(range(1, len({_TOK_SQL}) - {n - 1} + 1), "
        f"i -> array_to_string({_TOK_SQL}[i:i+{n - 1}], ' '))"
    )


@register(
    "decontaminate_split",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, {_SPLIT_CASE_SQL} AS split, unnest(list_distinct({_gram_sql(DECON_NGRAM)})) AS gram
            FROM documents
            WHERE len({_TOK_SQL}) >= {DECON_NGRAM}
        ),
        hashed AS (
            SELECT doc_id, split,
                   ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
            FROM grams
        ),
        train_ok AS (
            SELECT doc_id AS train_doc, gh FROM hashed WHERE split = 'train'
            QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {MAX_GRAM_TRAIN_DF}
        )
        SELECT t.doc_id AS test_doc,
               COUNT(DISTINCT tr.train_doc) AS n_train_docs,
               COUNT(DISTINCT t.gh) AS n_shared_grams
        FROM hashed t JOIN train_ok tr USING (gh)
        WHERE t.split = 'test'
        GROUP BY 1
        ORDER BY 1
    """,
    doc="Train/test contamination audit: test docs sharing any "
    f"{DECON_NGRAM}-gram with a train doc under the stable 8/1/1 split. "
    "THE pre-release gate for a training corpus — leaked eval documents "
    "surface here. Grams are deduped per doc, joined on 60-bit md5 "
    "prefixes (8-byte shuffle key), and grams above a train-df cap "
    "are excluded as boilerplate on both sides, bounding bucket skew.",
    tags=("text", "dedup", "sampling", "extension"),
)
def decontaminate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    def grams_side(keep_split: str, id_alias: str) -> DataFrame:
        # Each side re-runs the tokenize → 8-gram → hash chain over its
        # own scan. Measured at sf10 (20.5M postings): recomputing the
        # chain twice beats persisting it once — MEMORY_AND_DISK
        # materialization alone cost 26 s (serializing the postings into
        # the block store) vs ~10 s per recompute, and the persisted plan
        # totaled 37 s warm against 21-22 s for this one. At cluster
        # scale the trade tilts further: a cached 100-TB postings frame
        # spills to executor disk, while the recompute is an
        # embarrassingly parallel scan. gh is the md5 60-bit prefix as
        # BIGINT — the oracle mirrors the identical 60-bit key
        # (('0x' || substr(md5, 1, 15))::BIGINT), so both engines share
        # one collision surface, at 8 shuffle bytes instead of a
        # 20-byte string.
        d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
            load_table(spark, sf_dir, "documents"), spark, "doc_id"
        )
        tok = tokens(F.col("text"))
        return (
            d.select("doc_id", _split_col().alias("split"), tok.alias("toks"))
            .filter((F.col("split") == keep_split) & (F.size("toks") >= DECON_NGRAM))
            .select(
                F.col("doc_id").alias(id_alias),
                F.explode(
                    F.array_distinct(word_ngrams(F.col("toks"), DECON_NGRAM))
                ).alias("gram"),
            )
            .select(
                id_alias,
                F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10)
                .cast("bigint")
                .alias("gh"),
            )
        )

    train = grams_side("train", "train_doc")
    test = grams_side("test", "test_doc")
    # boilerplate cap: the window count partitions by gh — exactly the
    # join key below — so Catalyst reuses the one exchange for both the
    # cap and the test⋈train join (verified: a single train-side
    # exchange in the executed plan). A groupBy-df + semi-join variant
    # was measured SLOWER at sf10 (38 s vs 24 s): 8-gram hashes are
    # near-unique (~18M distinct for 20M postings), so the df table is
    # postings-sized and its broadcast is a 600 MB relation, not a
    # vocab-sized filter.
    from pyspark.sql import Window

    train_ok = (
        train.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("gh")))
        .filter(F.col("df") <= MAX_GRAM_TRAIN_DF)
        .drop("df")
    )
    return (
        test.join(train_ok, "gh")
        .groupBy("test_doc")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("gh").alias("n_shared_grams"),
        )
        .orderBy("test_doc")
    )


# ---------------------------------------------------------------------------
# 2. repetition profile (Gopher-style repetition quality signals)


@register(
    "repetition_profile",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_TOK_SQL} AS toks, {_gram_sql(2)} AS g2
            FROM documents
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_max(list_transform(list_distinct(toks),
                        x -> len(list_filter(toks, tk -> tk = x)))) / len(toks)
                   AS top_token_frac,
               CASE WHEN len(g2) > 0
                    THEN 1e0 - len(list_distinct(g2)) / len(g2)
                    ELSE 0e0 END AS dup_2gram_frac
        FROM t
        ORDER BY doc_id
    """,
    doc="Repetition quality signals per document: most-frequent-token "
    "fraction and duplicate-2gram fraction — the Gopher/RefinedWeb "
    "repetition filters. Pure array expressions per row (no shuffle, "
    "no explode): cost is a scan, output is one row per doc.",
    tags=("text", "extension"),
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    # tokenize once; derive the bigram list from the materialized array
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", "toks", word_ngrams(F.col("toks"), 2).alias("g2")
    )
    top_frac = F.array_max(
        F.transform(
            F.array_distinct(F.col("toks")),
            lambda x: F.size(F.filter(F.col("toks"), lambda tk: tk == x)),
        )
    ) / F.size("toks")
    dup2 = F.when(
        F.size("g2") > 0,
        F.lit(1.0) - F.size(F.array_distinct(F.col("g2"))) / F.size("g2"),
    ).otherwise(F.lit(0.0))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        top_frac.alias("top_token_frac"),
        dup2.alias("dup_2gram_frac"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# 3. deterministic mixture sampling

MIX_RATES = {"en": 40, "zh": 80}  # keep-%; unlisted languages keep 100
_MIX_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_RATES.items())
    + " ELSE 100 END"
)


@register(
    "sample_mixture",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_total,
               COUNT(*) FILTER (
                   WHERE {_bucket_sql('doc_id', 100, salt='mix:')} < {_MIX_CASE_SQL}
               ) AS n_kept,
               COUNT(*) FILTER (
                   WHERE {_bucket_sql('doc_id', 100, salt='mix:')} < {_MIX_CASE_SQL}
               ) / COUNT(*) AS kept_frac
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc="Deterministic per-language mixture downsampling audit "
    "(en→40%, zh→80%, rest 100%): content-hash thresholding, so the "
    "SAME docs are kept under any partitioning, re-run, or engine — "
    "the reproducibility property seeded sample() lacks. Output is the "
    "per-language keep audit a mixture spec is validated against.",
    tags=("sampling", "extension"),
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    keep_pct = F.when(F.col("lang") == "en", 40).when(F.col("lang") == "zh", 80).otherwise(100)
    kept = _md5_bucket(F.col("doc_id"), 100, salt="mix:") < keep_pct
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
        )
        .select(
            "lang",
            "n_total",
            "n_kept",
            (F.col("n_kept") / F.col("n_total")).alias("kept_frac"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# 4. PII scrubbing

# Dialect-portable patterns (identical semantics in Java regex and RE2:
# no lookarounds, no \d-class unicode ambiguity, explicit classes only).
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
# digits, parens, dot, space, dash (dash last in the class — no escape
# needed in either dialect); 9+ chars total, digit-anchored both ends
PII_PHONE = "[0-9][0-9(). -]{7,}[0-9]"


@register(
    "pii_scrub",
    oracle=f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
               md5(regexp_replace(regexp_replace(text,
                       '{PII_EMAIL}', '<EMAIL>', 'g'),
                       '{PII_PHONE}', '<PHONE>', 'g')) AS scrub_fp
        FROM documents
        ORDER BY doc_id
    """,
    doc="PII redaction pass: count + replace email/phone-shaped spans, "
    "fingerprint the scrubbed text (md5 — engine-identical). Patterns "
    "are restricted to the Java-regex ∩ RE2 dialect so engine and "
    "oracle scrub identically; scrub runs as two codegen'd "
    "regexp_replace ops in one scan. Planted-PII semantics are pinned "
    "in tests/test_pipeline_ops.py (the synthetic corpus is PII-free).",
    tags=("text", "quality", "extension"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0))).cast(
            "long"
        ).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), F.lit(0))).cast(
            "long"
        ).alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
                PII_PHONE,
                "<PHONE>",
            ).cast("binary")
        ).alias("scrub_fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# 5. sequence packing audit

SEQ_BUDGET = 512  # tokens per packed training sequence


@register(
    "pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, len({_TOK_SQL}) AS n_tokens FROM documents
        ),
        s AS (
            SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS start_tok
            FROM t
        )
        SELECT source,
               CAST(start_tok // {SEQ_BUDGET} AS BIGINT) AS seq_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        FROM s
        GROUP BY 1, 2
        ORDER BY source, seq_id
    """,
    doc=f"Sequence-packing audit: concat-then-chunk packing of each "
    f"source shard's token stream into {SEQ_BUDGET}-token training "
    "sequences (doc assigned to the sequence its first token lands "
    "in), reported as docs/tokens per sequence. Packing runs per "
    "source shard — the running-sum window parallelizes across "
    "shards, where a single global pack would serialize the corpus "
    "through one partition.",
    tags=("text", "sampling", "extension"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.withColumn("start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        s.groupBy(
            "source",
            F.floor(F.col("start_tok") / SEQ_BUDGET).cast("long").alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy("source", "seq_id")
    )


# ---------------------------------------------------------------------------
# 6. dedup savings report


@register(
    "dedup_savings",
    oracle=f"""
        WITH n AS (SELECT doc_id, n_chars, {_NORM_SQL} AS norm FROM documents),
        fp AS (
            SELECT doc_id, n_chars,
                   CASE WHEN length(norm) >= 8 THEN
                       list_min(list_transform(range(1, length(norm) - 6),
                                i -> md5(norm[i:i+7])))
                   ELSE md5(norm) END AS fp
            FROM n
        ),
        clusters AS (
            SELECT fp,
                   COUNT(*) AS cluster_size,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_total,
                   CAST(MIN(n_chars) AS BIGINT) AS chars_kept
            FROM fp GROUP BY fp
        )
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
               CAST(SUM(chars_total - chars_kept) AS BIGINT) AS chars_dropped
        FROM clusters
        GROUP BY cluster_size
        ORDER BY cluster_size
    """,
    doc="Dedup savings report: near-dup-block cluster-size histogram "
    "with the byte savings of keeping one canonical doc per block. "
    "Blocking key = min character-8-shingle fingerprint (the same "
    "near-dup key dedup_clusters edges on), so the report prices the "
    "near-dup mass, not just byte-identical copies. Two chained hash "
    "aggs (fp, then size); shuffle volume is |distinct fingerprints| "
    "then |distinct sizes|, never raw docs twice.",
    tags=("dedup", "extension"),
)
def dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.length("norm") - 7),
        lambda i: F.md5(F.col("norm").substr(i, F.lit(8)).cast("binary")),
    )
    fp = d.select("doc_id", "n_chars", normalize_text(F.col("text")).alias("norm")).select(
        "doc_id",
        "n_chars",
        F.when(F.length("norm") >= 8, F.array_min(shingle_hashes))
        .otherwise(F.md5(F.col("norm").cast("binary")))
        .alias("fp"),
    )
    clusters = fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_chars").alias("chars_total"),
        F.min("n_chars").alias("chars_kept"),
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            F.sum(F.col("chars_total") - F.col("chars_kept")).alias("chars_dropped"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# 8. fuzzy (near-dup) split decontamination

FUZZY_DECON_EST_JACCARD = 0.5  # same bar as minhash_lsh_pairs

from .dedup import _MINHASH_CAND_SQL  # noqa: E402 — shared oracle CTE chain


@register(
    "fuzzy_decontaminate",
    oracle=f"""
        WITH {_MINHASH_CAND_SQL},
        splits AS (
            SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents
        ),
        crossed AS (
            SELECT e.doc_a, e.doc_b, e.est_jaccard,
                   sa.split AS split_a, sb.split AS split_b
            FROM est e
            JOIN splits sa ON sa.doc_id = e.doc_a
            JOIN splits sb ON sb.doc_id = e.doc_b
            WHERE (sa.split = 'train' AND sb.split = 'test')
               OR (sa.split = 'test' AND sb.split = 'train')
        )
        SELECT CASE WHEN split_a = 'test' THEN doc_a ELSE doc_b END AS test_doc,
               CASE WHEN split_a = 'test' THEN doc_b ELSE doc_a END AS train_doc,
               est_jaccard
        FROM crossed
        WHERE est_jaccard >= {FUZZY_DECON_EST_JACCARD}
        ORDER BY test_doc, train_doc
    """,
    doc="Near-duplicate train/test contamination: MinHash-LSH "
    "candidate pairs (the exact machinery of minhash_lsh_pairs — same "
    "signatures, banding, hot-bucket cap) restricted to pairs that "
    "CROSS the 8/1/1 split, at estimated Jaccard >= "
    f"{FUZZY_DECON_EST_JACCARD}. Complements decontaminate_split: the "
    "exact 8-gram audit catches verbatim leakage, this catches "
    "paraphrased/near-dup leakage that shares shingles but no "
    "contiguous 8-gram. Scale: identical to minhash_lsh_pairs "
    "(banded shuffle, capped buckets) plus one vocabulary-thin split "
    "join — the linear-time fuzzy path at any corpus size.",
    tags=("text", "dedup", "lsh", "sampling", "extension"),
)
def fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .banding import lsh_candidates, scored_pairs
    from .dedup import _minhash_signatures

    sig = _minhash_signatures(spark, sf_dir)
    pairs = scored_pairs(lsh_candidates(sig), sig, FUZZY_DECON_EST_JACCARD)
    d = load_table(spark, sf_dir, "documents")
    splits = d.select("doc_id", _split_col().alias("split"))
    crossed = (
        pairs.join(
            splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter(
            ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
            | ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
        )
    )
    return (
        crossed.select(
            F.when(F.col("split_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc"),
            F.when(F.col("split_a") == "test", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            "est_jaccard",
        )
        .orderBy("test_doc", "train_doc")
    )


@register(
    "decontaminate_apply",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, {_SPLIT_CASE_SQL} AS split, unnest(list_distinct({_gram_sql(DECON_NGRAM)})) AS gram
            FROM documents
            WHERE len({_TOK_SQL}) >= {DECON_NGRAM}
        ),
        hashed AS (
            SELECT doc_id, split,
                   ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
            FROM grams
        ),
        train_ok AS (
            SELECT doc_id AS train_doc, gh FROM hashed WHERE split = 'train'
            QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {MAX_GRAM_TRAIN_DF}
        ),
        contam AS (
            SELECT DISTINCT tr.train_doc
            FROM hashed t JOIN train_ok tr USING (gh)
            WHERE t.split = 'test'
        ),
        train_docs AS (
            SELECT doc_id, source, text FROM documents
            WHERE {_SPLIT_CASE_SQL} = 'train'
        )
        SELECT d.source,
               COUNT(*)::BIGINT AS train_docs_total,
               CAST(COUNT(c.train_doc) AS BIGINT) AS train_docs_dropped,
               CAST(COUNT(*) - COUNT(c.train_doc) AS BIGINT) AS train_docs_kept,
               CAST(COALESCE(SUM(('0x' || substr(md5(d.text), 1, 15))::BIGINT
                                 ::DECIMAL(38,0)) FILTER (WHERE c.train_doc IS NULL), 0)
                    % 1099511627776 AS BIGINT) AS kept_content_sum
        FROM train_docs d LEFT JOIN contam c ON d.doc_id = c.train_doc
        GROUP BY d.source ORDER BY d.source
    """,
    doc="The APPLY half of split decontamination (GPT-3/Lee et al. "
    "practice: the eval set is fixed, so contaminated TRAIN docs are "
    "dropped): materialize the decontaminated train split by removing "
    "every train doc sharing any capped 8-gram with a test doc, and "
    "pin WHICH docs survived per source with the order-independent "
    "kept-set content checksum (sum of 60-bit text hashes mod 2^40, "
    "exact decimal accumulation). Same gh join and boilerplate cap as "
    "decontaminate_split — the audit and the cut share one plan shape.",
    tags=("text", "dedup", "sampling", "extension"),
)
def decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, train_docs_total, train_docs_dropped, train_docs_kept,
    kept_content_sum) of the decontaminated train split."""
    from pyspark.sql import Window

    def grams_side(keep_split: str, id_alias: str) -> DataFrame:
        d = spread_scan(
            load_table(spark, sf_dir, "documents"), spark, "doc_id"
        )
        tok = tokens(F.col("text"))
        return (
            d.select("doc_id", _split_col().alias("split"), tok.alias("toks"))
            .filter((F.col("split") == keep_split) & (F.size("toks") >= DECON_NGRAM))
            .select(
                F.col("doc_id").alias(id_alias),
                F.explode(
                    F.array_distinct(word_ngrams(F.col("toks"), DECON_NGRAM))
                ).alias("gram"),
            )
            .select(
                id_alias,
                F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10)
                .cast("bigint")
                .alias("gh"),
            )
        )

    train_ok = (
        grams_side("train", "train_doc")
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("gh")))
        .filter(F.col("df") <= MAX_GRAM_TRAIN_DF)
        .drop("df")
    )
    contam = (
        grams_side("test", "test_doc")
        .join(train_ok, "gh")
        .select("train_doc")
        .distinct()
        .withColumn("is_c", F.lit(1))
    )
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    train_docs = d.filter(_split_col() == "train").select("doc_id", "source", "text")
    gh_content = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    return (
        train_docs.join(
            contam.withColumnRenamed("train_doc", "doc_id"), "doc_id", "left"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("train_docs_total"),
            F.count("is_c").cast("bigint").alias("train_docs_dropped"),
            (F.count(F.lit(1)) - F.count("is_c")).cast("bigint").alias("train_docs_kept"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("is_c").isNull(), gh_content)),
                    F.lit(0).cast("decimal(38,0)"),
                )
                % F.lit(1099511627776)
            )
            .cast("bigint")
            .alias("kept_content_sum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# 9. training-shard export planning: hash sharding + balance audit

N_EXPORT_SHARDS = 16


@register(
    "shard_balance_audit",
    oracle=f"""
        WITH d AS (
            SELECT ('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % {N_EXPORT_SHARDS} AS shard_id,
                   len({_TOK_SQL})::BIGINT AS n_tokens,
                   ('0x' || substr(md5(text), 1, 15))::BIGINT AS th
            FROM documents
        ),
        per AS (
            SELECT shard_id,
                   COUNT(*)::BIGINT AS n_docs,
                   SUM(n_tokens)::BIGINT AS n_tokens,
                   CAST(SUM(th::DECIMAL(38,0)) % 1099511627776 AS BIGINT)
                       AS content_sum
            FROM d GROUP BY shard_id
        )
        SELECT shard_id, n_docs, n_tokens, content_sum,
               CAST(n_tokens AS DOUBLE) * {N_EXPORT_SHARDS}
                   / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS load_ratio
        FROM per ORDER BY shard_id
    """,
    doc="Training-shard export planning: docs hash-assigned to "
    f"{N_EXPORT_SHARDS} shards (salted content-hash of doc_id — "
    "embarrassingly parallel, no global sort, THE 100 TB sharding "
    "strategy), audited per shard with doc/token counts, an "
    "order-independent content checksum (the shard manifest), and the "
    "token-load ratio vs the perfectly-balanced ideal (1.0). The audit "
    "is the proof hash sharding balances: at corpus scale the ratio "
    "concentrates around 1 by law of large numbers.",
    tags=("text", "sampling", "sink", "extension"),
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard_id, n_docs, n_tokens, content_sum, load_ratio) under
    salted hash sharding of documents into N_EXPORT_SHARDS."""
    from pyspark.sql import Window

    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    th = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    per = (
        d.select(
            _md5_bucket(F.col("doc_id"), N_EXPORT_SHARDS, salt="shard").alias("shard_id"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
            th.alias("th"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            (F.sum("th") % F.lit(1099511627776)).cast("bigint").alias("content_sum"),
        )
    )
    # 16-row frame: the unpartitioned window is a no-op at scale.
    w = Window.partitionBy()
    return per.select(
        "shard_id",
        "n_docs",
        "n_tokens",
        "content_sum",
        (
            F.col("n_tokens").cast("double")
            * N_EXPORT_SHARDS
            / F.sum("n_tokens").over(w).cast("double")
        ).alias("load_ratio"),
    ).orderBy("shard_id")
