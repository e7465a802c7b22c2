"""Deduplication operators over `documents`: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

North-star extensions (SURVEY.md §7.4) generalizing the reference's
duplicate-group audit (notebook cells 26-29, the 76-dup-group finding
at README.md:192) to the approximate dedup an LLM-data pipeline needs.

All four are *oracle-checkable*: every hash derives from md5/sha256 (identical
bytes-in/hex-out in Spark and DuckDB), minima over uniform hex hashes
are valid min-hashes, and ratios stay raw double divisions of exact
integers — so the approximate algorithms produce bit-identical results
in both engines.

Scale design (100 TB posture):
- Exact dedup: hash-groupBy on a 32-hex fingerprint — one shuffle of
  (fp, doc_id), never the document bodies.
- N-gram Jaccard is the *verifier*, quadratic in the worst case; the
  scale path is MinHash+LSH: O(docs × shingles) signature pass, then a
  shuffle keyed on (band, band_hash) so only same-bucket docs pair up.
  Hot buckets (boilerplate shingles) are the skew risk — AQE skew-join
  handles moderate cases; a band-hash frequency cap is the escape hatch.
- SimHash: 60-bit fingerprint (fits a signed long in both engines),
  candidate pairs via 4×15-bit chunk banding (pigeonhole-complete for
  hamming ≤ 3), exact popcount verify.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import load_table, spread_scan
from ..functions.text import normalize_text, tokens, word_ngrams
from ..registry import register
from .banding import (
    MAX_BAND_BUCKET,
    MINHASH_PAIRS_SQL,
    NUM_MINHASH,
    banded_self_pairs,
    cap_hot_buckets,
    fp_pairs_cte,
    lsh_candidates,
    minhash_bands,
    scored_pairs,
)

from ..functions.text import NORM_SQL as _NORM_SQL  # noqa: E402 — oracle twin of normalize_text

# ngram_jaccard_pairs is the EXACT verifier and is candidate-quadratic
# by construction when gram document frequency grows linearly with the
# corpus (fixed-vocabulary corpora — the round-6 verdict's one weak
# flag). The gate estimates the raw candidate volume of the prefix
# self-join — sum over prefix-hash h of C(df_pfx(h), 2) — with one
# cheap aggregate over the already-materialized prefix frame BEFORE
# launching the join, and fails fast above the bound with a routing
# message instead of starting a shuffle that cannot finish. Provenance
# (SCALING.md "Threshold provenance"): measured raw estimates are
# 122k at sf0.1 (5k docs) and 16.2M at sf1 (50k docs) on the synthetic
# fixed-vocab corpus — ~130x per decade, so sf10-full extrapolates to
# ~1.6e9 and sf100-full to ~1.6e11. The 1e8 default passes every SF
# the exact verifier is meant for (<= sf1-scale corpora and the
# content-hash samples tools/sample_docs.py writes for bigger SFs)
# and rejects the decade where the verify join's ~3 KB/pair array
# shuffle would exceed ~300 GB. Env-overridable for clusters that can
# afford more.
NGRAM_MAX_CANDIDATES = 100_000_000
SIMHASH_BITS = 60  # banding.FP_CHUNKS x FP_CHUNK_BITS; < 2^63 so it fits BIGINT exactly
SIMHASH_MAX_HAMMING = 3  # provenance: SCALING.md "Threshold provenance"


def _distinct_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    grams = word_ngrams(tokens(F.col("text")), 3)
    return d.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))


def _reused(df: DataFrame) -> DataFrame:
    """Materialize a sub-frame that downstream plans consume 2-4 times
    (LSH signatures, exploded shingles): without this Spark re-derives
    the full tokenize/hash/aggregate lineage per consumer. At cluster
    scale the same role is played by writing signatures to a parquet
    stage; MEMORY_AND_DISK is the local analog (spills, never OOMs).
    Routed through the registry's persist ledger: the frame must stay
    cached while the caller collects, so cleanup is deferred to the
    next registered-query invocation."""
    from ..registry import track_persist

    return track_persist(df, StorageLevel.MEMORY_AND_DISK)


_GRAMS_SQL = f"""
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(w) - 1),
                   i -> array_to_string(w[i:i+2], ' ')))) AS gram
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents)
"""


@register(
    "exact_dedup",
    oracle=f"""
        SELECT md5({_NORM_SQL}) AS content_fp,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY keep_id
    """,
    doc="Exact dedup by content fingerprint: md5(normalized text) → "
    "group → keep lowest doc_id. Shuffles 40-byte keys, not documents.",
    tags=("dedup", "extension"),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(normalize_text(F.col("text")).cast("binary"))
    return (
        d.select(fp.alias("content_fp"), "doc_id")
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


# List-form gram CTE twin of _GRAMS_SQL: per-doc SORTED array of
# 60-bit md5-prefix gram hashes. Hashing grams to longs before any
# shuffle is the dedup_savings md5-prefix-join pattern: every exchange
# (document frequency agg, prefix rank, candidate self-join) moves 8
# bytes instead of ~20-char strings, and the exact verify becomes a
# long-array intersect. md5 hex bytes are identical in both engines;
# 15 hex chars = 60 bits < 2^63 so the BIGINT parse is exact.
_HGRAMS_SQL = f"""
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   list_transform(range(1, len(w) - 1),
                                  i -> array_to_string(w[i:i+2], ' ')),
                   g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS hs
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents)
"""


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
        WITH docs AS ({_HGRAMS_SQL}),
        sized AS (SELECT doc_id, hs, len(hs) AS n FROM docs),
        g AS (SELECT doc_id, n, unnest(hs) AS h FROM sized),
        df AS (SELECT h, COUNT(*) AS dfreq FROM g GROUP BY h),
        ranked AS (
            SELECT g.doc_id, g.h, g.n,
                   ROW_NUMBER() OVER (
                       PARTITION BY g.doc_id ORDER BY df.dfreq, g.h
                   ) AS pos
            FROM g JOIN df USING (h)
        ),
        pfx AS (
            SELECT doc_id, h, n, pos FROM ranked
            WHERE pos <= n - ((4 * n + 4) // 5) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id
            WHERE 5 * LEAST(a.n, b.n) >= 4 * GREATEST(a.n, b.n)
              AND 1 + LEAST(a.n - a.pos, b.n - b.pos)
                    >= (4 * (a.n + b.n) + 8) // 9
        ),
        ver AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.hs, sb.hs)) AS n_common,
                   sa.n AS na, sb.n AS nb
            FROM cand
            JOIN sized sa ON sa.doc_id = doc_a
            JOIN sized sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b,
               n_common / (na + nb - n_common) AS jaccard
        FROM ver
        WHERE n_common / (na + nb - n_common) >= 0.8
        ORDER BY doc_a, doc_b
    """,
    doc="Exact word-3-gram Jaccard near-dup pairs (threshold 0.8) on "
    "60-bit md5 gram hashes, via prefix filtering (AllPairs/PPJoin): "
    "candidate generation self-joins only each doc's rarest-first "
    "PREFIX of length n - ceil(0.8n) + 1 — any pair with J >= 0.8 "
    "shares its globally-smallest common gram inside both prefixes — "
    "plus the size band 5*min(n) >= 4*max(n) (J <= min/max) and the "
    "positional bound 1 + min(n_a - pos_a, n_b - pos_b) >= "
    "ceil(4(n_a+n_b)/9) (an overlap of c requires c >= 4(n_a+n_b)/9 "
    "and the smallest shared gram caps c by its suffix lengths). "
    "Survivors are verified EXACTLY map-side by sorted-array "
    "intersection of the per-doc hash sets — never the 290M-row "
    "cand-x-grams re-join blowup. Integer arithmetic throughout "
    "(0.8 is not a binary double): ceil(0.8n) = (4n+4) div 5. "
    "Measured at sf1: 24.4 s (naive all-pairs gram join) -> 5.0 s. "
    "minhash_lsh_pairs remains the approximate linear-time scale "
    "path; this is the exact verifier, candidate-bounded instead of "
    "corpus-quadratic. A candidate-volume gate (NGRAM_MAX_CANDIDATES) "
    "estimates sum-over-prefix-hash C(df,2) with one aggregate before "
    "the self-join and fails fast with a routing message when the "
    "corpus is in the quadratic regime.",
    tags=("dedup", "extension"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    # staged projection: materialize the hash array once, fan size +
    # explode off the attribute (Catalyst does not CSE sibling chains)
    arr = F.array_distinct(word_ngrams(tokens(F.col("text")), 3))
    hs = F.array_sort(
        F.array_distinct(
            F.transform(
                arr,
                lambda x: F.conv(F.substring(F.md5(x.cast("binary")), 1, 15), 16, 10).cast(
                    "long"
                ),
            )
        )
    )
    docs = _reused(
        d.select("doc_id", hs.alias("hs")).select(
            "doc_id", "hs", F.size("hs").alias("n")
        )
    )
    g = docs.select("doc_id", "n", F.explode("hs").alias("h"))
    # global gram document-frequency: rarest-first prefix ordering makes
    # boilerplate (hot) grams land past every prefix — the k^2-per-gram
    # blowup the naive join pays precisely on those grams
    df_ = g.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
    ranked = g.join(df_, "h").withColumn(
        "pos",
        F.row_number().over(W.partitionBy("doc_id").orderBy("dfreq", "h")),
    )
    prefix_len = F.col("n") - F.expr("(4 * n + 4) div 5") + F.lit(1)
    pfx = _reused(
        ranked.filter(F.col("pos") <= prefix_len).select("doc_id", "h", "n", "pos")
    )
    # Candidate-volume gate (see NGRAM_MAX_CANDIDATES): one bounded
    # aggregate over the persisted prefix frame — a scalar driver
    # decision, same pattern as the cosine cap (similarity.py). Above
    # the bound the exact verifier CANNOT run in bounded time and the
    # right answer is a routed failure, not a hung shuffle.
    import os as _os

    bound = int(_os.environ.get("SPARK_GRAFT_NGRAM_MAX_CAND", NGRAM_MAX_CANDIDATES))
    est_row = (
        pfx.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("est"))
        .collect()[0]
    )
    est = int(est_row["est"] or 0)
    if est > bound:
        raise RuntimeError(
            f"ngram_jaccard_pairs: estimated candidate volume {est:,} exceeds "
            f"the bound {bound:,} — the exact AllPairs verifier is quadratic "
            "on this corpus. Route to minhash_lsh_pairs (approximate, "
            "linear), or run this verifier on a content-hash document "
            "sample (tools/sample_docs.py), or raise "
            "SPARK_GRAFT_NGRAM_MAX_CAND if the cluster can absorb the "
            "verify-join shuffle (~3 KB per candidate pair)."
        )
    a, b = pfx.alias("a"), pfx.alias("b")
    alpha = F.expr("(4 * (a.n + b.n) + 8) div 9")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.least("a.n", "b.n") >= 4 * F.greatest("a.n", "b.n"))
            & (1 + F.least(F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")) >= alpha),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n").alias("na"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n").alias("nb"))
    ver = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        ver.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


# MinHash permutation family: the 16 per-perm hashes are sixteen
# independent 32-bit SLICES of two sha256 digests of the gram — two
# hash invocations per gram instead of sixteen (the signature pass is
# the dominant dedup cost at corpus scale). Each 8-hex window of a
# cryptographic digest is an independent uniform 32-bit hash, minima
# over them are valid min-hashes, and the hex slicing is byte-for-byte
# identical in Spark and DuckDB. (A multiply-add-mod family is NOT
# usable here: with operands bounded to avoid int64 overflow the
# product never wraps the modulus, the mix stays monotonic in the base
# hash, and all 16 "permutations" elect the same min gram — perfectly
# correlated signatures. Caught by the pair-count blowing up 25→135.)
_MH_SLICES_PER_DIGEST = 8  # 64 hex chars / 8


def _minhash_signatures(
    spark: SparkSession, sf_dir: str, grams: DataFrame | None = None
) -> DataFrame:
    """(doc_id, s: array<long>[16]) — per-slice minima of the two
    sha256 digests. One aggregation with 16 min() columns: a single
    shuffle of (doc_id, 16 longs); digests are computed map-side.
    Pass `grams` to reuse an already-materialized gram frame (the
    precision audit consumes grams twice: signatures + exact side)."""
    g = grams if grams is not None else _distinct_grams(spark, sf_dir)
    d1 = F.sha2(F.col("gram").cast("binary"), 256)
    d2 = F.sha2(F.concat(F.lit("x:"), F.col("gram")).cast("binary"), 256)
    hh = g.select("doc_id", d1.alias("d1"), d2.alias("d2"))
    # r10: 16 min-slices as parsed SQL (one py4j call each instead of
    # five) — same conv/substring/cast tree, oracle hash-matched.
    mins = [
        F.expr(
            "min(CAST(conv(substring("
            f"{'d1' if j < _MH_SLICES_PER_DIGEST else 'd2'}, "
            f"{(j % _MH_SLICES_PER_DIGEST) * 8 + 1}, 8), 16, 10) AS BIGINT))"
        ).alias(f"h{j}")
        for j in range(NUM_MINHASH)
    ]
    sig = hh.groupBy("doc_id").agg(*mins)
    return _reused(
        sig.select("doc_id", F.array(*[f"h{j}" for j in range(NUM_MINHASH)]).alias("s"))
    )


# Shared oracle CTE chain: grams → sliced-digest signatures → the
# banding twin (bands → hot-bucket cap → candidate pairs → estimate).
# Every MinHash oracle starts from it, so all verify the SAME pairs.
_MINHASH_CAND_SQL = f"""g AS ({_GRAMS_SQL}),
        hh AS (
            SELECT doc_id, sha256(gram) AS d1, sha256('x:' || gram) AS d2 FROM g
        ),
        h AS (
            SELECT doc_id, j,
                   MIN(('0x' || substr(
                            CASE WHEN j < {_MH_SLICES_PER_DIGEST} THEN d1 ELSE d2 END,
                            (j % {_MH_SLICES_PER_DIGEST}) * 8 + 1, 8))::BIGINT) AS mh
            FROM hh, range(0, {NUM_MINHASH}) t(j)
            GROUP BY doc_id, j
        ),
        sig AS (SELECT doc_id, list(mh ORDER BY j) AS s FROM h GROUP BY doc_id),
        {MINHASH_PAIRS_SQL}"""


@register(
    "minhash_lsh_pairs",
    oracle=f"""
        WITH {_MINHASH_CAND_SQL}
        SELECT doc_a, doc_b, est_jaccard FROM est
        WHERE est_jaccard >= 0.5
        ORDER BY doc_a, doc_b
    """,
    doc="MinHash (16 perms = independent 32-bit slices of two sha256 "
    "digests, two hash calls per gram) + LSH banding (4 bands × 4 "
    "rows) near-dup candidates, filtered at estimated Jaccard ≥ 0.5. "
    "The linear-time scale path for dedup: shuffle keys are "
    "(band, band_hash), so only same-bucket docs ever pair. Band "
    f"buckets larger than {MAX_BAND_BUCKET} docs are excluded from "
    "candidate generation (hot-bucket skew cap; identical rule in the "
    "oracle, so the capped semantics are what the driver verifies).",
    tags=("dedup", "lsh", "extension"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_signatures(spark, sf_dir)
    return scored_pairs(lsh_candidates(sig), sig, 0.5).orderBy("doc_a", "doc_b")


@register(
    "minhash_precision_audit",
    oracle=f"""
        WITH {_MINHASH_CAND_SQL},
        sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        -- exact-verify side joins on 60-bit md5 gram hashes (8 B
        -- shuffle keys) instead of ~20-char gram strings — the same
        -- hashed-gram equality ngram_jaccard_pairs already defines
        -- (collision-free at 60 bits for any verifiable corpus);
        -- identical rule in the Spark plan, so the audit's declared
        -- semantics stay engine-matched.
        gh AS (SELECT doc_id,
                      ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
               FROM g),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM cand c
            JOIN gh a ON a.doc_id = c.doc_a
            JOIN gh b ON b.doc_id = c.doc_b AND b.h = a.h
            GROUP BY 1, 2
        )
        SELECT e.doc_a, e.doc_b, est_jaccard,
               COALESCE(n_common, 0) / (sa.n + sb.n - COALESCE(n_common, 0))
                   AS exact_jaccard,
               ABS(est_jaccard
                   - COALESCE(n_common, 0)
                     / (sa.n + sb.n - COALESCE(n_common, 0))) AS abs_err
        FROM est e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN sz sa ON sa.doc_id = e.doc_a
        JOIN sz sb ON sb.doc_id = e.doc_b
        ORDER BY e.doc_a, e.doc_b
    """,
    doc="Sketch-quality audit for the MinHash estimator: every LSH "
    "candidate pair scored with BOTH the 16-perm signature estimate "
    "and the exact n-gram Jaccard, plus the absolute error - the "
    "estimator-calibration report a dedup deployment reviews before "
    "trusting a threshold. Exact Jaccard is computed ONLY for "
    "candidate pairs (gram join pre-filtered by the candidate list), "
    "so the audit stays near-linear - never the all-pairs quadratic.",
    tags=("dedup", "lsh", "profiling", "extension"),
)
def minhash_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one materialized gram frame feeds BOTH the signature pass and the
    # exact-Jaccard side — the tokenize/ngram/explode chain (the
    # dominant cost) runs once, not twice
    g = _reused(_distinct_grams(spark, sf_dir))
    sig = _minhash_signatures(spark, sf_dir, grams=g)
    # the pair+est frame feeds BOTH the report and the exact-verify
    # joins, so it is persisted (candidate-sized — tiny vs the corpus)
    est = _reused(scored_pairs(lsh_candidates(sig), sig))
    cand = est.select("doc_a", "doc_b")
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    sz = d.select(
        "doc_id",
        F.size(F.array_distinct(word_ngrams(tokens(F.col("text")), 3))).alias("n"),
    )
    # the exact-intersection joins carry a 60-bit md5 gram hash (8 B
    # key) instead of the ~20-char gram string — computed map-side off
    # the persisted gram frame, so no extra pass. Same hashed-gram equality ngram_jaccard_pairs
    # defines; the oracle CTE applies the identical rule (lockstep).
    gh = F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), gh.alias("h"))
    gb = g.select(F.col("doc_id").alias("doc_b2"), gh.alias("h2"))
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("h") == F.col("h2")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    exact = nc / (F.col("n_a") + F.col("n_b") - nc)
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sza, "doc_a")
        .join(szb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Incremental (corpus-delta) dedup — round 7.
#
# The production shape for a growing 100-TB corpus: dedup a NEW batch
# of documents against a FROZEN corpus MinHash index without ever
# recomputing the corpus side (reference capability analogue: the load
# path's incremental ingest posture,
# /root/reference/src/db/pipeline.py:264-309). The index is a
# versioned snapshot (sinks/versioned.py — atomic manifest publish, so
# a reader never sees a half-built index) holding one row per corpus
# doc: (doc_id, s: array<long>[16]), the FULL MinHash signature. Band
# hashes derive from `s` with 4 md5 calls per doc at read time — no
# tokenization, no gram explode, no corpus text scan. At 100 TB the
# corpus side of the nightly dedup becomes a signature-table scan
# (~136 B/doc instead of the multi-KB document body), and only the
# delta pays the tokenize/shingle/hash pipeline.
#
# Semantics (oracle-verified): identical to running minhash_lsh_pairs
# over the FULL corpus (union of frozen + delta) and keeping exactly
# the pairs that involve at least one delta doc. The hot-bucket cap is
# computed over the UNION of band buckets — the same bucket sizes the
# full-corpus run sees — so incremental and full runs agree pair-for-
# pair (the equivalence the oracle replays).

INCR_DELTA_BUCKETS = 100
INCR_DELTA_FROM = 90  # md5 buckets >= this are the "new batch" (10%)


def _incr_bucket_sql(col: str) -> str:
    """DuckDB twin of :func:`_incr_bucket` over the SQL column `col`."""
    return (
        f"('0x' || substr(md5('inc:' || CAST({col} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {INCR_DELTA_BUCKETS}"
    )


def is_delta_doc_sql(col: str) -> str:
    """DuckDB twin of :func:`is_delta_doc` over the SQL column `col`."""
    return f"{_incr_bucket_sql(col)} >= {INCR_DELTA_FROM}"


# delta-involvement filter over a pair table's (doc_a, doc_b): the
# oracle twin of the incremental probes' bucket split (it commutes with
# the pair join, so it can apply after a full-corpus pairs CTE)
_INCR_PAIR_FILTER_SQL = f"({is_delta_doc_sql('doc_a')} OR {is_delta_doc_sql('doc_b')})"


def _incr_bucket(col):
    """Deterministic 0..99 bucket of doc_id, salted 'inc:' so the
    delta split is independent of the train/val/test split."""
    keyed = F.concat(F.lit("inc:"), col.cast("string"))
    return (
        F.conv(F.substring(F.md5(keyed.cast("binary")), 1, 8), 16, 10).cast("long")
        % INCR_DELTA_BUCKETS
    )


def is_delta_doc(col: str) -> Column:
    """True for the docs of the current delta batch: the one split
    predicate of every incremental family (the corpus is its negation)."""
    return _incr_bucket(F.col(col)) >= INCR_DELTA_FROM


def _grams_of(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) distinct word-3-grams of an arbitrary doc frame
    (same chain as _distinct_grams, without the table load)."""
    grams = word_ngrams(tokens(F.col("text")), 3)
    return docs.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))


def minhash_index_dir(sf_dir: str) -> str:
    """Fingerprinted index location for sf_dir's documents table —
    keyed on (path, mtime, size) so a regenerated fixture triggers a
    rebuild instead of serving a stale index (sinks/versioned.py
    fingerprint_dir)."""
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", prefix="minhash2_")


def build_minhash_index(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Compute the frozen-corpus MinHash signatures (buckets <
    INCR_DELTA_FROM) and publish them as a versioned snapshot. Returns
    the published version. One corpus scan; the snapshot is the only
    artifact the incremental path ever reads."""
    from ..sinks.versioned import write_corpus_snapshot

    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    corpus = d.filter(~is_delta_doc("doc_id"))
    sig = _minhash_signatures(spark, sf_dir, grams=_grams_of(corpus))
    return write_corpus_snapshot(sig, table_dir)


def row_minhash_digests(grams_col):
    """Per-gram digest structs (d1, d2) — the STAGING half of the
    per-row MinHash signature. Must be materialized as a real column
    in its own projection before row_minhash_from_digests consumes it:
    as a subexpression of the 16 min-expressions Catalyst would inline
    it 16 times (interpreted higher-order functions get no common-
    subexpression elimination), running sha256 32x per gram instead of
    2x — measured 0.55 s/micro-batch on ~300 delta docs at sf1."""
    return F.transform(
        grams_col,
        lambda g: F.struct(
            F.sha2(g.cast("binary"), 256).alias("d1"),
            F.sha2(F.concat(F.lit("x:"), g).cast("binary"), 256).alias("d2"),
        ),
    )


def row_minhash_from_digests(ds_col):
    """array<long>[16] MinHash signature from staged digests: each of
    the 16 slices takes its min over the per-gram digest column.
    CollapseProject keeps the stage real — the digest column is
    referenced 16 times by a non-cheap expression, which Spark's
    projection-collapse rule refuses to duplicate."""

    def mh(j: int):
        src = "d1" if j < _MH_SLICES_PER_DIGEST else "d2"
        off = (j % _MH_SLICES_PER_DIGEST) * 8 + 1
        return F.array_min(
            F.transform(
                ds_col, lambda s: F.conv(F.substring(s[src], off, 8), 16, 10).cast("long")
            )
        )

    return F.array(*[mh(j) for j in range(NUM_MINHASH)])


def row_minhash_signature(grams_col):
    """array<long>[16] MinHash signature computed ENTIRELY per-row —
    the streaming-safe twin of :func:`_minhash_signatures`. The batch
    path explodes grams and groupBy-aggregates 16 minima; under
    readStream that would be a stateful aggregation. Identical values
    by construction — pinned against the batch signatures in tests.

    NOTE: this single-expression form inlines the digest transform
    into all 16 minima (32 sha256/gram). Hot paths should stage
    row_minhash_digests in a projection and apply
    row_minhash_from_digests — same values, 16x less hashing."""
    return row_minhash_from_digests(row_minhash_digests(grams_col))


def extend_minhash_index(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Fold the CURRENT delta batch into the frozen index: publish a
    new snapshot version holding corpus+delta signatures — the nightly
    lifecycle's closing step (freeze -> dedup delta against index ->
    fold delta in -> tomorrow's delta dedups against v+1). The corpus
    side is read from the EXISTING snapshot (never re-tokenized); only
    the delta pays the signature pipeline. Readers mid-dedup keep v_n
    (snapshot isolation); rollback to any retained version is
    metadata-only (sinks/versioned.py)."""
    from ..sinks.versioned import fold_delta_snapshot

    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    delta = d.filter(is_delta_doc("doc_id"))
    delta_sig = _minhash_signatures(spark, sf_dir, grams=_grams_of(delta))
    return fold_delta_snapshot(spark, table_dir, delta_sig)


@register(
    "incremental_dedup",
    oracle=f"""
        WITH {_MINHASH_CAND_SQL}
        SELECT doc_a, doc_b, est_jaccard
        FROM est
        WHERE est_jaccard >= 0.5 AND {_INCR_PAIR_FILTER_SQL}
        ORDER BY doc_a, doc_b
    """,
    doc="Incremental dedup of a NEW document batch (the 10% of docs in "
    "md5-salted buckets >= 90) against a FROZEN MinHash signature "
    "index of the other 90%, built once via build_minhash_index and "
    "read back as a versioned-snapshot parquet scan — the corpus side "
    "is never re-tokenized (plan-asserted). Candidates come from "
    "joining the delta's band hashes against the UNION of index and "
    "delta bands with the standard hot-bucket cap (union bucket "
    "sizes = full-corpus bucket sizes, so results are pair-identical "
    "to a full-corpus run restricted to delta-involved pairs — which "
    "is exactly what the oracle replays). The production shape for a "
    "growing corpus: nightly cost is O(delta) tokenization plus a "
    "signature-table scan, not O(corpus).",
    tags=("dedup", "lsh", "incremental", "extension"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.versioned import ensure_snapshot, read_corpus_snapshot

    table_dir = minhash_index_dir(sf_dir)
    ensure_snapshot(table_dir, lambda: build_minhash_index(spark, sf_dir, table_dir))
    corpus_sig = read_corpus_snapshot(spark, table_dir).withColumn(
        "is_delta", F.lit(False)
    )
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    delta_docs = d.filter(is_delta_doc("doc_id"))
    delta_sig = _minhash_signatures(
        spark, sf_dir, grams=_grams_of(delta_docs)
    ).withColumn("is_delta", F.lit(True))
    allsig = _reused(corpus_sig.unionByName(delta_sig))
    # hot-bucket cap over the UNION — identical bucket sizes to the
    # full-corpus run
    bands = _reused(cap_hot_buckets(minhash_bands(allsig, "doc_id", "is_delta")))
    delta_bands = bands.filter(F.col("is_delta"))
    a, b = delta_bands.alias("a"), bands.alias("b")
    # delta x union join (NOT a full self-join): every delta-involved
    # pair shares a capped bucket with its delta member, so this join
    # sees exactly the delta's posting lists
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return scored_pairs(cand, allsig, 0.5).orderBy("doc_a", "doc_b")


def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp: 60-bit simhash as long).

    Token hash = first 15 hex of md5 (60 bits, exact in a signed long
    in both engines). One hash-aggregate with 60 conditional-sum
    columns — the per-bit ±1 tallies stay map-side-combined in a
    single (doc_id → 60 longs) shuffle, vs. a 60× row explosion.
    """
    d = spread_scan(  # single-file scan at test SFs: see catalog.spread_scan
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    )
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10).cast("long")
    # r10: the 60 per-bit tallies and the 60-term recombination are
    # built as SQL strings parsed JVM-side — the Column-operator loop
    # issued ~360 py4j round trips (~1 s of driver-side build per
    # query). Parsed trees are identical; oracle hash-matched.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (h & {1 << p}L) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"b{p}")
        for p in range(SIMHASH_BITS)
    ]
    s = t.select("doc_id", h.alias("h")).groupBy("doc_id").agg(*bit_sums)
    fp = F.expr(
        " + ".join(
            f"CAST(CASE WHEN b{p} > 0 THEN {1 << p}L ELSE 0L END AS BIGINT)"
            for p in range(SIMHASH_BITS)
        )
    )
    return _reused(s.select("doc_id", fp.alias("fp")))


@register(
    "simhash_pairs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
        ),
        tp AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h,
                   p, (1::BIGINT << p) AS mask
            FROM t, range(0, {SIMHASH_BITS}) r(p)
        ),
        s AS (
            SELECT doc_id, p, mask,
                   SUM(CASE WHEN (h & mask) <> 0 THEN 1 ELSE -1 END) AS s
            FROM tp GROUP BY doc_id, p, mask
        ),
        f AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN mask ELSE 0 END) AS BIGINT) AS fp
            FROM s GROUP BY doc_id
        ),
        {fp_pairs_cte("", SIMHASH_MAX_HAMMING)}
        SELECT doc_a, doc_b, hamming FROM pairs
        ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-dup pairs: 60-bit token-level simhash, candidates "
    "via 4×15-bit chunk banding (complete for hamming ≤ 3 by "
    "pigeonhole), exact popcount verify.",
    tags=("dedup", "extension"),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fingerprints ride ON the band rows: text simhash chunks are
    # content-skewed, and materialized candidates made the sf10 band
    # exchange quadratic (677 s)
    return banded_self_pairs(_simhash_fingerprints(spark, sf_dir), SIMHASH_MAX_HAMMING)


@register(
    "dedup_source_matrix",
    oracle=f"""
        WITH {_MINHASH_CAND_SQL},
        lab AS (
            SELECT LEAST(da.source, db.source) AS source_a,
                   GREATEST(da.source, db.source) AS source_b
            FROM est e
            JOIN documents da ON da.doc_id = e.doc_a
            JOIN documents db ON db.doc_id = e.doc_b
            WHERE e.est_jaccard >= 0.5
        )
        SELECT source_a, source_b, COUNT(*) AS n_pairs
        FROM lab
        GROUP BY source_a, source_b
        ORDER BY n_pairs DESC, source_a, source_b
    """,
    doc="Cross-source near-dup contamination matrix: the MinHash pair "
    "set (est_jaccard >= 0.5, shared candidate head with "
    "minhash_lsh_pairs) rolled up by unordered source pair — the "
    "provenance report that tells a pipeline WHICH feeds duplicate "
    "each other (mirror sites, scraped re-posts) before dedup budgets "
    "are assigned. Pairs are tiny relative to the corpus, so both "
    "source-label lookups broadcast the pair side against one pruned "
    "(doc_id, source) scan each; the matrix is |sources|^2-bounded.",
    tags=("dedup", "lsh", "profiling", "extension"),
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_signatures(spark, sf_dir)
    pairs = scored_pairs(lsh_candidates(sig), sig, 0.5).select("doc_a", "doc_b")
    # NO static broadcast hint on the pair side: pairs are SF-scaled
    # (bucket-capped but linear in corpus on boilerplate-heavy feeds),
    # and a hint bypasses Spark's 8 GiB broadcast ceiling — the exact
    # scale-killer the round-6 sf100 probe caught on salted_join. AQE
    # converts these to broadcast at runtime whenever the pair side is
    # actually small (asserted at test SF in the executed plan).
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        src.withColumnsRenamed({"doc_id": "doc_a", "source": "src_a"})
        .join(pairs, "doc_a")
    )
    labeled = src.withColumnsRenamed({"doc_id": "doc_b", "source": "src_b"}).join(
        labeled, "doc_b"
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("source_a"), F.asc("source_b"))
    )
