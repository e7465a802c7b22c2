"""LSH banding primitives shared by every near-dup family.

Three families, each with its Spark builders and the DuckDB CTE twin
the oracles use, so engine and oracle cannot drift apart:

- MinHash (minhash_lsh_pairs, minhash_precision_audit,
  incremental_dedup, dedup_source_matrix, fuzzy_decontaminate and the
  landing stream): a NUM_MINHASH-slot signature `s` is cut into
  MINHASH_BANDS md5 band hashes; docs that share a (b, bh) bucket pair
  up, buckets above MAX_BAND_BUCKET are dropped, and pairs are scored
  by the share of matching signature slots.
- Hamming (simhash, phash, wavhash — batch, incremental and stream): a
  60-bit fingerprint `fp` is cut into FP_CHUNKS chunks of FP_CHUNK_BITS
  bits (pigeonhole-complete for Hamming <= FP_CHUNKS - 1); docs that
  share a (c, chunk) bucket pair up with the popcount verify inside the
  join condition, so candidates are never materialized.
- Sign-LSH (ann_lsh_topk, embedding_cosine_pairs): each embedding `v`
  gets LSH_BANDS bucket ids of PLANES_PER_BAND sign bits against
  deterministic md5 hyperplanes; vectors that share a (band, bucket)
  are cosine candidates, and embedding_cosine_pairs drops buckets
  denser than _cosine_bucket_cap(n).

The MinHash family materializes candidates and joins the signatures
back, while the Hamming family carries the fingerprint on the band
rows; the alternatives that were measured against these shapes, and
their numbers, are in OPTIMIZATION_r11.md.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.vectors import hyperplanes

NUM_MINHASH = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows
# Hot-band escape hatch: a band bucket shared by k docs yields k^2
# candidate pairs in the bucket self-join. On boilerplate-heavy corpora
# (license headers, templated pages) a single bucket can hold millions
# of docs and one reducer gets a quadratic cell no matter what AQE
# does. Buckets above the cap are dropped from CANDIDATE GENERATION
# only: such docs are near-identical boilerplate whose pairs carry no
# ranking information, and every surviving band of a doc still
# generates its pairs (recall degrades gracefully, per-band). The cap
# is part of the operator's defined semantics — the oracle applies the
# identical rule, so the oracle check verifies the capped operator, not an
# uncapped idealization. Calibration + cluster re-tuning rule:
# SCALING.md "Threshold provenance".
MAX_BAND_BUCKET = 64

FP_CHUNKS = 4
FP_CHUNK_BITS = 15  # 4 x 15 = 60 bits, < 2^63 so a fingerprint fits BIGINT
_FP_CHUNK_MASK = (1 << FP_CHUNK_BITS) - 1
_ROWS_PER_BAND = NUM_MINHASH // MINHASH_BANDS


# -- MinHash ----------------------------------------------------------------


def sig_est(a: str = "s_a", b: str = "s_b") -> Column:
    """Estimated Jaccard = matching signature slots / NUM_MINHASH, as
    ONE unrolled codegen expression. A zip_with+aggregate fold is
    interpreted per element (CodegenFallback); integer addition is
    exact, so the unrolled sum is value-identical and the single float
    division is unchanged (pinned by tests)."""
    terms = " + ".join(
        f"CAST(({a}[{j}] = {b}[{j}]) AS INT)" for j in range(NUM_MINHASH)
    )
    return F.expr(f"({terms})") / float(NUM_MINHASH)


def minhash_bands(sig: DataFrame, *keep) -> DataFrame:
    """(*keep, b, bh): one row per band of each signature `s` in `sig`,
    bh = md5 of the band's '|'-joined slots."""
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col("s").getItem(b * _ROWS_PER_BAND + i) for i in range(_ROWS_PER_BAND)],
                ).cast("binary")
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select(*keep, F.posexplode(band_hashes).alias("b", "bh"))


def cap_hot_buckets(bands: DataFrame) -> DataFrame:
    """Drop band rows whose (b, bh) bucket holds more than
    MAX_BAND_BUCKET docs. The windowed count shuffles on exactly the
    self-join key, so the cap costs no extra exchange."""
    return (
        bands.withColumn("bsz", F.count(F.lit(1)).over(W.partitionBy("b", "bh")))
        .filter(F.col("bsz") <= MAX_BAND_BUCKET)
        .drop("bsz")
    )


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs, doc_a < doc_b, from the
    capped band buckets of a (doc_id, s) signature frame."""
    bands = cap_hot_buckets(minhash_bands(sig, "doc_id"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def scored_pairs(
    cand: DataFrame, sig: DataFrame, threshold: float | None = None
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for candidate pairs: both signatures
    joined back from `sig` (doc_id, s), kept at est_jaccard >= threshold
    when one is given."""
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", sig_est().alias("est_jaccard"))
    )
    if threshold is None:
        return pairs
    return pairs.filter(F.col("est_jaccard") >= threshold)


# DuckDB twin of minhash_bands -> cap_hot_buckets -> lsh_candidates ->
# scored_pairs over a `sig(doc_id, s)` CTE (1-based list slots).
MINHASH_PAIRS_SQL = f"""bands AS (
            SELECT doc_id, b,
                   md5(array_to_string(s[b*{_ROWS_PER_BAND}+1:b*{_ROWS_PER_BAND}+{_ROWS_PER_BAND}], '|')) AS bh
            FROM sig, range(0, {MINHASH_BANDS}) t(b)
        ),
        capped AS (
            SELECT doc_id, b, bh FROM (
                SELECT doc_id, b, bh,
                       COUNT(*) OVER (PARTITION BY b, bh) AS bsz
                FROM bands
            ) WHERE bsz <= {MAX_BAND_BUCKET}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a
            JOIN capped b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT doc_a, doc_b,
                   len(list_filter(range(1, {NUM_MINHASH + 1}),
                                   i -> sa.s[i] = sb.s[i])) / {NUM_MINHASH}.0
                       AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = doc_a
            JOIN sig sb ON sb.doc_id = doc_b
        )"""


# -- Hamming ----------------------------------------------------------------


def hamming_bands(fps: DataFrame) -> DataFrame:
    """(doc_id, fp, c, chunk) band rows of a (doc_id, fp) frame."""
    chunks = F.array(
        *[
            F.shiftright(F.col("fp"), c * FP_CHUNK_BITS).bitwiseAND(F.lit(_FP_CHUNK_MASK))
            for c in range(FP_CHUNKS)
        ]
    )
    return fps.select("doc_id", "fp", F.posexplode(chunks).alias("c", "chunk"))


def banded_self_pairs(fps: DataFrame, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs of a (doc_id, fp) frame,
    doc_a < doc_b, ordered. The Hamming verify rides INSIDE the band
    self-join condition: fingerprints are 8 bytes on each band row, so
    chance chunk collisions are xor/popcount'd and dropped in the
    streamed join output — candidates are never materialized or
    shuffled. With uniform 60-bit hashes that is 4·n²/2^16 xor/popcount
    evaluations (~1.5e9 at 5M docs, CPU spread across the cluster)."""
    bands = hamming_bands(fps)
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


def incremental_fp_pairs(
    spark: SparkSession, sf_dir: str, table_dir: str, build_fn, fp_fn, max_hamming: int
) -> DataFrame:
    """Incremental fingerprint probe: the NEW batch's payloads
    (`dedup.is_delta_doc`) are fingerprinted fresh by `fp_fn` and probed
    against the FROZEN (doc_id, fp) index at `table_dir` (built by
    `build_fn` when missing) — read back as a 16-byte-row snapshot
    scan, never a corpus re-decode."""
    from ..registry import track_persist
    from ..sinks.versioned import ensure_snapshot, read_corpus_snapshot
    from .dedup import is_delta_doc

    ensure_snapshot(table_dir, lambda: build_fn(spark, sf_dir, table_dir))
    corpus = read_corpus_snapshot(spark, table_dir)
    delta = track_persist(fp_fn(spark, sf_dir).filter(is_delta_doc("doc_id")))
    delta_bands = hamming_bands(delta)
    union_bands = hamming_bands(corpus).unionByName(delta_bands)
    a, b = delta_bands.alias("a"), union_bands.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    # delta x union join (never a full self-join): every delta-involved
    # pair shares a chunk with its delta member (pigeonhole), so this
    # join sees exactly the delta's posting lists
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


def landing_fp_transform(
    spark: SparkSession, sf_dir: str, raw: DataFrame, table_dir: str, build_fn,
    row_fp_fn, max_hamming: int,
) -> DataFrame:
    """Landing-zone fingerprint filter over an arbitrary documents
    frame or stream `raw`: arriving delta docs are fingerprinted per row
    by `row_fp_fn` (stateless Arrow pass) and probed against the FROZEN
    index at `table_dir` via a stream-static band join."""
    from ..registry import track_persist
    from ..sinks.versioned import ensure_snapshot, read_corpus_snapshot
    from .dedup import is_delta_doc

    ensure_snapshot(table_dir, lambda: build_fn(spark, sf_dir, table_dir))
    corpus = read_corpus_snapshot(spark, table_dir)
    # static side persisted pre-partitioned on the join key so every
    # micro-batch's probe reuses the cached distribution (without it the
    # per-trigger re-exchange of the static side caps throughput)
    corpus_bands = track_persist(
        hamming_bands(corpus)
        .withColumnsRenamed({"doc_id": "doc_a", "fp": "fp_a"})
        .repartition("c", "chunk")
    )
    delta = raw.filter(is_delta_doc("doc_id"))
    delta_bands = hamming_bands(row_fp_fn(delta)).withColumnsRenamed(
        {"doc_id": "doc_b", "fp": "fp_b"}
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        delta_bands.hint("shuffle_hash")
        .join(corpus_bands, ["c", "chunk"])
        .filter(ham <= max_hamming)
        .select(
            F.least("doc_a", "doc_b").alias("pa"),
            F.greatest("doc_a", "doc_b").alias("pb"),
            ham.alias("hamming"),
        )
        .withColumnsRenamed({"pa": "doc_a", "pb": "doc_b"})
        # a doc's 4 band rows arrive in one micro-batch, so duplicate
        # hits are same-batch only — state is output-bounded
        .dropDuplicates(["doc_a", "doc_b"])
    )


def fp_pairs_cte(pfx: str, max_hamming: int) -> str:
    """DuckDB twin of banded_self_pairs: CTEs turning ``{pfx}f(doc_id,
    fp)`` into the pair table ``{pfx}pairs(doc_a, doc_b, hamming)``.
    Prefixed so two modalities' chains can coexist in one oracle."""
    return f"""
        {pfx}bands AS (
            SELECT doc_id, fp, c, (fp >> (c * {FP_CHUNK_BITS})) & {_FP_CHUNK_MASK} AS chunk
            FROM {pfx}f, range(0, {FP_CHUNKS}) r(c)
        ),
        {pfx}pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.fp, b.fp)) AS hamming
            FROM {pfx}bands a
            JOIN {pfx}bands b
              ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
        )"""


# -- Sign-LSH ---------------------------------------------------------------

LSH_BANDS = 4  # 4 independent 8-bit sign-LSH bucketings; candidates = union
PLANES_PER_BAND = 8
DIM = 64  # embedding width the hyperplanes span
# Hot-bucket cap for embedding_cosine_pairs (SCALING.md "Threshold
# provenance"): a sign-LSH band has only 2^PLANES_PER_BAND = 256
# buckets, so on a clustered corpus one (band, bucket) can hold a whole
# cluster → k² candidates in the self-join regardless of AQE (the sf10
# gen_sf corpus put ~3200 vectors in each cluster bucket → 35.9M output
# pairs). Unlike MinHash's md5 band-hash (unbounded key space, absolute
# cap works), fixed-resolution sign buckets densify LINEARLY with
# corpus size, so the cap is RELATIVE: drop buckets more than
# COSINE_BUCKET_CAP_FACTOR× denser than the uniform expectation
# n/256, floored at COSINE_BUCKET_CAP_MIN so small corpora keep every
# bucket. Both engines derive the cap from the same integer COUNT →
# bit-replayable. Dropped buckets are dense near-duplicate cores whose
# pairs carry no ranking information (same rationale as
# MAX_BAND_BUCKET); recall degrades per-band, gracefully. At
# cluster scale the structural fix is PLANES_PER_BAND ≈ log2(n) so
# bucket count tracks corpus size; the cap is the skew escape hatch
# that holds either way.
COSINE_BUCKET_CAP_MIN = 64
COSINE_BUCKET_CAP_FACTOR = 8


def _cosine_bucket_cap(n: int) -> int:
    """max(64, 8·⌈n/256⌉) — mirrored literally in the oracle CTE."""
    n_buckets = 1 << PLANES_PER_BAND
    return max(
        COSINE_BUCKET_CAP_MIN,
        COSINE_BUCKET_CAP_FACTOR * ((n + n_buckets - 1) // n_buckets),
    )


def _band_bucket_sql(vec: str, band: int) -> str:
    """8-bit sign-LSH bucket id for one band in DuckDB SQL."""
    planes = hyperplanes(LSH_BANDS * PLANES_PER_BAND, DIM)
    terms = []
    for j in range(PLANES_PER_BAND):
        w_ = planes[band * PLANES_PER_BAND + j]
        arr = "[" + ", ".join(f"{x}.0" for x in w_) + "]"
        proj = f"list_sum(list_transform(range(1, {DIM + 1}), i -> {vec}[i] * ({arr})[i]))"
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _band_bucket_col(vec_name: str, band: int) -> F.Column:
    """8-bit sign-LSH bucket id for one band, built as ONE SQL string
    parsed JVM-side: the same tree built from Column operators costs
    ~2,000 py4j round trips per query (8 planes x 64 F.lit calls x 4
    bands), ~2 s of driver-side DataFrame build time at any SF. Same
    aggregate/zip_with fold, literals and fold order, so scores stay
    bit-identical — pinned by the oracle hash match."""
    planes = hyperplanes(LSH_BANDS * PLANES_PER_BAND, DIM)
    terms = []
    for j in range(PLANES_PER_BAND):
        w_ = planes[band * PLANES_PER_BAND + j]
        arr = "array(" + ", ".join(f"{float(x)}D" for x in w_) + ")"
        proj = (
            f"aggregate(zip_with({vec_name}, {arr}, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << j} ELSE 0 END)")
    return F.expr("(" + " + ".join(terms) + ")")


def sign_lsh_buckets(e: DataFrame) -> DataFrame:
    """(vec_id, band, bucket): one row per band of each vector `v` in
    `e`, persisted — every consumer reads it twice (probe and corpus
    side, or both sides of the bucket self-join)."""
    from ..registry import track_persist

    band_arr = F.array(*[_band_bucket_col("v", b) for b in range(LSH_BANDS)])
    return track_persist(
        e.select("vec_id", F.posexplode(band_arr).alias("band", "bucket")),
        StorageLevel.MEMORY_AND_DISK,
    )


# DuckDB twin of sign_lsh_buckets over an `e(vec_id, v)` CTE.
SIGN_LSH_BUCKETS_SQL = f"""buckets AS (
            {" UNION ALL ".join(f"SELECT vec_id, {b} AS band, {_band_bucket_sql('v', b)} AS bucket FROM e" for b in range(LSH_BANDS))}
        )"""
