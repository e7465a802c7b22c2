"""Similarity search over the `embeddings` table (array<float>[64]).

North-star extensions (SURVEY.md §7.4): brute-force cosine top-k as
the exact baseline, sign-LSH bucketed search as the scale path.

Scale design (100 TB posture):
- The query set is a *selection* (vec_id % 50 == 0), kept small and
  broadcast, so the corpus side streams once: cost O(|corpus| × |Q|)
  without any corpus shuffle. At real scale |Q| is a user batch and
  this is exactly the shape you want (corpus scan × broadcast probe).
- Norms are computed once per side, not per pair.
- Top-k per query = row_number over (query partition, score desc) on
  the already-reduced (query × corpus) score set.
- ann_lsh_topk buckets both sides by 16 sign bits (deterministic md5
  hyperplanes), equi-joins on the bucket, and reranks exactly inside
  buckets — the join key turns O(|Q|×N) into O(collisions); on a
  cluster the bucket join shuffles only bucket-ids + vectors.
- Everything is bit-identical to the DuckDB oracle: folds are
  sequential, formulas parenthesized identically, hyperplanes shared
  literals.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import load_table, spread_scan
from ..functions.vectors import as_double, dot, norm
from ..registry import register, track_persist
from .banding import (
    COSINE_BUCKET_CAP_FACTOR,
    COSINE_BUCKET_CAP_MIN,
    DIM,
    PLANES_PER_BAND,
    SIGN_LSH_BUCKETS_SQL,
    _cosine_bucket_cap,
    sign_lsh_buckets,
)

QUERY_MOD = 50  # vec_id % 50 == 0 → the query subset
TOP_K = 5
COSINE_DUP_THRESHOLD = 0.4  # synthetic embeddings are near-orthogonal;
# a production near-dup run sets ~0.95+, where sign-LSH recall is high

# IVF coarse cells: every stride-th vector is a centroid seed — a
# deterministic stand-in for trained KMeans that the oracle can replay.
# Stride sampling matters: "first k ids" would draw every centroid from
# whatever the first rows happen to be (in a clustered corpus, 1-2
# clusters), collapsing the quantizer; a stride is an unbiased sample
# of the corpus like KMeans random init.
#
# The stride ADAPTS to corpus size: stride = max(23, floor(n/ceil(√n)))
# ≈ √n, so the cell count is ~√n — the classic IVF balance point where
# assignment (n × cells dot products) and per-cell rerank (n/cells
# candidates per probe) grow at the same √n rate. A fixed stride would
# make cells = n/23, i.e. assignment quadratic in n — fine at test SF,
# a scale-killer at 100×. The floor of 23 (coprime with QUERY_MOD so
# queries aren't all centroids) keeps tiny corpora at the historical
# seeding. Both engines compute the stride from the same COUNT, so the
# quantizer stays bit-replayable by the oracle at every SF.
CENT_STRIDE_MIN = 23
N_PROBE = 3
# Trained-quantizer refinement (ann_ivf_trained_topk): Lloyd-style
# iterations from the stride seeds, with the centroid update being the
# component-wise exact MEDIAN (k-medians), not the mean. The mean of
# doubles is partial-aggregation-order-dependent (float addition is
# non-associative), so a mean-updated quantizer can't be replayed
# bit-identically by an oracle or across partitionings; order
# statistics are accumulation-free and engine-identical (same property
# quantity_quartiles relies on). Two iterations move every centroid to
# the core of its cell — at production scale this runs once on a
# sample and the trained cells are then a static broadcast table.
N_KMEDIAN_ITER = 2

_DOT_SQL = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


def _emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with precomputed norms, persisted: every consumer plan
    (buckets, query side, rerank side) reads the same materialization
    instead of re-deriving the norm fold per consumer. The cluster
    analog is a staged norms+vectors table."""
    # spread_scan: the test-SF embeddings table is one small parquet
    # file → one task would compute every 64-dim norm/dot; a no-op at
    # cluster scale (see catalog.spread_scan)
    e = spread_scan(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    v = as_double(F.col("embedding"))
    # staged projection: norm() reads the materialized `v` attribute
    # instead of re-deriving the cast per sibling expression (Catalyst
    # does not CSE sibling chains; same rule as lang_id)
    return track_persist(
        e.select("vec_id", v.alias("v")).select(
            "vec_id", "v", norm(F.col("v")).alias("nrm")
        ),
        StorageLevel.MEMORY_AND_DISK,
    )


_CORPUS_SQL = f"""
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt({_DOT_SQL.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
        FROM embeddings
"""


# ---------------------------------------------------------------------------
# ANN building blocks, each written once per engine: the per-query
# top-K and the exact cosine rerank here, stride seeding, nearest-cell
# assignment and N_PROBE probing in the IVF section. The queries
# compose them.

# Per-query top-K of a `scored` CTE: {score} DESC, ties to the lower
# neighbor_id. Callers add the final ORDER BY they need.
_TOP_K_SQL = f"""
        SELECT query_id, neighbor_id, {{score}}, rnk FROM (
            SELECT query_id, neighbor_id, {{score}},
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY {{score}} DESC, neighbor_id
                   ) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}"""


def _top_k(scored: DataFrame, score: str) -> DataFrame:
    """Spark twin of _TOP_K_SQL: `scored` plus `rnk`, rnk ≤ TOP_K."""
    w = W.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= TOP_K)


_QUERY_COSINE_SQL = f"{_DOT_SQL.format(a='q.v', b='e.v')} / (q.nrm * e.nrm)"

# Exact cosine rerank of a cand(query_id, neighbor_id) CTE, then top-K.
_COSINE_RERANK_SQL = f"""
        scored AS (
            SELECT query_id, neighbor_id, {_QUERY_COSINE_SQL} AS cosine_sim
            FROM cand
            JOIN e q ON q.vec_id = query_id
            JOIN e ON e.vec_id = neighbor_id
        )
        {_TOP_K_SQL.format(score='cosine_sim')}
        ORDER BY query_id, rnk"""


def _query_side(e: DataFrame) -> DataFrame:
    """(query_id, qv, qn): `e` rows as the query side of a cosine."""
    return e.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )


def _query_cosine() -> Column:
    return (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cosine_sim")


def _cosine_rerank(e: DataFrame, cand: DataFrame) -> DataFrame:
    """Spark twin of _COSINE_RERANK_SQL: the broadcast query side and
    the corpus side join onto (query_id, neighbor_id) candidates."""
    scored = (
        cand.join(F.broadcast(_query_side(e)), "query_id")
        .join(e.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm"), "neighbor_id")
        .select("query_id", "neighbor_id", _query_cosine())
    )
    return _top_k(scored, "cosine_sim").orderBy("query_id", "rnk")


@register(
    "ann_topk",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        q AS (SELECT * FROM e WHERE vec_id % {QUERY_MOD} = 0),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {_QUERY_COSINE_SQL} AS cosine_sim
            FROM q JOIN e ON q.vec_id <> e.vec_id
        )
        {_TOP_K_SQL.format(score='cosine_sim')}
        ORDER BY query_id, rnk
    """,
    doc="Brute-force cosine top-5 for the query subset (vec_id % 50 = 0) "
    "— the exact ANN baseline: broadcast queries × one corpus scan.",
    tags=("similarity", "extension"),
)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    q = _query_side(e.filter(F.col("vec_id") % QUERY_MOD == 0))
    scored = e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _query_cosine()
    )
    return _top_k(scored, "cosine_sim").orderBy("query_id", "rnk")


@register(
    "ann_lsh_topk",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        q_ids AS (SELECT vec_id FROM e WHERE vec_id % {QUERY_MOD} = 0),
        {SIGN_LSH_BUCKETS_SQL},
        cand AS (
            SELECT DISTINCT qb.vec_id AS query_id, eb.vec_id AS neighbor_id
            FROM buckets qb
            JOIN q_ids ON q_ids.vec_id = qb.vec_id
            JOIN buckets eb ON qb.band = eb.band AND qb.bucket = eb.bucket
                           AND qb.vec_id <> eb.vec_id
        ),
        {_COSINE_RERANK_SQL}
    """,
    doc="Banded sign-LSH ANN: 4 bands × 8 deterministic md5-derived "
    "hyperplanes; candidates = union of same-(band,bucket) pairs; exact "
    "cosine rerank inside candidates. The approximate scale path (bucket "
    "equi-join instead of a full cross product); identical approximation "
    "in the oracle.",
    tags=("similarity", "lsh", "extension"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    buckets = sign_lsh_buckets(e)
    qb = buckets.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    cand = (
        buckets.join(
            F.broadcast(qb),
            (qb.band == buckets.band)
            & (qb.bucket == buckets.bucket)
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _cosine_rerank(e, cand)


@register(
    "embedding_cosine_pairs",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        {SIGN_LSH_BUCKETS_SQL},
        nc AS (SELECT COUNT(*) AS n FROM e),
        capped AS (
            SELECT vec_id, band, bucket FROM (
                SELECT vec_id, band, bucket,
                       COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
                FROM buckets
            ), nc
            WHERE bsz <= GREATEST({COSINE_BUCKET_CAP_MIN},
                                  {COSINE_BUCKET_CAP_FACTOR} * ((nc.n + {(1 << PLANES_PER_BAND) - 1}) // {1 << PLANES_PER_BAND}))
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM capped a
            JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cosine_sim FROM (
            SELECT vec_a, vec_b,
                   {_DOT_SQL.format(a='ea.v', b='eb.v')} / (ea.nrm * eb.nrm)
                       AS cosine_sim
            FROM cand
            JOIN e ea ON ea.vec_id = vec_a
            JOIN e eb ON eb.vec_id = vec_b
        )
        WHERE cosine_sim >= {COSINE_DUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-duplicate pairs: sign-LSH bucket self-join "
    "generates candidates (union over 4 bands), exact cosine verifies. "
    "Completes the dedup family (exact / n-gram / MinHash / SimHash / "
    "embedding-cosine). Approximate by design — recall follows the LSH "
    "collision curve, mirrored exactly in the oracle; the demo threshold "
    "is low because synthetic vectors are near-orthogonal. Scale: the "
    "only corpus-sized shuffle is keyed on (band, bucket), and buckets "
    "denser than max(64, 8·⌈n/256⌉) — 8× the uniform expectation — are "
    "dropped from candidate generation on BOTH engines (hot-bucket skew "
    "cap, same semantics as banding.MAX_BAND_BUCKET), so a clustered "
    "corpus can never hand one reducer a quadratic cell.",
    tags=("dedup", "similarity", "lsh", "extension"),
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    buckets = sign_lsh_buckets(e)
    # hot-bucket cap: the (band, bucket) key space is BOUNDED at
    # LSH_BANDS × 2^PLANES_PER_BAND = 1024 keys, so the size table is a
    # partial-aggregated groupBy (map-side combine → ≤1024 rows shuffle)
    # broadcast back as a semi-join — no corpus-width exchange, at any
    # scale. (A window count would shuffle every bucket row; right for
    # unbounded key spaces like MinHash's md5 bands, wasteful here.)
    # The corpus count is a scalar driver decision off the
    # already-persisted frame (same pattern as the sessionize hot-key
    # probe), NOT a data collect.
    cap = _cosine_bucket_cap(e.count())
    ok_buckets = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= cap)
        .select("band", "bucket")
    )
    buckets = buckets.join(F.broadcast(ok_buckets), ["band", "bucket"], "left_semi")
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= COSINE_DUP_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# IVF building blocks: stride seeding, nearest-cell assignment and
# N_PROBE probing.


class StrideRule(NamedTuple):
    """Stride seeding: every stride-th vec_id is a seed, with stride =
    GREATEST(floor, FLOOR(n / cells)) over n = COUNT(*). Only the cell
    count and the floor differ between seeders. Both engines compute
    the stride from the same COUNT with identical double arithmetic,
    so the oracle replays the seeds at every SF."""

    floor: int
    cells: Callable[[Column], Column]  # Spark cell count of the count column
    cells_sql: str  # the same cell count over DuckDB's COUNT(*)


def _stride_seeds(e: DataFrame, rule: StrideRule) -> DataFrame:
    """`e` rows at every stride-th vec_id. The stride is a 1-row
    broadcast frame computed engine-side from COUNT(*): no collect."""
    n = F.count(F.lit(1))
    params = e.agg(
        F.greatest(
            F.lit(rule.floor).cast("bigint"), F.floor(n / rule.cells(n)).cast("bigint")
        ).alias("stride")
    )
    return e.crossJoin(F.broadcast(params)).filter(F.col("vec_id") % F.col("stride") == 0)


def _stride_centroids(e: DataFrame, rule: StrideRule) -> DataFrame:
    """(cent_id, cv, cn): the stride seeds as centroids."""
    return _stride_seeds(e, rule).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )


def _stride_seeds_sql(
    rule: StrideRule, cols: str = "vec_id AS cent_id, v AS cv, nrm AS cn"
) -> str:
    """Oracle twin of _stride_seeds over the `e` CTE; the default
    columns are _stride_centroids'."""
    return f"""
            SELECT {cols} FROM e, (
                SELECT GREATEST({rule.floor}, CAST(FLOOR(COUNT(*) / {rule.cells_sql}) AS BIGINT))
                       AS stride FROM e
            ) WHERE vec_id % stride = 0"""


# Adaptive cells ≈ √n (see the CENT_STRIDE_MIN comment); GREATEST(·,1):
# an empty corpus must yield stride=23, not ÷0.
IVF_STRIDE = StrideRule(
    CENT_STRIDE_MIN,
    lambda n: F.greatest(F.ceil(F.sqrt(n)), F.lit(1)),
    "GREATEST(CEIL(SQRT(COUNT(*))), 1)",
)


def _cent_sim():
    return dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))


# A vector's rank of every centroid: cosine DESC, ties to the lowest cent_id.
_CELL_RANK_SQL = f"""ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DOT_SQL.format(a='e.v', b='cv')} / (e.nrm * cn)
                                    DESC, cent_id
                       ) AS crnk"""


def _assign_nearest(e: DataFrame, cents: DataFrame, keep_v: bool = False) -> DataFrame:
    """(vec_id, cell[, v]): nearest broadcast centroid by cosine, ties
    to the lowest cent_id — as a max_by AGGREGATION, not a row_number
    window. The distinction is the whole cost model: a window must
    shuffle-and-sort every (vector × centroid) expanded row (each
    dragging a 64-double array through the exchange); max_by partial-
    aggregates to one row per vector map-side, so only |corpus| narrow
    rows ever shuffle. Ordering (sim DESC, cent_id ASC) is encoded as
    max of the (sim, -cent_id) struct — identical tie semantics to the
    oracle's ROW_NUMBER ... ORDER BY sim DESC, cent_id."""
    order = F.struct(_cent_sim().alias("s"), (-F.col("cent_id")).alias("t"))
    aggs = [F.max_by("cent_id", order).alias("cell")]
    if keep_v:
        # v is constant per vec_id group — any_value is deterministic here
        aggs.append(F.any_value("v").alias("v"))
    return e.crossJoin(F.broadcast(cents)).groupBy("vec_id").agg(*aggs)


def _assign_sql(cents: str, out: str) -> str:
    """Oracle twin of _assign_nearest: CTE `out`(vec_id, cell, v), each
    vector's nearest centroid of the `cents` CTE."""
    return f"""
        {out} AS (
            SELECT vec_id, cell, v FROM (
                SELECT e.vec_id, cent_id AS cell, e.v, {_CELL_RANK_SQL}
                FROM e CROSS JOIN {cents}
            ) WHERE crnk = 1
        )"""


def _probes(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(query_id, cell): each query's N_PROBE best cells. The query
    SUBSET is filtered before the crossJoin, so the window sorts
    |Q| × cells rows, not corpus × cells."""
    cw = W.partitionBy("vec_id").orderBy(F.desc(_cent_sim()), F.asc("cent_id"))
    return (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .crossJoin(F.broadcast(cents))
        .withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= N_PROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
    )


def _ivf_candidates(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(query_id, neighbor_id): the nprobe-pruned candidate set —
    corpus assigned to its nearest cell, each query probing its
    N_PROBE best cells. Centroids broadcast; the corpus never shuffles
    for assignment — at scale, cell-partitioned storage turns each
    query into a partition-pruned read of nprobe/ncells of the data."""
    assign = _assign_nearest(e, cents).select("vec_id", "cell")
    return (
        assign.join(F.broadcast(_probes(e, cents)), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


# Oracle twin of _ivf_candidates over a `cents` CTE: cand(query_id,
# neighbor_id). The rerank tail (exact cosine or PQ/ADC) is the
# caller's choice.
_IVF_PROBE_SQL = f"""
        {_assign_sql('cents', 'assign')},
        probes AS (
            SELECT vec_id AS query_id, cent_id AS cell FROM (
                SELECT e.vec_id, cent_id, {_CELL_RANK_SQL}
                FROM e CROSS JOIN cents WHERE e.vec_id % {QUERY_MOD} = 0
            ) WHERE crnk <= {N_PROBE}
        ),
        cand AS (
            SELECT DISTINCT query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a ON a.cell = p.cell
            WHERE a.vec_id <> query_id
        )"""


@register(
    "ann_ivf_topk",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        cents AS ({_stride_seeds_sql(IVF_STRIDE)}),
        {_IVF_PROBE_SQL},
        {_COSINE_RERANK_SQL}
    """,
    doc="IVF-style ANN: corpus assigned to the nearest coarse cell; every "
    "23rd vector seeds a centroid (unbiased stride sample standing in "
    "for trained KMeans so the oracle can replay the assignment); "
    "queries probe their 3 best cells; exact cosine rerank within "
    "probed cells. Scale: "
    "centroids broadcast, assignment is one narrow scan, and "
    "cell-partitioned storage turns each query into a partition-pruned "
    "read of nprobe/ncells of the corpus.",
    tags=("similarity", "ivf", "extension"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    return _cosine_rerank(e, _ivf_candidates(e, _stride_centroids(e, IVF_STRIDE)))


# Search-optimal cell count for the TRAINED quantizer: with a fixed
# query fraction 1/QUERY_MOD and fixed N_PROBE, total search cost =
# assignment n·c + probing (n/QUERY_MOD)·N_PROBE·(n/c), minimized at
# c* = √(n·N_PROBE/QUERY_MOD) ≈ √n/4 — not the √n the untrained/
# semdedup stride uses (semantic_dedup's within-cell pair scan costs
# n²/c, so FEWER cells would hurt it; each operator gets its balance
# point). The trained path pays assignment 3× (2 k-median rounds +
# final), so the 4× fewer cells cut its sf10 cost ~97→~30 s.
TRAINED_IVF_STRIDE = StrideRule(
    1,
    lambda n: F.greatest(
        F.ceil(F.sqrt(n * F.lit(float(N_PROBE)) / F.lit(float(QUERY_MOD)))),
        F.lit(1).cast("bigint"),
    ),
    f"GREATEST(CEIL(SQRT(COUNT(*) * {N_PROBE}.0 / {QUERY_MOD}.0)), 1)",
)


def _kmedian_centroids(e: DataFrame, n_iter: int = N_KMEDIAN_ITER) -> DataFrame:
    """Refine the stride seeds with `n_iter` rounds of {assign by
    cosine → centroid = component-wise exact median}. Each round is one
    broadcast-centroids scan (assignment) plus one shuffle of
    (cell, component) pairs (64 rows per vector) for the order-statistic
    update — partitioning-invariant and oracle-replayable, unlike a
    float mean (module header). Empty cells drop out naturally."""
    cents = _stride_centroids(e, TRAINED_IVF_STRIDE)
    for _ in range(n_iter):
        assigned = _assign_nearest(e, cents, keep_v=True).select("cell", "v")
        med = (
            assigned.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(F.percentile("x", 0.5).alias("m"))
        )
        cv = F.transform(F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"])
        cents = (
            med.groupBy("cell")
            .agg(cv.alias("cv"))
            .select(F.col("cell").alias("cent_id"), "cv", norm(F.col("cv")).alias("cn"))
        )
        # materialize each generation (a ~√n-row centroid table):
        # downstream consumes cents twice per round (assignment build +
        # probe build) and twice again in the search; unchecked, every
        # broadcast build re-executes the whole preceding k-median chain
        # (the 2-round train replayed ~4x per query).
        cents = cents.localCheckpoint(eager=True)
    return cents


def _kmedian_iter_sql(prev: str, out: str) -> str:
    """One unrolled k-median iteration as oracle CTEs: `out` centroids
    from `prev` centroids (cent_id, cv, cn)."""
    return f"""
        {_assign_sql(prev, f'a_{out}')},
        m_{out} AS (
            SELECT cell, i, quantile_cont(v[i], 0.5) AS m
            FROM a_{out}, range(1, {DIM + 1}) t(i)
            GROUP BY cell, i
        ),
        {out} AS (
            SELECT cent_id, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS cn
            FROM (SELECT cell AS cent_id, list(m ORDER BY i) AS cv
                  FROM m_{out} GROUP BY cell)
        )
    """


@register(
    "ann_ivf_trained_topk",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        cents0 AS ({_stride_seeds_sql(TRAINED_IVF_STRIDE)}),
        {_kmedian_iter_sql('cents0', 'cents1')},
        {_kmedian_iter_sql('cents1', 'cents')},
        {_IVF_PROBE_SQL},
        {_COSINE_RERANK_SQL}
    """,
    doc="IVF with a TRAINED coarse quantizer: the stride seeds refined "
    f"by {N_KMEDIAN_ITER} k-median iterations (assign by cosine, "
    "centroid = component-wise exact median), then the same "
    "nprobe-probe + exact-rerank search as ann_ivf_topk. Medians, not "
    "means: order statistics are partitioning-invariant and "
    "engine-identical, so the whole training loop is replayed "
    "bit-exactly by the unrolled oracle CTEs — a trained quantizer "
    "that is still driver-verifiable. At scale, training runs once on "
    "a sample, centroids become a static broadcast table, and "
    "cell-partitioned storage prunes each probe to nprobe/ncells of "
    "the corpus.",
    tags=("similarity", "ivf", "kmeans", "extension"),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    return _cosine_rerank(e, _ivf_candidates(e, _kmedian_centroids(e)))


SEMDEDUP_THRESHOLD = 0.4  # matches COSINE_DUP_THRESHOLD for this corpus


@register(
    "semantic_dedup",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        cents AS ({_stride_seeds_sql(IVF_STRIDE)}),
        {_assign_sql('cents', 'a2')},
        dup AS (
            SELECT DISTINCT b.vec_id
            FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e eb ON eb.vec_id = b.vec_id
            WHERE {_DOT_SQL.format(a='ea.v', b='eb.v')} / (ea.nrm * eb.nrm)
                  >= {SEMDEDUP_THRESHOLD}
        )
        SELECT a2.vec_id, cell, dup.vec_id IS NULL AS is_kept
        FROM a2 LEFT JOIN dup ON a2.vec_id = dup.vec_id
        ORDER BY a2.vec_id
    """,
    doc="SemDeDup-style semantic dedup: embeddings are coarse-clustered "
    "by the replayable stride quantizer, and within each cell a vector "
    "is dropped when a lower-id vector in the SAME cell has cosine ≥ "
    f"{SEMDEDUP_THRESHOLD} (greedy lowest-id-wins — the standard "
    "within-cluster approximation; cross-cell dups are by construction "
    "below the coarse-quantizer resolution). Scale: the pair join is "
    "confined to cells (k² per cell with k ≈ corpus/cells), vectors "
    "shuffle once on the cell key, centroids broadcast — the exact "
    "shape of the published SemDeDup recipe.",
    tags=("similarity", "dedup", "extension"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    assign = _assign_nearest(e, _stride_centroids(e, IVF_STRIDE)).select("vec_id", "cell")
    a = assign.join(e, "vec_id")
    lo = a.select("cell", F.col("vec_id").alias("ia"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    hi = a.select("cell", F.col("vec_id").alias("ib"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dup = (
        lo.join(hi, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .filter(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) >= SEMDEDUP_THRESHOLD)
        .select(F.col("ib").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assign.join(dup, "vec_id", "left")
        .select("vec_id", "cell", F.col("dropped").isNull().alias("is_kept"))
        .orderBy("vec_id")
    )


@register(
    "ivf_cell_purity",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        cents AS ({_stride_seeds_sql(IVF_STRIDE)}),
        {_assign_sql('cents', 'a2')},
        s AS (
            SELECT cell, emb.label, COUNT(*) AS n
            FROM a2 JOIN embeddings emb USING (vec_id)
            GROUP BY cell, emb.label
        )
        SELECT cell,
               CAST(SUM(n) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_labels,
               CAST(MAX(n) AS BIGINT) / CAST(SUM(n) AS BIGINT) AS top_label_share
        FROM s
        GROUP BY cell
        ORDER BY cell
    """,
    doc="Coarse-quantizer quality as a first-class, driver-checked "
    "query: every vector assigned to its nearest adaptive-stride cell, "
    "then per-cell purity against the corpus's planted labels "
    "(majority-label share, label spread). The approximation-quality "
    "audit an ANN deployment runs after (re)training its quantizer — "
    "deterministic, so the oracle replays assignment + purity exactly. "
    "Scale: one broadcast-centroids assignment scan, one (cell, label) "
    "partial-agg shuffle.",
    tags=("similarity", "ivf", "profiling", "extension"),
)
def ivf_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    assign = _assign_nearest(e, _stride_centroids(e, IVF_STRIDE)).select("vec_id", "cell")
    s = (
        assign.join(labels, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        s.groupBy("cell")
        .agg(
            F.sum("n").cast("bigint").alias("n_vecs"),
            F.count(F.lit(1)).alias("n_labels"),
            (F.max("n").cast("bigint") / F.sum("n").cast("bigint")).alias(
                "top_label_share"
            ),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# embedding QA: norm / dimensionality audit

UNIT_NORM_TOL = 1e-3  # |norm - 1| band counted as "unit-normalized"


@register(
    "embedding_norm_audit",
    oracle=f"""
        WITH n AS ({_CORPUS_SQL})
        SELECT COUNT(*) AS n_vectors,
               COUNT(DISTINCT len(v)) AS n_dims_distinct,
               CAST(MIN(len(v)) AS BIGINT) AS dim_min,
               CAST(MAX(len(v)) AS BIGINT) AS dim_max,
               MIN(nrm) AS min_norm,
               MAX(nrm) AS max_norm,
               CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
               CAST(SUM(CASE WHEN abs(nrm - 1) <= {UNIT_NORM_TOL} THEN 1 ELSE 0 END) AS BIGINT) AS n_unit
        FROM n
    """,
    doc="Embedding-table quality gate: vector count, dimensionality "
    "consistency, and the norm envelope (zero vectors break cosine "
    "math; mixed dims break every ANN path; a non-unit norm envelope "
    "means the encoder output was not normalized). Every statistic is "
    "order-independent (counts, min/max over bit-identical norm "
    "doubles) so the distributed partial aggregation matches the "
    "oracle exactly — deliberately no mean/stddev, whose "
    "float-summation order differs across engines. Scale: one narrow "
    "map-side-combining aggregation pass, no shuffle beyond the "
    "single-row final combine.",
    tags=("similarity", "profiling", "extension"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    return e.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct(F.size("v")).alias("n_dims_distinct"),
        F.min(F.size("v")).cast("bigint").alias("dim_min"),
        F.max(F.size("v")).cast("bigint").alias("dim_max"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero"),
        F.sum(F.when(F.abs(F.col("nrm") - 1) <= UNIT_NORM_TOL, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unit"),
    )


# Product quantization (ann_pq_topk): the memory-compression half of a
# production ANN stack (IVF selects cells, PQ compresses residents).
# 64-dim doubles (512 B) become PQ_SUBSPACES codes (8 B here): the ADC
# scan reads codes + a per-query lookup table instead of raw vectors —
# the property that lets a 100 TB embedding corpus be scanned from
# memory-resident codes.
PQ_SUBSPACES = 8
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_CODES = 16  # codebook entries per subspace (stride-sampled seeds)
# the codebook seeds: PQ_CODES stride-sampled vectors
PQ_CODEBOOK_STRIDE = StrideRule(1, lambda n: F.lit(float(PQ_CODES)), f"{PQ_CODES}.0")

_PQ_L2_SQL = (
    f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)
_PQ_DOT_SQL = (
    f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), i -> {{a}}[i] * {{b}}[i]))"
)


def _pq_l2_col(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_split(df: DataFrame, key: str, out: str) -> DataFrame:
    """(s, key, out): one row per 1-based subspace s, `out` being the
    s-th contiguous PQ_SUBDIM-dim slice of df's `v`."""
    subs = F.array(
        *[F.slice(F.col("v"), s * PQ_SUBDIM + 1, PQ_SUBDIM) for s in range(PQ_SUBSPACES)]
    )
    return df.select(key, F.posexplode(subs).alias("s0", out)).select(
        (F.col("s0") + 1).alias("s"), key, out
    )


def _pq_split_sql(key: str, src: str, out: str) -> str:
    """Oracle twin of _pq_split over the `src` CTE."""
    return f"""
            SELECT {key}, s,
                   list_slice(v, (s - 1) * {PQ_SUBDIM} + 1, s * {PQ_SUBDIM}) AS {out}
            FROM {src}, range(1, {PQ_SUBSPACES + 1}) t(s)"""


def _pq_codebook(e: DataFrame) -> DataFrame:
    """(s, code, cvec): PQ_CODES stride-sampled seed vectors, sliced
    into one codebook entry per subspace."""
    seeds = _stride_seeds(e, PQ_CODEBOOK_STRIDE).select("vec_id", "v")
    # the seed set is PQ_CODES-sized: a global row_number over ~16 rows
    codes = seeds.select(
        F.row_number().over(W.orderBy("vec_id")).alias("code"), "v"
    )
    return _pq_split(codes, "code", "cvec")


def _pq_encode(e: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, s, code, d): argmin-L2 code per subspace, ties to the
    lower code id; `d` is the winning subspace L2 distance.

    Argmin as a min_by AGGREGATION, not a row_number window — the same
    cost model as _assign_nearest: a window must shuffle-and-sort every
    (vector × subspace × code) expanded row (n × 128 here — 640M rows
    at sf100); min_by partial-aggregates map-side, so only n × 8 winner
    rows ever shuffle. Tie rule identical to the oracle's
    ROW_NUMBER ... ORDER BY d ASC, code ASC: min of the (d, code)
    struct. The winner's d is MIN(d) (ties share the same d)."""
    esub = _pq_split(e, "vec_id", "sub")
    d = _pq_l2_col(F.col("sub"), F.col("cvec"))
    return (
        esub.join(F.broadcast(codebook), "s")
        .select("vec_id", "s", "code", d.alias("d"))
        .groupBy("vec_id", "s")
        .agg(
            F.min_by("code", F.struct(F.col("d"), F.col("code"))).alias("code"),
            F.min("d").alias("d"),
        )
    )


def _pq_codes_wide(enc: DataFrame) -> DataFrame:
    """(vec_id, codes: array[PQ_SUBSPACES]): the stored PQ code row —
    8 one-byte codes standing in for 64 doubles."""
    return enc.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))), lambda t: t["code"]
        ).alias("codes")
    )


def _pq_query_luts(e: DataFrame, codebook: DataFrame) -> DataFrame:
    """(query_id, pls): per-query ADC lookup tables — pls[s][code] =
    dot(query subvector s, codebook entry). |Q| rows of
    PQ_SUBSPACES × PQ_CODES doubles; always broadcast."""
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    qsub = _pq_split(q, "query_id", "qs")
    qp = qsub.join(F.broadcast(codebook), "s").select(
        "query_id", "s", "code", dot(F.col("qs"), F.col("cvec")).alias("p")
    )
    qs_ = qp.groupBy("query_id", "s").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("code", "p"))), lambda t: t["p"]
        ).alias("plist")
    )
    return qs_.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "plist"))), lambda t: t["plist"]
        ).alias("pls")
    )


def _pq_adc_score() -> F.Column:
    """The ADC inner product: a FIXED-ORDER chain of the 8 per-subspace
    lookups (sum order is part of the cross-engine contract)."""
    score = F.element_at(F.element_at("pls", 1), F.element_at(F.col("codes"), 1))
    for s in range(2, PQ_SUBSPACES + 1):
        score = score + F.element_at(
            F.element_at("pls", s), F.element_at(F.col("codes"), s)
        )
    return score


# Shared oracle CTE chain: corpus → stride-seeded codebook →
# per-subspace argmin-L2 encoding (carrying the winning distance `d`,
# which pq_reconstruction_error folds into the per-vector error).
_PQ_ENC_SQL = f"""
        e AS ({_CORPUS_SQL}),
        seeds AS ({_stride_seeds_sql(PQ_CODEBOOK_STRIDE, 'ROW_NUMBER() OVER (ORDER BY vec_id) AS code, v')}),
        codebook AS ({_pq_split_sql('code', 'seeds', 'cvec')}),
        esub AS ({_pq_split_sql('vec_id', 'e', 'sub')}),
        enc AS (
            SELECT vec_id, s, code, d FROM (
                SELECT esub.vec_id, esub.s, cb.code,
                       {_PQ_L2_SQL.format(a='sub', b='cvec')} AS d,
                       ROW_NUMBER() OVER (
                           PARTITION BY esub.vec_id, esub.s
                           ORDER BY {_PQ_L2_SQL.format(a='sub', b='cvec')} ASC,
                                    cb.code ASC
                       ) AS crnk
                FROM esub JOIN codebook cb ON esub.s = cb.s
            ) WHERE crnk = 1
        )
"""

# The PQ search side as oracle CTEs, twins of _pq_codes_wide and
# _pq_query_luts: codes_w(vec_id, codes) and qw(query_id, pls).
_PQ_LUT_SQL = f"""
        codes_w AS (
            SELECT vec_id, list(code ORDER BY s) AS codes FROM enc GROUP BY vec_id
        ),
        q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % {QUERY_MOD} = 0),
        qsub AS ({_pq_split_sql('query_id', 'q', 'qs')}),
        qp AS (
            SELECT query_id, qsub.s, cb.code,
                   {_PQ_DOT_SQL.format(a='qs', b='cvec')} AS p
            FROM qsub JOIN codebook cb ON qsub.s = cb.s
        ),
        qs_ AS (
            SELECT query_id, s, list(p ORDER BY code) AS plist
            FROM qp GROUP BY query_id, s
        ),
        qw AS (
            SELECT query_id, list(plist ORDER BY s) AS pls
            FROM qs_ GROUP BY query_id
        )"""
# Oracle twin of _pq_adc_score, in the same fixed order.
_PQ_ADC_SQL = " + ".join(f"pls[{s}][codes[{s}]]" for s in range(1, PQ_SUBSPACES + 1))


@register(
    "ann_pq_topk",
    oracle=f"""
        WITH {_PQ_ENC_SQL},
        {_PQ_LUT_SQL},
        scored AS (
            SELECT qw.query_id, cw.vec_id AS neighbor_id, {_PQ_ADC_SQL} AS pq_score
            FROM codes_w cw CROSS JOIN qw
            WHERE cw.vec_id <> qw.query_id
        )
        {_TOP_K_SQL.format(score='pq_score')}
        ORDER BY query_id, rnk
    """,
    doc=f"Product-quantization ANN: the corpus is encoded as "
    f"{PQ_SUBSPACES} one-byte codes (argmin-L2 against a "
    f"{PQ_CODES}-entry stride-seeded codebook per {PQ_SUBDIM}-dim "
    "subspace), and queries rank neighbors by ADC — the inner product "
    "reconstructed as a fixed-order sum of per-subspace lookup-table "
    "entries. Stride seeds stand in for trained k-means exactly like "
    "ann_ivf_topk's coarse cells, so the oracle replays the codebook, "
    "the encoding, and every score bit-identically. Scale: the "
    "codebook (128 rows) and the per-query tables broadcast; encoding "
    "is one corpus scan; the ADC scan reads 8 codes/vector instead of "
    "64 doubles — 64x less memory traffic than brute force, and at "
    "cluster scale codes are encoded once, stored, and reused across "
    "query batches (pair with IVF cells to prune the scan itself).",
    tags=("similarity", "pq", "extension"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    codebook = _pq_codebook(e)
    codes_w = _pq_codes_wide(_pq_encode(e, codebook))
    qw = _pq_query_luts(e, codebook)
    scored = (
        codes_w.join(F.broadcast(qw), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pq_adc_score().alias("pq_score"),
        )
    )
    return _top_k(scored, "pq_score").orderBy("query_id", "rnk")


@register(
    "pq_reconstruction_error",
    oracle=f"""
        WITH {_PQ_ENC_SQL},
        per_vec AS (
            -- per-vector error = fold of the 8 subspace L2 terms in
            -- FIXED s-order (list_sum over an ORDER BY s list is the
            -- same sequential fold Spark's F.aggregate performs); a
            -- plain SUM would be accumulation-order-dependent
            SELECT vec_id, list_sum(list(d ORDER BY s)) AS err
            FROM enc GROUP BY vec_id
        )
        SELECT COUNT(*) AS n_vectors,
               quantile_cont(err, 0.5) AS median_err,
               quantile_cont(err, 0.9) AS p90_err,
               MAX(err) AS max_err
        FROM per_vec
    """,
    doc="Quantizer QA for the ann_pq_topk codebook: per-vector "
    "reconstruction error (sum of the 8 winning subspace L2 "
    "distances), summarized as exact order statistics — median/p90/"
    "max, never a float mean, so both engines report identical "
    "doubles (same policy as quantity_quartiles / "
    "embedding_norm_audit). The production use: decide whether "
    f"{PQ_CODES} codes per subspace is enough before freezing a "
    "codebook for a 100 TB encode run. Cost: one encode scan + a "
    "per-vector 8-row fold; no pair join at all.",
    tags=("similarity", "pq", "profiling", "extension"),
)
def pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    enc = _pq_encode(e, _pq_codebook(e))
    per_vec = enc.groupBy("vec_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "d"))), lambda t: t["d"]
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("err")
    )
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.percentile("err", 0.5).alias("median_err"),
        F.percentile("err", 0.9).alias("p90_err"),
        F.max("err").alias("max_err"),
    )


# Cell count for the IVF+PQ composition. The balance point moves when
# the reranker gets cheaper: assignment costs n·c·DIM multiplies, the
# ADC rerank costs |Q|·nprobe·(n/c)·PQ_SUBSPACES table lookups — per
# candidate ~8× cheaper than an exact 64-dim dot. Minimizing the sum
# gives c* = √(n·N_PROBE/(8·QUERY_MOD)) ≈ √n/11.5 — fewer, fatter
# cells than either exact-rerank path, because cheap reranks make big
# candidate lists affordable while assignment stays the dominant scan.
IVFPQ_STRIDE = StrideRule(
    1,
    lambda n: F.greatest(
        F.ceil(F.sqrt(n * F.lit(float(N_PROBE)) / F.lit(8.0 * QUERY_MOD))),
        F.lit(1).cast("bigint"),
    ),
    f"GREATEST(CEIL(SQRT(COUNT(*) * {N_PROBE}.0 / (8.0 * {QUERY_MOD}.0))), 1)",
)


def pq_index_dir(sf_dir: str) -> str:
    """Fingerprinted location of the stored IVF+PQ code table for
    sf_dir's embeddings — same protocol as dedup.minhash_index_dir
    (sinks/versioned.py fingerprint_dir)."""
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "embeddings", "pq_")


def build_pq_index(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Encode the corpus ONCE and publish the full IVF+PQ index as
    versioned snapshots: the code table (vec_id, cell, codes) plus the
    two tiny frames queries need — coarse centroids and the PQ
    codebook. The index-build half of the stack (assignment scan + PQ
    encode) is paid per corpus version, not per query batch, and the
    query path never rescans raw corpus vectors. Returns the code
    table's published version."""
    import os as _os

    from ..sinks.versioned import write_snapshot

    e = _emb_with_norm(spark, sf_dir)
    cents = _stride_centroids(e, IVFPQ_STRIDE)
    codebook = _pq_codebook(e)
    coded = _assign_nearest(e, cents).select("vec_id", "cell").join(
        _pq_codes_wide(_pq_encode(e, codebook)), "vec_id"
    )
    write_snapshot(cents, _os.path.join(table_dir, "cents"))
    write_snapshot(codebook, _os.path.join(table_dir, "codebook"))
    return write_snapshot(coded, _os.path.join(table_dir, "codes"))


def extend_pq_index(spark: SparkSession, table_dir: str, new_vectors: DataFrame) -> int:
    """Fold NEW vectors into the stored IVF+PQ index — the ANN twin of
    dedup.extend_minhash_index's nightly lifecycle: the delta batch
    pays assignment + encoding against the FROZEN quantizers (the
    centroid and codebook snapshots are read back, never retrained —
    retraining would silently invalidate every stored code), and the
    corpus side is a snapshot scan of already-encoded rows. Publishes
    codes v+1; readers mid-search keep v (snapshot isolation); old
    versions are reclaimed by sinks.versioned.vacuum_snapshots.
    `new_vectors` is (vec_id, v: array<double>)."""
    import os as _os

    from ..sinks.versioned import read_snapshot, write_snapshot

    cents = read_snapshot(spark, _os.path.join(table_dir, "cents"))
    codebook = read_snapshot(spark, _os.path.join(table_dir, "codebook"))
    codes = read_snapshot(spark, _os.path.join(table_dir, "codes"))
    e = new_vectors.select("vec_id", "v", norm(F.col("v")).alias("nrm"))
    delta = _assign_nearest(e, cents).select("vec_id", "cell").join(
        _pq_codes_wide(_pq_encode(e, codebook)), "vec_id"
    )
    return write_snapshot(
        codes.unionByName(delta), _os.path.join(table_dir, "codes")
    )


@register(
    "ann_ivfpq_topk",
    oracle=f"""
        WITH {_PQ_ENC_SQL},
        {_PQ_LUT_SQL},
        cents AS ({_stride_seeds_sql(IVFPQ_STRIDE)}),
        {_IVF_PROBE_SQL},
        scored AS (
            SELECT c.query_id, c.neighbor_id, {_PQ_ADC_SQL} AS pq_score
            FROM cand c
            JOIN codes_w cw ON cw.vec_id = c.neighbor_id
            JOIN qw ON qw.query_id = c.query_id
        )
        {_TOP_K_SQL.format(score='pq_score')}
        ORDER BY query_id, rnk
    """,
    doc="The production ANN stack: IVF selects, PQ compresses, and the "
    "index is STORED — build_pq_index publishes (vec_id, cell, codes) "
    "plus centroids and codebook as versioned snapshots (same protocol "
    "as the MinHash dedup index), so query batches read 8 codes/vector "
    "from the snapshot scan and never re-encode or rescan raw corpus "
    "vectors. Coarse stride cells prune each query's scan to its "
    "N_PROBE best cells (ann_ivf_topk's candidate machinery), then the "
    f"candidates are ranked by ADC over stored {PQ_SUBSPACES}-byte PQ "
    "codes (exactly ann_pq_topk's scorer) — never touching the raw "
    "vectors at query time. The cell count is ADC-optimal (√n/11.5 — "
    "fewer, fatter cells than the exact-rerank paths, because an 8× "
    "cheaper rerank makes big candidate lists affordable while the "
    "assignment scan dominates). Both halves are stride-seeded and "
    "deterministic, so the oracle replays the codebook, the cells, the "
    "candidate set, and every score bit-identically. Scale: vs "
    "ann_ivf_trained_topk the rerank reads 8 codes/vector instead of "
    "64 doubles (64x less memory traffic on the scan that dominates); "
    "vs ann_pq_topk the ADC scan shrinks from the full corpus to "
    f"~{N_PROBE}/cells of it. Candidates join on neighbor_id against "
    "the code table — at cluster scale codes are encoded once, stored "
    "cell-partitioned, and each probe is a partition-pruned read.",
    tags=("similarity", "ivf", "pq", "extension"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..sinks.versioned import ensure_snapshot, read_snapshot

    # the stored index: (vec_id, cell, codes) — assignment + PQ encode
    # paid ONCE per corpus version (build_pq_index), published as a
    # versioned snapshot exactly like the MinHash dedup index. The
    # query path below reads 8 codes/vector from the snapshot scan and
    # never touches raw corpus vectors (only the |Q| query vectors for
    # probes/LUTs) — the memory-traffic property that makes PQ PQ.
    table_dir = pq_index_dir(sf_dir)
    codes_dir = _os.path.join(table_dir, "codes")  # the build writes it last
    ensure_snapshot(codes_dir, lambda: build_pq_index(spark, sf_dir, table_dir))
    coded = read_snapshot(spark, codes_dir)
    cents = read_snapshot(spark, _os.path.join(table_dir, "cents"))
    codebook = read_snapshot(spark, _os.path.join(table_dir, "codebook"))
    # only the |Q| query vectors are read from the raw table
    e = _emb_with_norm(spark, sf_dir)
    # candidates never materialize: broadcast probes expand the coded
    # scan map-side ((query, neighbor) is already unique — one cell per
    # neighbor, distinct cells per query), ADC scores against the
    # broadcast per-query LUTs in the same stage; the only wide
    # exchange after the index build is the per-query top-k window
    scored = (
        coded.join(F.broadcast(_probes(e, cents)), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(_pq_query_luts(e, codebook)), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pq_adc_score().alias("pq_score"),
        )
    )
    return _top_k(scored, "pq_score").orderBy("query_id", "rnk")


# ---------------------------------------------------------------------------
# int8 affine quantization audit. PQ compresses for the ADC SCAN;
# plain per-dimension int8 (scale/zero-point, the faiss SQ8 /
# vector-DB storage format) compresses the STORED table 8× while
# keeping exact-ish dots — the first compression lever a 100 TB
# embedding store reaches for. Before flipping it, a deployment needs
# the round-trip error envelope.


@register(
    "int8_quantization_audit",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        mm AS (
            SELECT i, MIN(v[i]) AS mn,
                   (MAX(v[i]) - MIN(v[i])) / 255.0 AS s
            FROM e, range(1, {DIM + 1}) t(i) GROUP BY i
        ),
        err AS (
            SELECT vec_id,
                   MAX(ABS(v[i] - CASE WHEN s = 0 THEN mn
                       ELSE mn + LEAST(255.0, GREATEST(0.0,
                                FLOOR((v[i] - mn) / s + 0.5))) * s END))
                       AS verr
            FROM e, range(1, {DIM + 1}) t(i) JOIN mm USING (i)
            GROUP BY vec_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               quantile_cont(verr, 0.5) AS median_err,
               quantile_cont(verr, 0.9) AS p90_err,
               MAX(verr) AS max_err
        FROM err
    """,
    doc="Per-dimension affine int8 quantization audit (the faiss-SQ8 / "
    "vector-store storage format: per-dim scale = (max-min)/255, "
    "zero-point = min): quantize -> dequantize every vector and report "
    "the per-vector MAX absolute error as exact order statistics — "
    "median/p90/max, never a float mean (same cross-engine policy as "
    "pq_reconstruction_error). Rounding is floor(x + 0.5) in BOTH "
    "engines — identical IEEE ops, unlike engine-native round() whose "
    "half-way tie rules differ. Scale: one corpus scan for the 128 "
    "partial-aggregated min/max columns (1-row broadcast frame), one "
    "scan for the per-row error fold; no shuffle wider than 64 rows.",
    tags=("similarity", "quantization", "profiling", "extension"),
)
def int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    mm = e.agg(
        F.array(
            *[F.min(F.element_at("v", i)) for i in range(1, DIM + 1)]
        ).alias("mn"),
        F.array(
            *[
                (
                    (F.max(F.element_at("v", i)) - F.min(F.element_at("v", i)))
                    / F.lit(255.0)
                )
                for i in range(1, DIM + 1)
            ]
        ).alias("s"),
    )

    def err_elem(x, i):
        mn_i = F.element_at(F.col("mn"), i + 1)
        s_i = F.element_at(F.col("s"), i + 1)
        q = F.least(
            F.lit(255.0),
            F.greatest(
                F.lit(0.0), F.floor((x - mn_i) / s_i + F.lit(0.5)).cast("double")
            ),
        )
        dq = F.when(s_i == 0.0, mn_i).otherwise(mn_i + q * s_i)
        return F.abs(x - dq)

    per_vec = e.crossJoin(F.broadcast(mm)).select(
        "vec_id", F.array_max(F.transform("v", err_elem)).alias("verr")
    )
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.percentile("verr", 0.5).alias("median_err"),
        F.percentile("verr", 0.9).alias("p90_err"),
        F.max("verr").alias("max_err"),
    )


# ---------------------------------------------------------------------------
# Truncated-dimension recall audit. The cheapest ANN lever at 100 TB
# is not a better index — it is fewer dimensions: scoring on a 16-dim
# prefix cuts memory traffic 4× before IVF/PQ even start (and
# Matryoshka-style models train so prefixes stay meaningful). Before a
# deployment flips that switch it needs the recall number: how much of
# the TRUE full-dim top-k does prefix scoring keep?

TRUNC_DIM = 16
_DOT16_SQL = "list_sum(list_transform(range(1, 17), i -> {a}[i] * {b}[i]))"


@register(
    "truncated_ann_recall",
    oracle=f"""
        WITH e AS ({_CORPUS_SQL}),
        et AS (
            SELECT vec_id, v, nrm,
                   sqrt({_DOT16_SQL.format(a='v', b='v')}) AS nrm16
            FROM e
        ),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {_QUERY_COSINE_SQL} AS sim_full,
                   {_DOT16_SQL.format(a='q.v', b='e.v')} / (q.nrm16 * e.nrm16) AS sim_trunc
            FROM et q JOIN et e ON q.vec_id <> e.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ),
        fk AS ({_TOP_K_SQL.format(score='sim_full')}),
        tk AS ({_TOP_K_SQL.format(score='sim_trunc')}),
        matches AS (
            SELECT f.query_id, COUNT(*) AS m
            FROM fk f JOIN tk t
              ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
            GROUP BY 1
        ),
        qs AS (SELECT vec_id AS query_id FROM e WHERE vec_id % {QUERY_MOD} = 0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CASE WHEN COUNT(*) > 0 THEN
                   CAST(SUM(COALESCE(m, 0)) AS DOUBLE) / ({TOP_K} * COUNT(*))
               END AS mean_recall,
               CASE WHEN COUNT(*) > 0 THEN
                   CAST(MIN(COALESCE(m, 0)) AS DOUBLE) / {TOP_K}
               END AS min_recall
        FROM qs LEFT JOIN matches USING (query_id)
    """,
    doc=f"Recall audit for prefix-truncated embeddings: brute-force "
    f"top-{TOP_K} on the first {TRUNC_DIM} of {DIM} dims vs the "
    f"full-dim top-{TOP_K} (identical tie-breaks), reported as "
    "mean/min recall over the query subset. One corpus scan computes "
    "both scores (queries broadcast); mean_recall is a single "
    "exact-integer division, engine-exact. The go/no-go number before "
    "trading 4x memory traffic for recall at the 100 TB tier.",
    tags=("similarity", "profiling", "extension"),
)
def truncated_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_with_norm(spark, sf_dir)
    v16 = F.slice(F.col("v"), 1, TRUNC_DIM)
    et = e.select("vec_id", "v", "nrm", v16.alias("v16")).select(
        "vec_id", "v", "nrm", "v16", norm(F.col("v16")).alias("nrm16")
    )
    q = et.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("v16").alias("qv16"),
        F.col("nrm16").alias("qn16"),
    )
    scored = et.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("sim_full"),
        (
            dot(F.col("qv16"), F.col("v16")) / (F.col("qn16") * F.col("nrm16"))
        ).alias("sim_trunc"),
    )
    scored = track_persist(scored, StorageLevel.MEMORY_AND_DISK)
    fk = _top_k(scored, "sim_full").select("query_id", "neighbor_id")
    tk = _top_k(scored, "sim_trunc").select("query_id", "neighbor_id")
    # fk/tk/matches are |Q| x TOP_K rows. |Q| is corpus/QUERY_MOD —
    # SF-scaled — so these carry NO static broadcast hint (a hint
    # bypasses the 8 GiB broadcast ceiling). The
    # intersection join AQE-broadcasts at runtime; the zero-match
    # queries the oracle's LEFT JOIN accounts for are folded in
    # arithmetically instead (matched-query count vs total-query
    # count), so the final combine is a 1-row x 1-row bounds join —
    # nothing |Q|-sized moves after the windows.
    matches = fk.join(tk, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("m"))
    nq_row = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("nq"))
    )
    m_row = matches.agg(
        F.count(F.lit(1)).alias("nm"),
        F.sum("m").alias("sm"),
        F.min("m").alias("mn"),
    )
    nq = F.col("nq")
    # min over ALL queries: 0 whenever some query had no surviving match
    mmin = F.when(F.col("nm") < nq, F.lit(0)).otherwise(F.col("mn"))
    return nq_row.crossJoin(F.broadcast(m_row)).select(
        nq.alias("n_queries"),
        F.when(
            nq > 0,
            F.coalesce(F.col("sm"), F.lit(0)).cast("double") / (TOP_K * nq),
        ).alias("mean_recall"),
        F.when(nq > 0, mmin.cast("double") / TOP_K).alias("min_recall"),
    )
