"""Iterative graph operator: connected components via distributed
min-label propagation — the clustering step a dedup pipeline runs over
its near-dup pair lists (pairs → clusters → one canonical doc each).

Scale design (100 TB posture):
- Each iteration is one shuffle: edges ⋈ labels (hash on node id) →
  min-aggregate → label update. No driver-side graph state — the
  driver only sees the scalar `changed` count per iteration.
- Each iteration is neighbor-min propagation PLUS a pointer-jump step
  (lbl ← lbl(lbl): join labels against itself on the label id). The
  jump is what turns O(diameter) convergence into O(log diameter) —
  a 100-node chain converges in ~8 rounds instead of 99, so the
  MAX_ITERATIONS cap is a true safety net, not a correctness cliff.
  Near-dup clusters (diameter 2-3) still converge in 2 rounds; the
  extra self-join costs one more narrow (node, lbl) shuffle per round.
- Each generation is localCheckpoint(eager)-ed: the materialized rows
  are cached (MEMORY_AND_DISK, like a persist) AND the logical plan
  becomes a LogicalRDD *leaf*. The leaf is what makes high diameters
  safe: `labels` feeds both sides of each iteration's join, so a
  persist-only loop doubles the logical-plan tree every round (2^d
  nodes at diameter d — analyzer/plan-rendering blowup long before
  the data is ever recomputed; a 100-node chain OOMed the driver at
  depth ~10). With a leaf per generation every iteration plans over
  two cached leaves, period. Reclaim: checkpoint caches live at the
  RDD level, OUTSIDE the SQL CacheManager, so DataFrame.unpersist()
  cannot free them — instead the loop drops the Python reference to
  each superseded generation as soon as its successor materializes,
  which releases the Py4J handle and lets the ContextCleaner unpersist
  the backing RDD at the next JVM GC. Live references are always the
  two newest generations (O(|nodes|) rows each); superseded ones are
  GC-pending, not held for the life of the loop.

Oracle: through round 3 this was a DuckDB recursive CTE computing min
reachable label. That spec materializes node-node edges (O(bucket³)
per iteration) and never finished at sf1; the registered query's
oracle now computes the same fixpoint through the edge relation's
algebraic shortcut (see the dedup_clusters registration below). The
general iterative operators here remain pinned on arbitrary graphs by
tests/test_graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import load_table, spread_scan
from ..functions.text import normalize_text
from ..registry import register, track_cached

MAX_ITERATIONS = 50

from ..functions.text import NORM_SQL as _NORM_SQL  # noqa: E402 — oracle twin of normalize_text


# bounded wait for the CC loop's Observation read (see _observed_changed)
_OBSERVATION_WAIT_S = 300.0


def _observed_changed(obs: Observation, checkpointed: DataFrame) -> int:
    """Read the loop's fused convergence metric with a bounded wait.

    `Observation.get` relies on eager localCheckpoint materializing
    through `withAction` (which fires the QueryExecutionListener that
    populates the Observation). That holds on Spark 3.5/4.x but is
    undocumented; if a future version materializes checkpoints outside
    the listener path, a bare `obs.get` would hang the loop forever.
    Bounded wait + fall back to the direct count probe (two jobs per
    iteration instead of one: correct, just slower). The reader is a
    daemon thread, so a hung `obs.get` never blocks interpreter exit."""
    import threading

    box: dict = {}

    def read() -> None:
        try:
            box["changed"] = obs.get["changed"]
        except Exception as exc:  # re-raised on the caller's thread
            box["error"] = exc

    reader = threading.Thread(target=read, name="cc-observation", daemon=True)
    reader.start()
    reader.join(_OBSERVATION_WAIT_S)
    if "error" in box:
        raise box["error"]
    if "changed" not in box:
        return checkpointed.filter("lbl != old_lbl").count()
    return int(box["changed"] or 0)


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = MAX_ITERATIONS
) -> DataFrame:
    """(node, component) for an undirected graph; component = min node
    id reachable. `nodes`: one column `node`; `edges`: columns (a, b).
    """
    # materialize the symmetric edge list once — every iteration joins
    # against it, and re-deriving the near-dup self-joins per round
    # would dominate the loop
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()
    labels = nodes.select("node", F.col("node").alias("lbl")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    labels.count()
    gen = labels  # persisted backing store of the current generation
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.a, "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            F.col("lbl").alias("old_lbl"),
        )
        # pointer jump: lbl ← lbl(lbl). Labels always name a node of the
        # same component and only decrease, so the fixpoint (component
        # min) is unchanged — but label distance now shrinks
        # geometrically: O(log diameter) rounds (module doc).
        lut = stepped.select(F.col("node").alias("jnode"), F.col("lbl").alias("jlbl"))
        # eager localCheckpoint = materialize + cache + plan-leaf (module
        # doc: labels feeds BOTH join sides, so anything short of a leaf
        # doubles the logical plan every iteration). Only after the
        # successor is materialized may the previous generation be
        # dropped — releasing the parent early would force a recompute
        # of the whole chain.
        # r10: the convergence metric rides the checkpoint job itself
        # (df.observe fires when eager localCheckpoint materializes the
        # rows) — one job per iteration instead of checkpoint + count.
        obs = Observation()
        new_gen = (
            stepped.join(lut, stepped.lbl == lut.jnode, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("jlbl"), F.col("lbl"))).alias("lbl"),
                "old_lbl",
            )
            .observe(obs, F.sum((F.col("lbl") != F.col("old_lbl")).cast("long")).alias("changed"))
            .localCheckpoint(eager=True)
        )
        changed = _observed_changed(obs, new_gen)
        # Free the superseded generation. Iteration 1's `gen` is the
        # persist()-ed seed frame, which unpersist() frees directly;
        # every later `gen` is a checkpoint leaf whose cache is
        # RDD-level (not in the SQL CacheManager), so unpersist() is a
        # no-op for it — the real release is the reference drop on the
        # next line (`gen = new_gen`), after which the ContextCleaner
        # reclaims the RDD cache at the next JVM GC (module doc).
        gen.unpersist()
        gen = new_gen
        labels = new_gen.select("node", "lbl")  # narrow view over the cache
        if changed == 0:
            break
    sym.unpersist()
    # Ledger the final generation: for a persisted seed (0-iteration
    # exit) the drain unpersists it; for a checkpoint leaf the drain's
    # value is dropping the last Python reference → ContextCleaner.
    track_cached(gen)
    return labels.select("node", F.col("lbl").alias("component"))


def connected_components_bipartite(
    assignments: DataFrame, max_iterations: int = MAX_ITERATIONS
) -> DataFrame:
    """(node, component) where nodes are connected iff they share an
    attribute. `assignments`: columns (node, attr).

    Alternating min-label propagation over the bipartite node↔attr
    graph: attr label = min over its nodes, node label = min over its
    attrs. Crucially this NEVER materializes node-node edges — a hot
    attribute (k nodes sharing one bucket) costs k rows, not k². This
    is the formulation that survives boilerplate-heavy corpora where
    per-bucket pair explosion kills the edge-list approach.
    """
    a = assignments.select("node", "attr").persist(StorageLevel.MEMORY_AND_DISK)
    a.count()
    labels = (
        a.select("node").distinct().select("node", F.col("node").alias("lbl"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    gen = labels  # persisted backing store of the current generation
    for _ in range(max_iterations):
        attr_min = (
            a.join(labels, "node").groupBy("attr").agg(F.min("lbl").alias("albl"))
        )
        node_min = a.join(attr_min, "attr").groupBy("node").agg(F.min("albl").alias("nlbl"))
        stepped = labels.join(node_min, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            F.col("lbl").alias("old_lbl"),
        )
        # pointer jump (see connected_components): O(log diameter)
        lut = stepped.select(F.col("node").alias("jnode"), F.col("lbl").alias("jlbl"))
        # eager localCheckpoint: materialize + cache + plan-leaf (see
        # connected_components — the leaf is what bounds plan growth)
        # r10: convergence metric fused into the checkpoint job via
        # observe (see connected_components) — one job per iteration.
        obs = Observation()
        new_gen = (
            stepped.join(lut, stepped.lbl == lut.jnode, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("jlbl"), F.col("lbl"))).alias("lbl"),
                "old_lbl",
            )
            .observe(obs, F.sum((F.col("lbl") != F.col("old_lbl")).cast("long")).alias("changed"))
            .localCheckpoint(eager=True)
        )
        changed = _observed_changed(obs, new_gen)
        # unpersist() frees the persist()-ed seed on iteration 1; later
        # generations are checkpoint leaves freed by reference drop +
        # ContextCleaner (see connected_components / module doc)
        gen.unpersist()
        gen = new_gen
        labels = new_gen.select("node", "lbl")  # narrow view over the cache
        if changed == 0:
            break
    a.unpersist()
    track_cached(gen)  # drained by the next registered-query invocation
    return labels.select("node", F.col("lbl").alias("component"))


@register(
    "dedup_clusters",
    # Oracle note (round 4): through round 3 this oracle was the
    # recursive-CTE transitive closure of the pair relation
    # (edges = same fp OR same msf). That declarative spec is
    # O(Σ bucket³) — at sf1 this synthetic corpus has only 659
    # distinct min-shingle fingerprints (31-word vocab), max bucket
    # 4391 docs, so the CTE's per-iteration reach⋈edges join is
    # ~8×10^10 rows and DuckDB never finishes (>25 min, killed) while
    # the Spark bipartite CC — which NEVER materializes node-node
    # edges — completes in seconds. For THIS edge relation the closure
    # has an exact algebraic shortcut: fp = md5(norm) and msf = f(norm)
    # are both functions of norm, so same-fp ⟹ same-msf, fp-edges are
    # subsumed by msf-edges, and components are exactly the msf
    # partition classes. The oracle computes that shortcut (a single
    # window MIN — a completely independent algorithm from the Spark
    # side's iterative label propagation, which still exercises the
    # general fixpoint machinery pinned by tests/test_graph.py on
    # arbitrary graphs). NULL text ⇒ NULL msf: the Spark equi-join on
    # attr never matches NULL, leaving null-text docs as singleton
    # clusters — the oracle's CASE mirrors that instead of letting
    # PARTITION BY group every NULL into one cluster.
    oracle=f"""
        WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
        f AS (
            SELECT doc_id,
                   CASE WHEN length(norm) >= 8 THEN
                       list_min(list_transform(range(1, length(norm) - 6),
                                i -> md5(norm[i:i+7])))
                   ELSE md5(norm) END AS msf
            FROM n
        )
        SELECT doc_id,
               CASE WHEN msf IS NULL THEN doc_id
                    ELSE MIN(doc_id) OVER (PARTITION BY msf) END AS cluster_id,
               (doc_id = CASE WHEN msf IS NULL THEN doc_id
                              ELSE MIN(doc_id) OVER (PARTITION BY msf) END)
                   AS is_canonical
        FROM f
        ORDER BY doc_id
    """,
    doc="Dedup clustering: connected components over the near-dup graph "
    "(edges = same exact content fingerprint OR same min-shingle "
    "fingerprint), one canonical doc per cluster (min doc_id). Spark "
    "side is iterative min-label propagation (one shuffle per round, "
    "converges in O(log diameter) rounds); the oracle computes the "
    "same fixpoint through the edge relation's algebraic shortcut "
    "(fp ⟹ msf, so components = msf classes) — see oracle note.",
    tags=("dedup", "graph", "iterative", "extension"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-char shingle hashing is the dominant map cost — spread the
    # single-file test scan (no-op at scale; see catalog.spread_scan)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    norm = normalize_text(F.col("text"))
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.length("norm") - 7),
        lambda i: F.md5(F.col("norm").substr(i, F.lit(8)).cast("binary")),
    )
    f = d.select("doc_id", norm.alias("norm")).select(
        "doc_id",
        F.md5(F.col("norm").cast("binary")).alias("fp"),
        F.when(F.length("norm") >= 8, F.array_min(shingle_hashes))
        .otherwise(F.md5(F.col("norm").cast("binary")))
        .alias("msf"),
    )
    # bipartite doc↔attribute assignments: attr = tagged fp or msf value
    assignments = f.select(
        F.col("doc_id").alias("node"),
        F.explode(
            F.array(F.concat(F.lit("fp:"), "fp"), F.concat(F.lit("msf:"), "msf"))
        ).alias("attr"),
    )
    comp = connected_components_bipartite(assignments)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


@register(
    "dedup_retention_plan",
    oracle=f"""
        WITH n AS (
            SELECT doc_id, n_chars, {_NORM_SQL} AS norm FROM documents
        ),
        f AS (
            SELECT doc_id, n_chars,
                   CASE WHEN length(norm) >= 8 THEN
                       list_min(list_transform(range(1, length(norm) - 6),
                                i -> md5(norm[i:i+7])))
                   ELSE md5(norm) END AS msf
            FROM n
        ),
        c AS (
            SELECT doc_id, n_chars,
                   CASE WHEN msf IS NULL THEN doc_id
                        ELSE MIN(doc_id) OVER (PARTITION BY msf) END AS cluster_id
            FROM f
        )
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               first(doc_id ORDER BY n_chars DESC, doc_id) AS keep_id,
               CAST(SUM(n_chars)
                    - first(n_chars ORDER BY n_chars DESC, doc_id) AS BIGINT)
                   AS bytes_saved
        FROM c
        GROUP BY cluster_id
        HAVING COUNT(*) >= 2
        ORDER BY cluster_id
    """,
    doc="The dedup RETENTION plan: for every near-dup cluster (same "
    "connected components as dedup_clusters — min-label propagation "
    "over the fp/msf bipartite graph), pick the copy to KEEP by a "
    "policy (longest doc wins, ties to the lowest doc_id) and report "
    "the bytes freed by dropping the rest — the actionable output a "
    "dedup pass hands to the corpus writer, vs dedup_clusters' "
    "min-id canonical labeling. The selection is a partial-aggregable "
    "max_by over a (n_chars, -doc_id) struct (one shuffle on "
    "cluster_id, no window over raw docs); the oracle replays the "
    "clustering through the edge relation's algebraic shortcut "
    "(see dedup_clusters' oracle note) and the same ordered-first "
    "policy.",
    tags=("dedup", "graph", "extension"),
)
def dedup_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    best = F.max(
        F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nd"))
    )
    return (
        cl.join(d, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            best.alias("b"),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "cluster_id",
            "n_docs",
            (-F.col("b.nd")).cast("bigint").alias("keep_id"),
            (F.col("total_chars") - F.col("b.nc")).cast("bigint").alias("bytes_saved"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Integer-quantized PageRank over the copurchase graph (round 8)

PR_SCALE = 10**12  # rank fixed-point scale (bigint)
PR_ITERS = 8
PR_TOPK = 20


def _pr_oracle() -> str:
    """Unrolled K-iteration integer PageRank in DuckDB SQL — every
    arithmetic step is BIGINT floor division / sums, bit-identical to
    the Spark loop by construction."""
    from .analytics_ext import MAX_BASKET, MIN_SUPPORT

    cte = [
        f"""
        WITH po AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), sized AS (
            SELECT l_orderkey FROM po
            GROUP BY l_orderkey HAVING COUNT(*) <= {MAX_BASKET}
        ), pp AS MATERIALIZED (
            SELECT po.l_orderkey, po.l_partkey
            FROM po JOIN sized USING (l_orderkey)
        ), prs AS MATERIALIZED (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM pp a JOIN pp b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY pa, pb
            HAVING COUNT(*) >= {MIN_SUPPORT}
        ), edges AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM prs
            UNION ALL
            SELECT pb AS src, pa AS dst FROM prs
        ), deg AS MATERIALIZED (
            SELECT src, COUNT(*)::BIGINT AS dg FROM edges GROUP BY src
        ), sc AS (
            -- NULLIF guards the empty-graph degenerate: per = NULL makes
            -- r0..rK empty, matching the Spark side's early return
            SELECT ({PR_SCALE} // NULLIF(COUNT(*), 0))::BIGINT AS per FROM deg
        ), r0 AS (
            SELECT src AS part, (SELECT per FROM sc) AS r FROM deg
        )"""
    ]
    for i in range(PR_ITERS):
        cte.append(
            f""", r{i + 1} AS MATERIALIZED (
            SELECT d.src AS part,
                   ((15 * (SELECT per FROM sc)) // 100
                    + (85 * COALESCE(inf.total, 0)) // 100)::BIGINT AS r
            FROM deg d LEFT JOIN (
                SELECT e.dst AS part, SUM(rr.r // dg.dg)::BIGINT AS total
                FROM r{i} rr
                JOIN deg dg ON rr.part = dg.src
                JOIN edges e ON e.src = rr.part
                GROUP BY e.dst
            ) inf ON inf.part = d.src
        )"""
        )
    cte.append(
        f"""
        SELECT part, r AS rank_scaled FROM r{PR_ITERS}
        ORDER BY r DESC, part ASC LIMIT {PR_TOPK}"""
    )
    return "".join(cte)


@register(
    "copurchase_pagerank",
    oracle=_pr_oracle(),
    doc=f"PageRank over the copurchase graph ({PR_ITERS} power "
    "iterations, damping 0.85) in INTEGER fixed-point arithmetic: "
    "per-node shares are bigint floor divisions and inflows are exact "
    "bigint sums, so the result is bit-identical across engines, "
    "partition counts, and summation orders — the float-PageRank "
    "reproducibility problem designed out. The second iterative-"
    "algorithm family beside connected components: per iteration one "
    "share join + one dst-key shuffle, lineage cut per generation. "
    "Quantization error vs real-valued PageRank is <= deg/SCALE per "
    "node per step (SCALE=1e12).",
    tags=("graph", "iterative", "extension"),
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by integer-quantized copurchase PageRank."""
    from .analytics_ext import MAX_BASKET, MIN_SUPPORT

    from .analytics_ext import basket_pair_counts

    l = load_table(spark, sf_dir, "lineitem")
    # r10: shared basket-pair core (one collect_set agg + map-side pair
    # expansion — see analytics_ext.basket_pair_counts) replaces the
    # distinct → sized-filter join → pp⋈pp self-join edge build.
    prs = (
        basket_pair_counts(l.select("l_orderkey", "l_partkey"))
        .filter(F.col("n_orders") >= MIN_SUPPORT)
        .select("pa", "pb")
    )
    # r10 edge build: persist the PAIR list (the expensive basket
    # aggregation ran exactly once — the old union-of-two-selects
    # recomputed it per branch), derive degrees by exploding pair
    # endpoints (deg(x) = #pairs containing x = out-degree in the
    # symmetric edge list), and expand both edge directions MAP-SIDE
    # with the destination's degree already attached.
    prs = track_cached(prs.persist(StorageLevel.MEMORY_AND_DISK))
    deg = track_cached(
        prs.select(F.explode(F.array("pa", "pb")).alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # node count is a bounded scalar (like the BPE argmax collects):
    # the fixed-point per-node seed and teleport base derive from it —
    # counting deg also materializes the persisted pair list.
    n_nodes = deg.count()
    # r10 iteration rewrite (guide §2.4/§3): ONE join per iteration
    # instead of three. The graph is symmetric by construction (every
    # prs row contributes both directions), so src-set == dst-set ==
    # deg's node set: the inflow aggregation alone reaches EVERY node,
    # making the old deg left-join + coalesce(0) redundant; and
    # attaching the destination's out-degree to the edge list ONCE at
    # build time (dgd below) lets each generation carry (part, dg)
    # through the aggregation instead of re-joining deg for the share
    # division. Oracle-pinned bit-identical (same bigint floor-div
    # arithmetic, exact integer sums).
    dga = deg.select(F.col("src").alias("_na"), F.col("dg").alias("_dga"))
    dgb = deg.select(F.col("src").alias("_nb"), F.col("dg").alias("_dgb"))
    edges2 = track_cached(
        prs.join(dga, prs.pa == dga._na)
        .join(dgb, prs.pb == dgb._nb)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("pa").alias("src"),
                        F.col("pb").alias("dst"),
                        F.col("_dgb").alias("dgd"),
                    ),
                    F.struct(
                        F.col("pb").alias("src"),
                        F.col("pa").alias("dst"),
                        F.col("_dga").alias("dgd"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst", "e.dgd")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if n_nodes == 0:
        return spark.createDataFrame([], "part bigint, rank_scaled bigint")
    per = PR_SCALE // n_nodes
    base = (15 * per) // 100
    ranks = deg.select(
        F.col("src").alias("part"), "dg", F.lit(per).cast("bigint").alias("r")
    )
    for _ in range(PR_ITERS):
        shares = ranks.select("part", F.expr("r div dg").alias("share"))
        ranks = (
            edges2.join(shares, edges2.src == shares.part)
            .groupBy(F.col("dst").alias("part"))
            .agg(
                F.max("dgd").alias("dg"),  # one value per dst by construction
                (
                    F.lit(base)
                    + F.expr("(85 * sum(share)) div 100")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
        # cut lineage per generation (the CC-loop convention). Measured
        # r10: EAGER wins here — lazy/no-checkpoint variants chain all
        # eight generations' broadcast builds into one job and ran
        # 1.3-2.5x slower (probe in OPTIMIZATION_r10.md); unlike the
        # BPE loop there is no per-step driver action to piggyback on.
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "part", F.col("r").alias("rank_scaled")
    ).orderBy(F.col("rank_scaled").desc(), F.col("part").asc()).limit(PR_TOPK)


def apply_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the doc-level deduped corpus: per near-dup cluster
    keep exactly the retention winner (longest doc, ties to lowest
    doc_id — dedup_retention_plan's policy), drop the rest, pass
    singletons through. Returns the KEPT documents frame.

    One cluster_id shuffle for the winner agg + one keep semi-join —
    the plan's cost plus a join, never a window over raw docs."""
    d = load_table(spark, sf_dir, "documents")
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    best = F.max(
        F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nd"))
    )
    winners = (
        cl.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(best.alias("b"))
        .select("cluster_id", (-F.col("b.nd")).cast("bigint").alias("keep_id"))
    )
    kept_ids = (
        cl.join(winners, "cluster_id")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id")
    )
    return d.join(kept_ids, "doc_id", "semi")


@register(
    "dedup_retention_apply",
    oracle=f"""
        WITH n AS (
            SELECT doc_id, source, n_chars, text, {_NORM_SQL} AS norm
            FROM documents
        ),
        f AS (
            SELECT doc_id, source, n_chars, text,
                   CASE WHEN length(norm) >= 8 THEN
                       list_min(list_transform(range(1, length(norm) - 6),
                                i -> md5(norm[i:i+7])))
                   ELSE md5(norm) END AS msf
            FROM n
        ),
        c AS (
            SELECT doc_id, source, n_chars, text,
                   CASE WHEN msf IS NULL THEN doc_id
                        ELSE MIN(doc_id) OVER (PARTITION BY msf) END AS cluster_id
            FROM f
        ),
        k AS (
            SELECT *,
                   first_value(doc_id) OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   ) AS keep_id
            FROM c
        )
        SELECT source,
               COUNT(*) AS docs_total,
               CAST(COUNT(*) FILTER (WHERE doc_id = keep_id) AS BIGINT) AS docs_kept,
               CAST(COUNT(*) FILTER (WHERE doc_id <> keep_id) AS BIGINT) AS docs_dropped,
               CAST(COALESCE(SUM(n_chars) FILTER (WHERE doc_id = keep_id), 0)
                    AS BIGINT) AS chars_kept,
               CAST(COALESCE(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT
                                 ::DECIMAL(38,0)) FILTER (WHERE doc_id = keep_id), 0)
                    % 1099511627776 AS BIGINT) AS kept_content_sum
        FROM k
        GROUP BY source ORDER BY source
    """,
    doc="The APPLY half of doc-level dedup (the rewrite counterpart "
    "dedup_retention_plan lacked, mirroring the span plan→rewrite "
    "closure): materialize the kept corpus under the longest-wins "
    "policy and report, per source, kept/dropped doc counts, kept "
    "chars, and an order-independent content checksum of the kept set "
    "(sum of 60-bit text hashes mod 2^40, exact decimal accumulation) "
    "— the checksum pins WHICH docs survived, not just how many. The "
    "oracle replays clustering via the algebraic shortcut (see "
    "dedup_clusters) and the same first-value policy.",
    tags=("dedup", "graph", "extension"),
)
def dedup_retention_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, docs_total, docs_kept, docs_dropped, chars_kept,
    kept_content_sum) of the materialized deduped corpus."""
    d = load_table(spark, sf_dir, "documents")
    kept = apply_dedup_retention(spark, sf_dir)
    gh = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
        (F.coalesce(F.sum(gh), F.lit(0).cast("decimal(38,0)")) % F.lit(1099511627776))
        .cast("bigint")
        .alias("kept_content_sum"),
    )
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("docs_total"))
    return (
        totals.join(kept_agg, "source", "left")
        .select(
            "source",
            "docs_total",
            F.coalesce("docs_kept", F.lit(0)).cast("bigint").alias("docs_kept"),
            (F.col("docs_total") - F.coalesce("docs_kept", F.lit(0)))
            .cast("bigint")
            .alias("docs_dropped"),
            F.coalesce("chars_kept", F.lit(0)).cast("bigint").alias("chars_kept"),
            F.coalesce("kept_content_sum", F.lit(0))
            .cast("bigint")
            .alias("kept_content_sum"),
        )
        .orderBy("source")
    )
