"""Connected-components operators on known toy graphs."""

from __future__ import annotations

from data_engineering_challenge_spark.operators.graph import (
    connected_components,
    connected_components_bipartite,
)


def test_edge_list_components(spark):
    # components: {1,2,3,4} (chain), {5,6}, {7} isolated
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["node"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (5, 6)], ["a", "b"])
    got = {r.node: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_bipartite_components(spark):
    # docs 1,2 share attr x; docs 2,3 share attr y; 4 alone; 5,6 share z
    rows = [(1, "x"), (2, "x"), (2, "y"), (3, "y"), (4, "q"), (5, "z"), (6, "z")]
    a = spark.createDataFrame(rows, ["node", "attr"])
    got = {r.node: r.component for r in connected_components_bipartite(a).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_long_chain_converges_with_bounded_plan(spark):
    """100-node chain: worst-case diameter, tamed by the pointer-jump
    step (~8 rounds instead of 99), with EVERY generation
    localCheckpoint(eager)-ed into a plan leaf. Pins (a) correctness at
    high diameter and (b) that the returned frame's logical plan is a
    checkpoint-truncated leaf, not an O(iterations)-deep tree."""
    n = 100
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    result = connected_components(nodes, edges)
    got = {r.node: r.component for r in result.collect()}
    assert got == {i: 0 for i in range(n)}
    # the plan behind the final generation is checkpoint-truncated:
    # its string form stays small instead of growing with iterations
    plan = result._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 2, f"unbounded lineage leaked: {plan[:500]}"


def test_formulations_agree(spark):
    import random

    rng = random.Random(7)
    n = 60
    assigns = [(i, f"a{rng.randrange(25)}") for i in range(n) for _ in range(2)]
    a = spark.createDataFrame(assigns, ["node", "attr"])
    # derive the equivalent edge list: nodes sharing an attr
    b = a.toDF("node2", "attr")
    edges = (
        a.join(b, "attr")
        .filter("node < node2")
        .selectExpr("node as a", "node2 as b")
        .distinct()
    )
    nodes = a.select("node").distinct()
    via_edges = {r.node: r.component for r in connected_components(nodes, edges).collect()}
    via_bip = {r.node: r.component for r in connected_components_bipartite(a).collect()}
    assert via_edges == via_bip


def test_copurchase_pagerank_integer_arithmetic_exact(spark, tmp_path_factory):
    """The engine's fixed-point recurrence replicated in pure Python on
    a planted star graph must match bit-for-bit (the determinism claim
    is exactness, not approximation)."""
    import os

    import pandas as pd

    from data_engineering_challenge_spark.operators.graph import (
        PR_ITERS,
        PR_SCALE,
        copurchase_pagerank,
    )

    # star: part 1 co-purchased (support 2) with parts 2, 3, 4
    rows = []
    ok = 0
    for other in (2, 3, 4):
        for _ in range(2):
            ok += 1
            rows.append({"l_orderkey": ok, "l_partkey": 1})
            rows.append({"l_orderkey": ok, "l_partkey": other})
    root = tmp_path_factory.mktemp("pr_star")
    pd.DataFrame(rows).to_parquet(os.path.join(root, "lineitem.parquet"), index=False)

    got = {
        r["part"]: r["rank_scaled"]
        for r in copurchase_pagerank(spark, str(root)).collect()
    }

    edges = [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 1)]
    deg = {1: 3, 2: 1, 3: 1, 4: 1}
    per = PR_SCALE // 4
    base = (15 * per) // 100
    r = {p: per for p in deg}
    for _ in range(PR_ITERS):
        share = {p: r[p] // deg[p] for p in deg}
        inflow = {p: 0 for p in deg}
        for s, d in edges:
            inflow[d] += share[s]
        r = {p: base + (85 * inflow[p]) // 100 for p in deg}
    assert got == r
    assert max(got, key=got.get) == 1, "star center must rank highest"


def test_apply_dedup_retention_keeps_longest(spark, tmp_path):
    # planted near-dup cluster: 3 docs sharing a min-shingle; the
    # longest survives, ties impossible by construction; the singleton
    # passes through
    import pandas as pd

    from data_engineering_challenge_spark.operators.graph import (
        apply_dedup_retention,
        dedup_retention_apply,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        {"doc_id": 1, "source": "a", "text": base, "n_chars": len(base)},
        {"doc_id": 2, "source": "a", "text": base + " tonight", "n_chars": len(base) + 8},
        {"doc_id": 3, "source": "b", "text": base + " x", "n_chars": len(base) + 2},
        {"doc_id": 4, "source": "b", "text": "completely different words entirely", "n_chars": 36},
    ]
    root = tmp_path / "ret"
    root.mkdir()
    pd.DataFrame(rows).to_parquet(root / "documents.parquet", index=False)
    kept = {r["doc_id"] for r in apply_dedup_retention(spark, str(root)).collect()}
    assert kept == {2, 4}  # longest of the cluster + the singleton
    rep = {r["source"]: r for r in dedup_retention_apply(spark, str(root)).collect()}
    assert rep["a"]["docs_kept"] == 1 and rep["a"]["docs_dropped"] == 1
    assert rep["b"]["docs_kept"] == 1 and rep["b"]["docs_dropped"] == 1


def test_hung_observation_read_does_not_block_exit():
    """If `Observation.get` never returns, the CC loop falls back to the
    count probe after its bounded wait, and the abandoned reader thread
    must not keep the interpreter alive at exit."""
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    script = textwrap.dedent(
        """
        import threading

        from data_engineering_challenge_spark.operators import graph

        class HungObservation:
            @property
            def get(self):
                threading.Event().wait()

        class Checkpointed:
            def filter(self, condition):
                return self

            def count(self):
                return 7

        graph._OBSERVATION_WAIT_S = 0.5
        print(graph._observed_changed(HungObservation(), Checkpointed()))
        """
    )
    root = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["7"]
