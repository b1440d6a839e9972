"""Connected components via alternating large-star / small-star rounds.

The reference reaches component labels through WITH RECURSIVE transitive
closure (reference datafusion/physical-plan/src/recursive_query.rs:58);
closure materializes every (node, reachable-node) pair — O(Σ cluster²)
rows, which at 100 TB (boilerplate text ⇒ 10⁵–10⁷-member near-dup
clusters) is the plan that never finishes.  This operator instead runs
the public large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): per round two
groupBy-min + equi-join passes whose work is bounded by the CURRENT edge
count (never more than the input |E| after round 1), converging to
star graphs — component-min centers — in O(log n) rounds.

Per-round plan shape: symmetric projection → groupBy(u).min(v) →
shuffle equi-join on u → distinct.  All JVM-side; the only driver-side
control is the fixpoint loop itself (same structure as
operators/recursive.py, the WITH RECURSIVE analog).

Each round's edge set is checkpointed, and its row count comes from the
same job (operators/materialize.py states the checkpoint hygiene).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_umami_spark.operators.materialize import checkpoint, free, own


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node with its component's minimum node id.

    `edges`: two numeric-id columns (undirected; direction, duplicates
    and self-loops are normalized away).  Returns (n, cluster_id).

    `stats` (optional dict) receives {"iterations": int,
    "max_edges": int} — test hook proving per-round work stays O(|E|).
    """
    e, e_count = checkpoint(
        edges.toDF("a", "b")
        .where("a <> b")
        .selectExpr("least(a, b) AS a", "greatest(a, b) AS b")
        .distinct()
    )
    nodes, _ = checkpoint(
        e.selectExpr("a AS n").union(e.selectExpr("b AS n")).distinct()
    )
    max_edges = e_count

    for iterations in range(1, max_iterations + 1):
        # -- large-star: attach each strictly-larger neighbor of u to
        #    m(u) = min(Γ(u) ∪ {u})
        sym = e.selectExpr("a AS u", "b AS v").union(e.selectExpr("b AS u", "a AS v"))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        ls = (
            sym.where("v > u")
            .join(mins, "u")
            .selectExpr("least(v, m) AS a", "greatest(v, m) AS b")
            .where("a <> b")
            .distinct()
        )
        # -- small-star: orient larger→smaller, attach every smaller
        #    neighbor of u (and u itself) to m(u) = min(Γ⁻(u))
        ori = ls.selectExpr("greatest(a, b) AS u", "least(a, b) AS v")
        mins2 = ori.groupBy("u").agg(F.min("v").alias("m"))
        ss, ss_count = checkpoint(
            ori.join(mins2, "u")
            .selectExpr("v AS x", "m")
            .union(mins2.selectExpr("u AS x", "m"))
            .where("x <> m")
            .selectExpr("m AS a", "x AS b")  # m = min ⇒ already ordered
            .distinct()
        )
        max_edges = max(max_edges, ss_count)
        # set equality with ONE subtract: both sides are distinct, so
        # equal cardinality + empty one-way difference ⇒ equal sets
        converged = ss_count == e_count and ss.subtract(e).isEmpty()
        free(e)  # last read of the old round was that subtract
        e, e_count = ss, ss_count
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iterations} rounds")

    if stats is not None:
        stats["iterations"] = iterations
        stats["max_edges"] = max_edges

    # Fixpoint is a forest of stars centered on each component's min:
    # leaf label = its center, center label = itself.  Checkpoint the
    # O(|V|) label frame so every working block can be freed now.
    labels, _ = checkpoint(
        nodes.join(e.selectExpr("b AS n", "a AS c"), "n", "left")
        .groupBy("n")
        .agg(F.min(F.coalesce(F.col("c"), F.col("n"))).alias("cluster_id"))
    )
    free(e)
    free(nodes)
    return own(labels)
