"""PageRank over a DataFrame edge list with EXACT integer arithmetic.

The reference engine's only iterative surface is WITH RECURSIVE
(reference datafusion/physical-plan/src/recursive_query.rs:58); it has
no fixed-point graph operator.  This implements the standard public
PageRank iteration (Page/Brin/Motwani/Winograd, Stanford tech report
1999) as a driver-side loop of two DataFrame passes per iteration —
the same loop architecture as operators/connected_components.py.

Determinism contract: ranks are micro-units (node mass starts at
1_000_000) and every update is integer arithmetic only —
`pr DIV outdeg` contributions and `(850_000 * mass) DIV 1_000_000`
damping (the product accumulated in DECIMAL(38,0) so hub mass on
billion-node graphs cannot overflow BIGINT under ANSI mode) — so the
result is bit-identical regardless of partitioning,
merge order, or engine (integer truncating division is associative-
safe here because each quotient is computed from fully-aggregated
BIGINT sums; no float ever appears).  Truncation loses a few micro-
units of total mass per round, identically on every engine.

100 TB notes: per iteration one shuffle keyed (dst) for the
contribution aggregate and one broadcast-or-shuffle join of the rank
state onto the edge list — work is O(|E|) per round with a FIXED round
count (no convergence test ⇒ no driver-side collect at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_umami_spark.operators.materialize import checkpoint, free, own
from datafusion_umami_spark.tables import conf_bytes

MICRO = 1_000_000
DAMP_NUM = 850_000  # 0.85 in micro-units
TELEPORT = 150_000  # (1 - 0.85) in micro-units


def _damped_pr(mass_col: str = "mass") -> F.Column:
    """TELEPORT + floor(DAMP * mass / MICRO), the integer-exact damping
    step.  Damping product in DECIMAL(38,0): mass at a hub is bounded by
    total graph mass (|V| * 1e6), so the BIGINT product 850_000 * mass
    would overflow past ~1e7 nodes under ANSI.  DECIMAL keeps exactness
    to ~1e31; FLOOR == DIV for the nonnegative operands.  (DuckDB side
    is already safe: SUM(BIGINT) yields HUGEINT there, so its product
    never overflows.)"""
    return (
        F.lit(TELEPORT)
        + F.expr(
            f"CAST(FLOOR((CAST({DAMP_NUM} AS DECIMAL(38,0))"
            f" * coalesce({mass_col}, 0L)) / {MICRO}) AS BIGINT)"
        )
    ).cast("long").alias("pr")


def pagerank(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Integer-exact PageRank.  `edges`: columns (src, dst), directed —
    pass both directions for an undirected graph.  Every node must
    appear as a src (no dangling mass handling; feed bidirectional
    edges to guarantee it), and the edge list must be DUPLICATE-FREE: a
    repeated edge counts twice, and the operator does not pay an
    |E|-shuffle distinct to defend against it (its one caller,
    graph_pagerank_purchases, builds a distinct list by construction).
    Returns (node, pr) with pr in micro-units for every src node.

    One join plus one keyed aggregate per round:
      - outdeg rides ON the edge list (one count window in the same
        pass that checkpoints it) — no separate degree relation;
      - round 0's state is the CONSTANT pr=MICRO, so its contribs are
        MICRO DIV outdeg straight off the edges, no join;
      - later rounds LEFT-join the state onto the edges.  The state
        holds only nodes that received mass (in-degree >= 1); a src
        missing from it has in-degree 0, so after round 0 its rank is
        exactly TELEPORT — hence `coalesce(pr, TELEPORT)`;
      - in the LAST round every edge also contributes a zero to its
        src, so nodes with in-degree 0 come out of the final aggregate
        too (at TELEPORT) without a join back to a node list.
    With `iterations == 0` every src is returned at MICRO, lazily over
    the input — no checkpoint is taken, so none can leak.
    """
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("src"),
        F.col(edges.columns[1]).cast("long").alias("dst"),
    )
    if iterations == 0:
        return (
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.lit(MICRO).cast("long").alias("pr"))
        )
    e, _ = checkpoint(
        e.withColumn("outdeg", F.count("*").over(Window.partitionBy("src")))
    )

    # Size-gated broadcast decision, made ONCE: |state| is at most |V|
    # rows in every round, so the round-0 state's row count decides all
    # remaining rounds.  A checkpointed frame reports no usable size
    # stats, so without the hint the planner lays out SortMergeJoin and
    # BOTH sides pay an exchange — including the |E|-row edge list,
    # EVERY round — before AQE demotes to broadcast at runtime
    # (measured: the demotion happens, but the edge exchange has already
    # run).  A blind hint would be the opposite mistake (|V| grows with
    # the corpus past any broadcast cap), so the hint is applied exactly
    # when ~64 B/row of state fits the session's own
    # autoBroadcastJoinThreshold (unset / unparseable -> no hint).
    bcast_threshold = conf_bytes(
        e.sparkSession, "spark.sql.autoBroadcastJoinThreshold", 0
    )

    for i in range(iterations):
        if i == 0:
            # round 0: state is the constant pr=MICRO — no join needed
            rows, c = e, F.expr(f"{MICRO} DIV outdeg")
        else:
            s = F.broadcast(state) if state_fits_broadcast else state
            rows = e.join(s, e.src == s.node, "left")
            c = F.expr(f"coalesce(pr, {TELEPORT}) DIV outdeg")
        if i < iterations - 1:
            contribs = rows.select("dst", c.alias("c"))
        else:
            # each edge also hands its src a zero, in the same pass (a
            # union with a second scan of the edges measured ~60 ms
            # slower per call at sf0.1)
            contribs = rows.select(
                F.posexplode(F.array("dst", "src")).alias("k", "dst"),
                c.alias("c"),
            ).select(
                "dst", F.when(F.col("k") == 0, F.col("c")).otherwise(0).alias("c")
            )
        nxt = (
            contribs.groupBy("dst")
            .agg(F.sum("c").alias("mass"))
            .select(F.col("dst").alias("node"), _damped_pr("mass"))
        )
        nxt, n_state = checkpoint(nxt)
        if i == 0:
            state_fits_broadcast = (
                bcast_threshold > 0 and n_state * 64 < bcast_threshold
            )
        else:
            free(state)
        state = nxt

    free(e)
    return own(state).select("node", "pr")
