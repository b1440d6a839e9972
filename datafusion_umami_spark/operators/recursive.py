"""WITH RECURSIVE for Spark: driver-side iterate-until-fixpoint.

Spark SQL has no recursive CTEs; the reference executes them with
`RecursiveQueryExec` + `WorkTableExec` (reference
datafusion/physical-plan/src/recursive_query.rs:58, work_table.rs:99,
gated by `enable_recursive_ctes`, common/src/config.rs:455).  The same
semantics — seed relation, then repeatedly apply a step to the *previous
delta* and union the new rows — map to a driver-side loop that stays
fully declarative per iteration: each step is an ordinary DataFrame
transformation, so Catalyst plans/pushes-down/broadcasts inside every
iteration.

UNION ALL mode accumulates every produced row; UNION (distinct) mode
keeps only rows never seen before (the textbook transitive-closure
termination rule).

Scale notes (100 TB): each iteration is ONE distributed job, which
checkpoints the delta and counts it (operators/materialize.py), so
(a) the next step and every later `subtract` read stored blocks instead
of recomputing the step lineage, (b) the fixpoint test needs no second
job, and (c) the accumulated relation is a flat UNION of checkpointed
leaves — its plan grows one leaf per iteration (linear), never
re-deriving earlier iterations (the O(k²) recompute an unpersisted
accumulator would pay).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from datafusion_umami_spark.operators.materialize import checkpoint, free, own


def recursive_cte(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    distinct: bool = True,
    max_iterations: int = 100,
) -> DataFrame:
    """Evaluate `WITH RECURSIVE t AS (seed UNION [ALL] step(t)) SELECT * FROM t`.

    `step` receives the PREVIOUS ITERATION'S DELTA (the work table —
    exactly the reference's WorkTableExec contract), not the whole
    accumulated relation.

    distinct=True  → UNION semantics: new rows are deduplicated against
                     everything seen so far; terminates when no unseen
                     row is produced (safe for cyclic graphs).
    distinct=False → UNION ALL semantics: terminates only when the step
                     yields zero rows (caller must bound the recursion,
                     same as any SQL engine).
    """
    acc = own(checkpoint(seed)[0])
    delta = acc
    for _ in range(max_iterations):
        nxt = step(delta)
        if distinct:
            nxt = nxt.subtract(acc)  # anti-join against all seen rows
        nxt, rows = checkpoint(nxt)
        if rows == 0:
            free(nxt)
            return acc
        acc = acc.unionAll(own(nxt))
        delta = nxt
    raise RuntimeError(f"recursive_cte did not converge in {max_iterations} iterations")
