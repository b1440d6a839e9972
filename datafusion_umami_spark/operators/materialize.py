"""Shared-subtree materialization: the CTE-inlining countermeasure.

Spark INLINES deterministic CTEs (InlineCTE, no public conf to force
materialization), so a WITH-clause subtree referenced k times executes
k times — and reference counts MULTIPLY down a CTE chain: the SQL-text
triangle count executed its `pairs` CTE 32 times; minhash-LSH computed
the signature matrix 4 times.  Exchange reuse never rescues these
because the consuming branches differ above the exchange.

Every checkpoint in the package is taken by `checkpoint` and freed by
`free`; the hygiene, stated once:
- `checkpoint` takes a lazy `localCheckpoint` and counts its RDD: ONE
  job (after any shuffle stages the plan runs first) stores the blocks
  and yields the row count; an eager checkpoint plus `count`/`isEmpty`
  pays a second job.  The frame it returns has fresh attribute ids
  (`toDF`: the Spark 4.1 "key not found" gotcha, CLAUDE.md).
- Lineage is truncated, so the blocks are the only copy: free one only
  once no live frame reads it.  Fixpoint loops free a superseded round
  once the next round has materialized, so storage stays O(one round)
  on a long-lived driver, not O(iterations).  What a loop returns (CC's
  labels, pagerank's state, each checkpoint in recursive_cte's union)
  goes into `_LIVE` through `own`, under a key no other call uses, so
  `release_all` and the driver's one-generation auto-free
  (`__spark_entry__.queries()`) free it like any other checkpoint.
- `free` is asynchronous (the next round hides the eviction);
  `blocking=True` waits, so a timed run that follows never overlaps
  eviction (bench.py calls `release_all(blocking=True)`).

100 TB rule of thumb encoded here: only materialize REDUCED
intermediates — aggregates, distinct edge sets, per-doc signatures,
bucketed candidates — whose size is ≪ the fact table.  A raw filtered
fact scan used twice should stay a double scan (parquet pushdown makes
re-scanning cheap; checkpointing ~fact-sized data trades a columnar
scan for a full write+read).  What must never happen is the
multiplicative re-execution of a reduced subtree.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame

from datafusion_umami_spark.tables import FACT_TABLES, conf_values

_LIVE: dict[str, DataFrame] = {}
_OWNED = itertools.count()  # numbers the `own` keys

# In-session confs that perturb physical plan shape.  ONE list, two
# consumers (r6 ADVICE — keep them from drifting): the shared-checkpoint
# fingerprint below re-keys the cache when any of these changes, and the
# hostile-config parity suite (tests/test_outofcore.py) asserts its
# HOSTILE_CONF keys are a subset — so a conf the parity gate perturbs is
# never invisible to the cache.  maxPartitionBytes is fingerprinted too:
# verify_subset --max-split covers it only via a fresh application, but
# an IN-SESSION change must also miss the cache.
PLAN_SHAPE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
)


def checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize and count `df` with one action; return (frame, rows).
    The frame reads the stored blocks under fresh attribute ids."""
    ck = df.localCheckpoint(eager=False)
    rows = ck._jdf.queryExecution().analyzed().rdd().count()
    return ck.toDF(*ck.columns), rows


def free(frame: DataFrame, blocking: bool = False) -> None:
    """Unpersist the checkpoint behind a frame `checkpoint` returned: the
    LogicalRDD that is the one leaf of its analyzed plan.  Best-effort: any
    other frame (several leaves, no RDD) is left alone, and on any
    JVM-interface surprise the blocks simply live until session end."""
    try:
        leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
        (leaf,) = [leaves.apply(i) for i in range(leaves.size())]
        leaf.rdd().unpersist(blocking)
    except Exception:
        pass


def own(frame: DataFrame) -> DataFrame:
    """Hold a checkpoint frame a loop operator returns in `_LIVE` under a
    fresh `loop:<n>` key; return the frame."""
    _LIVE[f"loop:{next(_OWNED)}"] = frame
    return frame


def fact_scan_counts(df: DataFrame) -> dict[str, int]:
    """Count parquet scans of each fact table in the FINAL stage's
    executed plan — a value above the SQL's textual reference count
    means a shared subtree is re-executed per reference.

    Caveat (round-6 finding): this reads the PRE-execution plan, which
    OVER-counts scalar-subquery-bearing queries — MergeScalarSubqueries
    + ReusedSubquery collapse identical subquery plans only in the
    runtime adaptive plan (q9 shape: 9 textual refs → 3 executed
    passes, but 9 in this string).  For CTE/join shapes (no scalar
    subqueries) the pre-execution count is exact, which is what the
    cap gates in tests/test_plans.py pin."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().executedPlan().toString()
    return dict(
        Counter(
            t
            for t in re.findall(r"file:\S*?/(\w+)\.parquet", plan)
            if t in FACT_TABLES
        )
    )


def release(key: str, blocking: bool = False) -> None:
    """Free the checkpoint held under `key` (no-op if absent) — the
    hook a sweep/bench runner calls once a query's result is collected,
    so aggregate held storage stays O(live pipeline), not O(all keys
    ever materialized across the session)."""
    prev = _LIVE.pop(key, None)
    if prev is not None:
        free(prev, blocking=blocking)


def release_all(blocking: bool = False) -> None:
    """Free every held checkpoint (sequential runners call this between
    queries; the next build simply re-materializes what it needs)."""
    for key in list(_LIVE):
        release(key, blocking=blocking)


def live_keys() -> tuple[str, ...]:
    """Snapshot of the currently-held checkpoint keys — the hook the
    generation-deferred auto-free (__spark_entry__.queries()) uses to
    decide staleness from the ACTUAL live set rather than from key
    naming conventions (a query may pin keys not prefixed by its own
    name: 'jac_w', 'sh_sig', 'tri_pairs', ...)."""
    return tuple(_LIVE)


def materialize_view_shared(spark, key: str, view: str, build) -> DataFrame:
    """Generation-tagged SHARED materialization: sequential consumers of
    the same reduced intermediate (e.g. the MinHash signature matrix read
    by dedup_minhash_lsh, dedup_connected_components, and the cluster
    profile) reuse ONE live checkpoint instead of each recomputing and
    separately pinning it.  `key` must embed the inputs' identity
    (sf_dir) — a hit returns the existing checkpoint untouched, so a
    prior consumer's still-unconsumed plan is never unpersisted (the
    use-after-free the old per-consumer namespacing guarded against).
    Nothing is freed implicitly; call release()/release_all() when the
    pipeline is done.  `build` is a zero-arg DataFrame factory, invoked
    only on a miss.

    The effective cache key additionally fingerprints the Spark
    APPLICATION and the execution-shape confs (shuffle partitions /
    broadcast threshold / AQE): a hit must never (a) hand out a frame
    whose checkpoint blocks live in a stopped SparkContext, or
    (b) satisfy a changed-config leg with blocks computed under the
    OLD config — the hostile-config parity gate exists precisely to
    re-execute the build under the hostile shape, and a config-blind
    cache would make it vacuous (round-6 self-review finding)."""
    fp = ":".join(
        (spark.sparkContext.applicationId, *conf_values(spark, PLAN_SHAPE_CONFS))
    )
    full_key = f"{key}@{fp}"
    df = _LIVE.get(full_key)
    if df is None:
        df = _LIVE[full_key] = checkpoint(build())[0]
    out = df.toDF(*df.columns)
    out.createOrReplaceTempView(view)
    return out


def materialize_once(key: str, df: DataFrame) -> DataFrame:
    """Checkpoint `df` under `key`, then free the checkpoint previously
    held under it."""
    out, _ = checkpoint(df)
    release(key)
    _LIVE[key] = out
    return out


def materialize_view(key: str, df: DataFrame, view: str) -> DataFrame:
    """materialize_once + register the result as a temp view so a
    follow-up spark.sql() text can reference the single materialization
    by name (the split-SQL pattern for de-inlining a WITH clause)."""
    out = materialize_once(key, df)
    out.createOrReplaceTempView(view)
    return out


def register_split_sql(
    name: str,
    stages: list[tuple[str, str]],
    final_sql: str,
    oracle: str,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    discrimination: str | None = None,
) -> None:
    """Register a query whose Spark side materializes each (sql, view)
    stage once, then runs `final_sql` over the views — for the common
    "reduced aggregate referenced twice" shape where the inlined WITH
    clause would re-execute the aggregation shuffle per reference.  The
    DuckDB oracle stays the single ANSI statement (DuckDB materializes
    shared CTEs natively)."""
    from datafusion_umami_spark.registry import register
    from datafusion_umami_spark.tables import register_views

    def fn(spark, sf_dir):  # type: ignore[no-untyped-def]
        register_views(spark, sf_dir)
        for stage_sql, view in stages:
            materialize_view(f"{name}:{view}", spark.sql(stage_sql), view)
        return spark.sql(final_sql)

    fn.__name__ = name
    fn.__doc__ = "\n-- stage: materialized once --\n".join(
        [s for s, _ in stages] + [final_sql]
    )
    fn._sql_shape = ("split", tuple(view for _, view in stages))
    # exposed for the split-vs-inlined equivalence gate
    # (tests/test_fuzz.py): naming each stage CTE by its view name makes
    # `WITH <view> AS (<stage>) <final>` a valid inlined composition.
    fn._split_stages = list(stages)
    fn._split_final = final_sql
    register(name, oracle=oracle, tags=tags, bench=bench,
             discrimination=discrimination)(fn)
