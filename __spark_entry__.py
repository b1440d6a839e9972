"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over `datafusion_umami_spark.registry`: every operator from
SURVEY.md §2 registers a QuerySpec (Spark callable + DuckDB oracle SQL)
there; this module just exposes the registry in the driver's shape.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from datafusion_umami_spark.registry import all_oracle_sql, all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return all_queries()["tpch_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable first frees checkpoints pinned by PREVIOUS queries'
    split-materializations (operators/materialize.py): the driver runs
    build → collect → next sequentially, so at next-build time the prior
    results are consumed and holding their blocks would grow storage
    O(all keys ever materialized) over a 50-query sweep.  `shared:`
    keys (signature matrices reused across consumers) and the building
    query's own keys are kept.

    CONTRACT: frees are deferred ONE BUILD GENERATION over the ACTUAL
    live key set, not over key-name prefixes — at build N+1 the only
    keys freed are those that were already live when build N started,
    so every key a query pins (whatever its name: 'jac_w', 'sh_sig',
    'tri_pairs', ... — many queries materialize under bare keys) lives
    through exactly one subsequent build before it is freed.  A
    strictly-sequential driver holds at most two queries' checkpoints
    (still O(1)); a consumer that pipelines one query ahead (builds B
    before collecting A) also stays safe, because A's blocks are freed
    only when C builds — the silent use-after-free window the r6 ADVICE
    flagged needs pipelining depth ≥ 2, which no plausible
    build→collect driver does.  `shared:` keys (signature matrices
    reused across consumers) are never auto-freed.  Deeper interleaving
    must go through the raw registry
    (datafusion_umami_spark.registry.REGISTRY), which never
    auto-frees."""
    import logging

    from datafusion_umami_spark.operators.materialize import live_keys, release

    log = logging.getLogger("datafusion_umami_spark.entry")

    # keys that were live (excluding shared:) when the PREVIOUS build
    # started; None until the first build
    prev_start: list[set[str] | None] = [None]

    def wrap(name: str, fn: Callable) -> Callable:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            stale = prev_start[0]
            if stale is not None:
                for key in live_keys():
                    if key in stale and not key.startswith("shared:"):
                        # attribution breadcrumb (r7 ADVICE item 4): a
                        # depth-2 pipelining driver that hits a
                        # use-after-free can tie the failure to this
                        # release instead of debugging blind
                        log.info(
                            "auto-freeing checkpoint %r at build of %r "
                            "(one-generation grace elapsed)", key, name
                        )
                        release(key)
            prev_start[0] = {
                k for k in live_keys() if not k.startswith("shared:")
            }
            return fn(spark, sf_dir)

        run.__name__ = name
        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(name, fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (None-oracle specs
    are omitted → driver records a rows-only check)."""
    return all_oracle_sql()


def spec_fingerprints() -> dict[str, str]:
    """name -> sha256 fingerprint of the spec AS LOADED in this process
    (Spark SQL/docstring + oracle SQL + shape — `_sql_shape` for SQL
    specs, the callable source for DataFrame specs — + the
    shared-semantics salt; fingerprint.spec_fingerprint).

    OPTIONAL driver hook (r10 verdict item 4): a sweep may record these
    next to its CORRECTNESS rows.  The repo itself does not read such a
    field: which specs are proven is decided by the committed ledger
    (`queries/sweep_fingerprints.json`, blessed at round start by
    tools/update_sweep_fingerprints.py), which holds these same
    fingerprints.  Cheap: pure hashing, no Spark session required."""
    from datafusion_umami_spark.fingerprint import spec_fingerprint
    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    return {name: spec_fingerprint(spec) for name, spec in REGISTRY.items()}
