"""Operator-coverage query modules. Importing this package registers
every query into `datafusion_umami_spark.registry.REGISTRY`.

REGISTRATION ORDER IS LOAD-BEARING: the driver's correctness sweep walks
the registry in insertion order under a ~50-query/round budget, so
`_reorder_for_sweep()` below rebuilds the REGISTRY dict after all
modules import, in the order `sweep_ranks` decides: latest-record
failures, then unproven names in registration order, then proven greens
by ascending round of their latest record (the freshness rotation).
What "proven" means (the ledger rules) is stated once, in
`datafusion_umami_spark/fingerprint.py`.

This is self-maintaining: each round's driver artifact is read from the
repo root, so round N+1 automatically pushes round N's greens to the back
and pulls any new failures to the front — no manual rotation needed.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from datafusion_umami_spark.fingerprint import entry_matches
from datafusion_umami_spark.queries import (  # noqa: F401
    aggregates,
    functions_nested,
    subqueries,
    relational,
    functions_scalar,
    json_funcs,
    types_edges,
    sources_sinks,
    udfs,
    recursive,
    dedup,
    h2o,
    clickbench,
    tpcds_shapes,
    job_shapes,
    catalog_ddl,
    dataframe_ops,
    simsearch,
    textanalysis,
    decontam,
    eventanalytics,
    curation,
    graph_algos,
    multimodal,
    streaming_queries,
    timeseries,
    tpch,
    joins,
    windows,
    bucketing,
    asof,
    # later tranches import last, so their never-swept names queue
    # behind the older unproven backlog
    job_shapes_t3,
    job_shapes_t4,
    tpcds_shapes_t5,
    clickbench_ext2,
    job_shapes_t5,
    tpcds_shapes_t6,
    clickbench_closure,
    job_shapes_t6,
    tpcds_shapes_t7,
    job_shapes_t7,
    tpcds_shapes_t8,
    pg_edges,
)

_ROOT = Path(__file__).resolve().parents[2]


def _latest_records(root: Path) -> dict[str, tuple[dict, int]]:
    """name -> (latest driver record, round of that record), over every
    `CORRECTNESS_r*.json` under `root`: the one artifact reader."""
    import re

    latest: dict[str, tuple[dict, int]] = {}
    for artifact in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", artifact.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(artifact.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if isinstance(rec, dict):
                latest[name] = (rec, rnd)
    return latest


def _passing(
    records: dict[str, tuple[dict, int]], oracled: set[str]
) -> tuple[dict[str, int], int]:
    """({name -> record round} of the names whose latest record passes,
    newest record round).  A rows-only record passes only for a spec
    with no oracle in `oracled`."""
    passing = {
        name: rnd
        for name, (rec, rnd) in records.items()
        if rec.get("hash_match")
        or (
            rec.get("err") == "no_oracle"
            and rec.get("spark_rows") is not None
            and name not in oracled
        )
    }
    return passing, max((rnd for _, rnd in records.values()), default=0)


def sweep_ranks(
    names: list[str],
    records: dict[str, tuple[dict, int]],
    ledger: dict[str, dict],
    fingerprint: Callable[[str], str],
    oracled: set[str],
) -> tuple[list[str], set[str], set[str]]:
    """(sweep order of `names`, green, failed) under the ledger rules of
    fingerprint.py.

    `names` is in registration order, `records` is `_latest_records`,
    `ledger` the fingerprint ledger, `fingerprint(name)` a registered
    spec's current fingerprint and `oracled` the names with an oracle.
    The order is failed, then unproven in registration order, then green
    by ascending record round, registration order breaking ties."""
    passing, newest = _passing(records, oracled)
    ledger_round = max((e.get("round", 0) for e in ledger.values()), default=0)
    registered = set(names)

    def proven(name: str, rnd: int) -> bool:
        entry = ledger.get(name)
        if entry is None:
            return ledger_round < newest and rnd == newest
        return name not in registered or entry_matches(entry, fingerprint(name))

    green = {name for name, rnd in passing.items() if proven(name, rnd)}
    failed = set(records) - set(passing)

    def rank(name: str) -> tuple[int, int]:
        if name in failed:
            return 0, 0
        if name in green:
            return 2, passing[name]
        return 1, 0

    return sorted(names, key=rank), green, failed


def _sweep() -> tuple[list[str], set[str], set[str]]:
    """`sweep_ranks` over the registry, from one read of the artifacts
    and one of the ledger."""
    from datafusion_umami_spark.fingerprint import load_ledger, spec_fingerprint
    from datafusion_umami_spark.registry import REGISTRY

    oracled = {n for n, spec in REGISTRY.items() if spec.oracle is not None}
    return sweep_ranks(
        list(REGISTRY), _latest_records(_ROOT), load_ledger(),
        lambda name: spec_fingerprint(REGISTRY[name]), oracled,
    )


def _driver_history() -> tuple[set[str], set[str]]:
    """(green, failed) names as the sweep ranks them now."""
    _order, green, failed = _sweep()
    return green, failed


def _reorder_for_sweep() -> None:
    """Rebuild REGISTRY insertion order for the driver's ~50-row sweep.

    Once the unproven prefix drains, the slack budget lands on the
    OLDEST evidence, and each re-proof rotates its row to the back.
    The age key is the RECORD round, not the ledger blessing round: a
    ledger-absent green is not necessarily fresh, and every green has a
    record.  SLA target: no proven row's newest driver evidence older
    than ~6 rounds (~541 rows / ~31 slack slots/round ≈ 17-round full
    cycle, front-loaded on the oldest cohorts)."""
    from datafusion_umami_spark.registry import REGISTRY

    order, _green, _failed = _sweep()
    snapshot = {name: REGISTRY[name] for name in order}
    REGISTRY.clear()
    REGISTRY.update(snapshot)


_reorder_for_sweep()
