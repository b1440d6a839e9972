"""Operator-coverage query modules. Importing this package registers
every query into `datafusion_umami_spark.registry.REGISTRY`.

REGISTRATION ORDER IS LOAD-BEARING: the driver's correctness sweep walks
the registry in insertion order under a ~50-query/round budget, so
`_reorder_for_sweep()` below rebuilds the REGISTRY dict after all
modules import, in three ranks:

  1. queries whose latest recorded driver row FAILED (need re-proof);
  2. unproven queries — no driver row in any `CORRECTNESS_r*.json`, or
     a green row demoted by the fingerprint ledger — in module import
     order;
  3. proven greens, by ASCENDING round of their latest driver record
     (the freshness rotation; module order breaks ties).

"Proven green" means proven-AS-WRITTEN (r8 verdict item 4): a green row
certifies the spec the driver ran, so `_driver_history` demotes any
green name whose CURRENT fingerprint (Spark SQL + oracle + shape,
`fingerprint.py`) differs from the committed ledger entry recorded at
its last green row (`sweep_fingerprints.json`, maintained by
`tools/update_sweep_fingerprints.py` at round start).  Edited specs
re-queue ahead of proven greens until the driver re-proves the new text.

This is self-maintaining: each round's driver artifact is read from the
repo root, so round N+1 automatically pushes round N's greens to the back
and pulls any new failures to the front — no manual rotation needed.
"""

from __future__ import annotations

import json
from pathlib import Path

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


def _driver_history() -> tuple[set[str], set[str]]:
    """(green, failed) query names across all CORRECTNESS_r*.json artifacts.

    Classification uses the LATEST record per name (artifacts sort by
    round — zero-padded filenames), so a regression after an earlier
    pass re-enters the front of the sweep queue:
    green  = latest record is a pass (hash match, or a rows-only check
             that produced rows for an oracle-less spec);
    failed = latest record is not a pass.

    A rows-only record only proves a spec that is STILL oracle-less: if
    the current spec carries an oracle (e.g. the round-6 tolerance-banded
    approx-agg rewrites), a stale `no_oracle` record must classify the
    name as unproven so it re-enters the front and earns a hash row
    (r6 verdict item 1).

    Two ledger-backed demotions on top (r8 verdict item 4, fingerprint.py):
    - a green name whose CURRENT spec fingerprint differs from its
      ledger entry is unproven (edited after proof);
    - FAIL-SAFE: a green name MISSING from the ledger is unproven, so a
      dropped entry re-queues a spec rather than laundering it.  The
      one window: a green row from the LATEST artifact stays green
      until the round-start blessing lands, i.e. while the ledger's max
      round is behind the artifacts' max round.
    """
    from datafusion_umami_spark.fingerprint import load_ledger
    from datafusion_umami_spark.registry import REGISTRY

    root = Path(__file__).resolve().parents[2]
    oracled = {n for n, spec in REGISTRY.items() if spec.oracle is not None}
    records = _latest_records(root)
    green, failed = _classify(records, oracled)
    green -= _stale_edited(green)
    ledger = load_ledger()
    absent = {n for n in green if n not in ledger}
    if absent:
        max_round = max((rnd for _, rnd in records.values()), default=0)
        ledger_max = max((e.get("round", 0) for e in ledger.values()),
                         default=0)
        if ledger_max >= max_round:
            green -= absent  # blessing landed; absent == dropped/refused
        else:
            green -= {n for n in absent if records[n][1] != max_round}
    return green, failed


def _latest_records(root: Path) -> dict[str, tuple[dict, int]]:
    """name -> (latest driver record, round of that record).

    Single source of truth for artifact walking — the sweep classifier
    and tools/update_sweep_fingerprints.py both build on it so ledger
    blessing and sweep demotion can never drift apart."""
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


def _classify(
    records: dict[str, tuple[dict, int]], oracled: set[str] = frozenset()
) -> tuple[set[str], set[str]]:
    green, failed = set(), set()
    for name, (rec, _rnd) in records.items():
        rows_only_ok = (
            rec.get("err") == "no_oracle"
            and rec.get("spark_rows") is not None
            and name not in oracled
        )
        if bool(rec.get("hash_match")) or rows_only_ok:
            green.add(name)
        else:
            failed.add(name)
    return green, failed


def _driver_history_from(
    root: Path, oracled: set[str] = frozenset()
) -> tuple[set[str], set[str]]:
    """Artifact-only classification (no ledger logic) — the unit-test
    surface for the record-walk semantics."""
    return _classify(_latest_records(root), oracled)


def _stale_edited(green: set[str]) -> set[str]:
    """Green names whose CURRENT spec text no longer matches the
    fingerprint recorded when their last driver row went green.

    "Proven" means proven-as-written (r8 verdict item 4): an edit to a
    spec's Spark SQL, oracle, or callable source after its last green
    row demotes it to unproven so it re-queues ahead of proven greens
    and earns a fresh driver row on the new text.  Names absent from the
    ledger are left green (the ledger is maintained by
    tools/update_sweep_fingerprints.py at round start)."""
    from datafusion_umami_spark.fingerprint import load_ledger, spec_fingerprint
    from datafusion_umami_spark.registry import REGISTRY

    ledger = load_ledger()
    return {
        n
        for n in green
        if n in ledger
        and n in REGISTRY
        and ledger[n].get("fp") != spec_fingerprint(REGISTRY[n])
    }


def _reorder_for_sweep() -> None:
    """Rebuild REGISTRY insertion order for the driver's ~50-row sweep.

    Ranks: (0) latest-record FAILs, (1) never-swept / demoted names in
    module order, (2) proven greens by ASCENDING round of their latest
    driver record, module order breaking ties (the FRESHNESS ROTATION,
    r11 verdict item 2): once the unproven prefix drains, the slack
    budget lands on the OLDEST evidence, and each re-proof rotates its
    row to the back.  The age key is the RECORD round, not the ledger
    blessing round (r12 review: a legitimately ledger-absent green is
    not necessarily fresh; every green has a record by construction).
    SLA target: no proven row's newest driver evidence older than ~6
    rounds (~541 rows / ~31 slack slots/round ≈ 17-round full cycle,
    front-loaded on the oldest cohorts)."""
    from datafusion_umami_spark.registry import REGISTRY

    green, failed = _driver_history()
    root = Path(__file__).resolve().parents[2]
    records = _latest_records(root)
    names = list(REGISTRY)
    rank: dict[str, tuple[int, int, int]] = {}
    for pos, name in enumerate(names):
        if name in failed:
            rank[name] = (0, 0, pos)
        elif name not in green:
            rank[name] = (1, 0, pos)
        else:
            rnd = records[name][1] if name in records else 10**6
            rank[name] = (2, rnd, pos)
    ordered = sorted(names, key=rank.__getitem__)
    snapshot = {name: REGISTRY[name] for name in ordered}
    REGISTRY.clear()
    REGISTRY.update(snapshot)


_reorder_for_sweep()
