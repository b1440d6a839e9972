"""Spec fingerprints for the sweep ledger (r8 verdict item 4).

"Proven" must mean proven-as-written: a driver green row certifies what
the spec the driver ran MEANS, not its name.  Each QuerySpec is
fingerprinted over its Spark SQL / docstring, its DuckDB oracle text and
its shape (`spec_fingerprint`: `fn._sql_shape` for SQL specs, the
callable's source for DataFrame specs — never a registrar closure), plus
a shared salt over ALL shared semantic helpers every oracle relies on
(`registry.dec/dsum/davg/money/ntz` — widened from dec/dsum in round 10,
r9 ADVICE item 3, with an in-place verified ledger migration; byte-stable
since round 1, so salting them is free until the day someone edits them
— at which point demoting every green is exactly right).  BOUNDARY
(explicit, not an oversight): edits to the broader shared
infrastructure (the registrars, tables.py loading/normalization,
operators/materialize.py, streaming/runner.py) are NOT fingerprinted —
they changed in most rounds, so salting them would mass-demote the
proven ledger; their correctness is instead re-proven every round by
the full-registry sf0.01/sf0.1 verify legs (`tools/verify_subset.py`,
recorded per round in `CORRECTNESS_r*.json`), which execute every spec
end-to-end against DuckDB.

The committed ledger `queries/sweep_fingerprints.json` maps
name -> {fp, round, sha} (sha = the swept tree the green row executed,
r9 verdict item 2); the sweep classifier
(`queries/__init__._driver_history`) demotes a driver-green name back
to "unproven" whenever its CURRENT fingerprint differs from the ledger
entry — and, fail-safe, whenever the name is MISSING from the ledger
unless its green row is from the latest artifact AND the round-start
blessing has not yet landed for it (fresh evidence only; once the
ledger's max round catches up, absent == dropped and demotes).  A
dropped ledger entry therefore re-queues a spec rather than laundering
it into proven.  The ledger is the only proof of text: no field of a
CORRECTNESS record decides whether the current text is proven.

Maintenance: `tools/update_sweep_fingerprints.py`, run at ROUND START
(before any spec edits) so newly-green rows are blessed against the text
the driver actually swept.  The round-1..8 entries were bootstrapped from
each round's snapshot commit (the verdict commit's parent), i.e. from the
exact text each green row ran against.  The switch from hashing the
registrar closure to `_sql_shape` migrated the ledger like round 10 did:
an `fp` was rewritten only where it matched the old algorithm's
fingerprint of the current text, so stale entries stayed stale.
"""

from __future__ import annotations

import hashlib
import inspect
import json
from functools import lru_cache
from pathlib import Path

LEDGER_PATH = Path(__file__).resolve().parent / "queries" / "sweep_fingerprints.json"


@lru_cache(maxsize=1)
def _shared_salt() -> str:
    """Source hash of ALL shared semantic helpers (dec/dsum/davg/money/
    ntz) mixed into every fingerprint: an edit to decimal-money or
    timestamp-normalization semantics changes what every proven oracle
    row meant, so it must demote ALL greens.  The set was dec/dsum only
    until round 10; the r9 advisor observed that editing e.g. money()'s
    price*(1-disc) formula would silently change proven TPC-H revenue
    semantics — all five are byte-stable since round 1, so widening the
    salt was free (the r10 ledger was migrated in the same commit, each
    entry's swept text verified against the old salt first — the
    one-off migration script is in git history)."""
    from datafusion_umami_spark import registry

    parts = []
    for fn in (registry.dec, registry.dsum, registry.davg, registry.money,
               registry.ntz):
        try:
            parts.append(inspect.getsource(fn))
        except (OSError, TypeError):
            parts.append(fn.__name__)
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()


def spec_fingerprint(spec) -> str:  # type: ignore[no-untyped-def]
    """sha256 over (fn docstring, oracle SQL, shape, shared salt).

    The docstring carries the full Spark SQL of `register_sql` /
    `register_split_sql` specs, whose shape is `fn._sql_shape`.  A
    `@register` DataFrame spec's shape is its callable's source, so even
    a comment-only edit to its body demotes it: conservative by design.
    That source includes the decorator, so a new `discrimination=`
    probe, tag or `bench=` on an `@register` spec demotes it too; on a
    SQL spec those arguments leave the fingerprint unchanged.
    """
    shape = getattr(spec.fn, "_sql_shape", None)
    if shape is not None:
        src = repr(shape)
    else:
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            src = ""
    blob = "\x00".join(
        (spec.fn.__doc__ or "", spec.oracle or "", src, _shared_salt())
    )
    return hashlib.sha256(blob.encode()).hexdigest()


def load_ledger(path: Path | None = None) -> dict[str, dict]:
    p = path or LEDGER_PATH
    try:
        data = json.loads(p.read_text())
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def save_ledger(ledger: dict[str, dict], path: Path | None = None) -> None:
    p = path or LEDGER_PATH
    p.write_text(json.dumps(dict(sorted(ledger.items())), indent=1) + "\n")
