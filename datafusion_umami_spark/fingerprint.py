"""Spec fingerprints and the sweep ledger: the one statement of the
ledger rules.

"Proven" must mean proven-as-written: a driver green row certifies what
the spec the driver ran MEANS, not its name.  Each QuerySpec is
fingerprinted over its Spark SQL / docstring, its DuckDB oracle text and
its shape (`spec_fingerprint`: `fn._sql_shape` for SQL specs, the
callable's source for DataFrame specs — never a registrar closure), plus
a shared salt over ALL shared semantic helpers every oracle relies on
(`registry.dec/dsum/davg/money/ntz`, byte-stable since round 1, so
salting them is free until the day someone edits them — at which point
demoting every green is exactly right).  BOUNDARY (explicit, not an
oversight): edits to the broader shared infrastructure (the registrars,
tables.py loading/normalization, operators/materialize.py,
streaming/runner.py) are NOT fingerprinted — they change in most
rounds, so salting them would mass-demote the proven ledger; their
correctness is instead re-proven every round by the full-registry
sf0.01/sf0.1 verify legs (`tools/verify_subset.py`), which execute every
spec end-to-end against DuckDB.

The committed ledger `queries/sweep_fingerprints.json` maps
name -> {fp, round, sha}: the fingerprint of the text a green row
proved, that row's round, and the swept tree it executed (the parent of
the commit that added the round's CORRECTNESS artifact).
`entry_matches` is the one comparison of an entry with a spec's current
fingerprint.

Proof — `queries.sweep_ranks`, which also orders the driver's sweep:
  - the latest `CORRECTNESS_r*.json` record per name wins.  It passes on
    a hash match, or as a rows-only (`no_oracle`) record with rows for a
    spec that has no oracle NOW (an oracle added later needs a hash
    row); any other latest record is a failure;
  - a passing name with a ledger entry is proven only while the entry
    matches its current fingerprint (edited after proof: unproven);
  - a passing name with NO ledger entry is proven only while the
    ledger's max round is behind the newest record round (the
    round-start blessing has not landed) and only if its row comes from
    that newest round.  Once the ledger catches up, absent means dropped
    or refused, so the name re-queues instead of being laundered into
    proven.
  No field of a CORRECTNESS record decides whether the current text is
  proven: the ledger is the only proof of text.

Blessing — `tools/update_sweep_fingerprints.py`, run at ROUND START,
before any spec edit, so each new green row is blessed against the text
the driver swept (its preflight refuses a tree that differs from the
swept one).  Per passing, registered name:
  - no entry, row from the newest round -> add (current fp, row round,
    swept sha);
  - entry older than the row, row from the newest round -> update;
  - no entry, or an entry older than the row, with the row from an
    OLDER round -> skip with a warning: that sweep's text cannot be
    recovered from the working tree, and blessing current text would
    launder any later edit;
  - entry not older than the row that no longer matches -> left stale
    (edited after proof; re-queued until a later green row re-blesses
    it);
  - a name no longer registered is ignored (its entry stays, harmless).

EVIDENCE.md (`tools/gen_evidence_table.py`) reads only the ledger and
the current text: proven (entry matches), demoted (entry does not
match), queued (no entry).

The round-1..8 entries were bootstrapped from each round's snapshot
commit, i.e. from the exact text each green row ran against; the
salt-widening (round 10) and `_sql_shape` migrations rewrote an `fp`
only where it matched the old algorithm's fingerprint of the current
text, so stale entries stayed stale.
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


def entry_matches(entry: dict, fp: str) -> bool:
    """Whether a ledger entry still proves the spec whose current
    fingerprint is `fp`."""
    return entry.get("fp") == fp


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
