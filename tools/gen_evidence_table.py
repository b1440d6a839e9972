"""Generate EVIDENCE.md: per-query proving round + swept-tree sha.

r10 verdict item 6 (round-12 endgame audit prep): surface the
fingerprint ledger (`queries/sweep_fingerprints.json`) as a committed,
human-scannable table so any row's demotion trail is one `git log
<swept sha>..HEAD -- <module>` away.  The table is GENERATED — a test
(tests/test_registry_inventory.py::test_evidence_table_matches_ledger)
regenerates it in memory and requires the committed file to match
byte-for-byte, so it can never drift from the ledger silently.

Statuses (proven / demoted / queued) follow the ledger rules in
`datafusion_umami_spark/fingerprint.py`.  The table reads ONLY the
committed ledger and the current spec text, so a fresh driver artifact
changes nothing until the round-start blessing runs.

Deterministic: sorted by name, no timestamps.  Usage:
    python tools/gen_evidence_table.py          # writes EVIDENCE.md
    python tools/gen_evidence_table.py --check  # exit 1 on drift
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

OUT = ROOT / "EVIDENCE.md"


def render() -> str:
    from datafusion_umami_spark.fingerprint import (
        entry_matches,
        load_ledger,
        spec_fingerprint,
    )
    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    ledger = load_ledger()

    rows = []
    by_round: dict[int, int] = {}
    queued = demoted = 0
    for name in sorted(REGISTRY):
        ent = ledger.get(name)
        if ent is None:
            rnd, sha, status = "—", "—", "queued"
            queued += 1
        elif entry_matches(ent, spec_fingerprint(REGISTRY[name])):
            rnd, sha, status = ent["round"], ent["sha"][:10], "proven"
            by_round[rnd] = by_round.get(rnd, 0) + 1
        else:
            rnd, sha = ent["round"], ent["sha"][:10]
            status = "demoted (edited after proof)"
            demoted += 1
        oracle = "oracle" if REGISTRY[name].oracle is not None else "rows-only"
        rows.append(f"| {name} | {rnd} | `{sha}` | {oracle} | {status} |")

    summary = ", ".join(
        f"r{r}: {c}" for r, c in sorted(by_round.items())
    )
    lines = [
        "# EVIDENCE — per-query proving round + swept-tree sha",
        "",
        "GENERATED by `tools/gen_evidence_table.py` from the fingerprint",
        "ledger (`datafusion_umami_spark/queries/sweep_fingerprints.json`)",
        "and the current spec text — do not edit by hand;",
        "`tests/test_registry_inventory.py` pins it byte-for-byte.",
        "",
        "A row is **proven** when its ledger fingerprint still matches",
        "the current spec text (proven-as-written).  The `swept sha` is",
        "the tree its green row executed (the parent of the commit adding",
        "that round's CORRECTNESS artifact), so a row's full",
        "edit-since-proof trail is",
        "`git log <swept sha>..HEAD -- datafusion_umami_spark/`.",
        "Ledger-pure by design: a freshly-landed driver artifact changes",
        "nothing here until the round-start blessing runs (regenerate",
        "right after `tools/update_sweep_fingerprints.py`).",
        "",
        "**Freshness SLA (since r12):** proven rows re-queue for the",
        "driver sweep oldest-blessing-round first (the freshness",
        "rotation in `queries/__init__._reorder_for_sweep`), so the",
        "per-round slack budget continuously re-proves the oldest",
        "evidence; target: no proven row's newest driver row more than",
        "~6 rounds old.  The per-round histogram below is the SLA gauge.",
        "",
        f"**{len(REGISTRY)} registered queries: "
        f"{len(REGISTRY) - queued - demoted} proven ({summary}); "
        f"{demoted} demoted; {queued} queued.**",
        "",
        "| Query | Round | Swept sha | Check | Status |",
        "|---|---|---|---|---|",
        *rows,
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    text = render()
    if "--check" in sys.argv:
        current = OUT.read_text() if OUT.exists() else ""
        if current != text:
            print("EVIDENCE.md is stale — regenerate with "
                  "python tools/gen_evidence_table.py", file=sys.stderr)
            return 1
        print("EVIDENCE.md is current")
        return 0
    OUT.write_text(text)
    print(f"wrote {OUT} ({text.count(chr(10))} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
