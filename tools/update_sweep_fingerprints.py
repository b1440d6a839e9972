"""Refresh queries/sweep_fingerprints.json from the driver artifacts.

Run at ROUND START, before any spec edits, so each newly-green driver row
is blessed against the text the driver actually swept.  The blessing
rules are stated with the other ledger rules in
`datafusion_umami_spark/fingerprint.py`; `apply_blessings` implements
them, on the passing records and newest round that the sweep order is
built from (`queries._latest_records` / `_passing`).

The blessing rests on "current tree == swept tree", and `preflight`
PROVES it rather than assuming it: it refuses a dirty package tree and
any post-sweep commit touching the package.  Each blessed entry records
the swept tree's `sha` (the parent of the commit that added the round's
CORRECTNESS artifact).  So main():
  - proven tree -> bless;
  - unproven tree with latest-round greens still to bless -> REFUSE
    (exit 2), unless `--force` vouches for the swept text;
  - `--force` cannot get past a BlessingError (no artifact, or the
    newest one uncommitted): there is no swept tree to vouch for;
  - unproven tree with nothing to bless -> report the counts; the
    ledger is not rewritten.

Usage: python tools/update_sweep_fingerprints.py [--dry-run] [--force]
"""

from __future__ import annotations

import argparse
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# The ledger itself is the tool's own output — excluded from cleanliness
# checks so the blessing commit does not block a re-run.
_PKG = "datafusion_umami_spark"
_LEDGER_REL = f"{_PKG}/queries/sweep_fingerprints.json"


def _git(root: Path, *args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=root, capture_output=True, text=True, check=True
    ).stdout.strip()


class BlessingError(RuntimeError):
    """A precondition of the blessing is unresolvable, not just dirty."""


def swept_head(root: Path) -> tuple[str, str]:
    """(artifact commit, swept sha) for the LATEST driver artifact.

    The driver sweeps the builder's final HEAD, then commits the
    CORRECTNESS/BENCH artifacts on top — so the tree the green rows
    executed is the PARENT of the commit that added the newest artifact.
    Raises BlessingError (not a bare IndexError) when no artifact exists
    or the newest one is not committed — both mean there is no swept
    tree to bless from."""
    artifacts = sorted(root.glob("CORRECTNESS_r*.json"))
    if not artifacts:
        raise BlessingError("no CORRECTNESS_r*.json artifacts exist — "
                            "nothing to bless from")
    latest = artifacts[-1]
    adds = _git(root, "log", "--diff-filter=A", "--format=%H", "--",
                latest.name).splitlines()
    if not adds:
        raise BlessingError(
            f"{latest.name} is not committed — the swept tree is the "
            "parent of the artifact-adding commit, so commit the driver "
            "artifacts first")
    if len(adds) > 1:
        # r10 ADVICE item 2: a deleted-and-re-added artifact has several
        # adding commits; the rows CURRENTLY in the file executed the
        # tree preceding the NEWEST add (git log is newest-first =
        # adds[0]), not the first add.  Older ledger entries pinned to
        # the first add's parent will then fail the provenance CI test
        # loudly — which is the desired behavior, not something to
        # paper over here.
        print(f"WARN: {latest.name} was added {len(adds)} times; using "
              f"the newest add {adds[0][:10]}", file=sys.stderr)
    return adds[0], _git(root, "rev-parse", f"{adds[0]}^")


def preflight(root: Path) -> list[str]:
    """Blessing-soundness violations (empty == sound; r9 verdict item 2,
    r9 ADVICE items 1-2).

    Blessing fingerprints the CURRENT tree against green rows that
    executed the SWEPT tree; that is sound only when the two are
    provably identical under the package.  Two checks PROVE it instead
    of assuming the run-at-round-start convention:
      1. no uncommitted changes under datafusion_umami_spark/ (a
         mid-edit run would launder a post-proof edit into proven);
      2. no commit since the swept sha touches the package (a run after
         any post-sweep code commit would bless text the driver never
         ran — comment-only or not, fingerprints are conservative).
    The ledger file itself is excluded (it is this tool's own output)."""
    problems = []
    dirty = _git(root, "status", "--porcelain", "--",
                 _PKG, f":(exclude){_LEDGER_REL}")
    if dirty:
        problems.append(
            "uncommitted changes under the package:\n" + dirty)
    try:
        _artifact, swept = swept_head(root)
    except BlessingError as e:
        problems.append(str(e))
        return problems
    commits = _git(root, "log", "--format=%h %s", f"{swept}..HEAD", "--",
                   _PKG, f":(exclude){_LEDGER_REL}")
    if commits:
        problems.append(
            f"commits after swept tree {swept[:10]} touch the package "
            "(working tree no longer proves the swept text):\n" + commits)
    return problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dry-run", action="store_true",
                    help="report what would change; write nothing")
    ap.add_argument("--force", action="store_true",
                    help="bless from an unproven tree (you vouch for "
                         "the swept text)")
    args = ap.parse_args(argv)

    from datafusion_umami_spark.fingerprint import (
        load_ledger,
        save_ledger,
        spec_fingerprint,
    )
    from datafusion_umami_spark.queries import _latest_records, _passing
    from datafusion_umami_spark.registry import REGISTRY

    oracled = {n for n, s in REGISTRY.items() if s.oracle is not None}
    greens, max_round = _passing(_latest_records(ROOT), oracled)
    ledger = load_ledger()
    problems = preflight(ROOT)
    for p in problems:
        print("REFUSING tree-based blessing —", p, file=sys.stderr)
    try:
        _artifact, swept = swept_head(ROOT)
        no_tree = None
    except BlessingError as e:
        swept, no_tree = None, e  # preflight reported it already

    added, updated, stale, skipped = apply_blessings(
        ledger, greens, max_round, swept, known=set(REGISTRY),
        current_fp=lambda n: spec_fingerprint(REGISTRY[n]),
    )
    if problems and (added or updated):
        if not args.force:
            print("(fix the tree, or re-run with --force if you have "
                  "independently verified the swept text.  NOTE: until "
                  "the blessing lands, fresh latest-artifact greens stay "
                  "classifier-exempt but unblessed — resolve promptly, "
                  "and do not edit fresh-green specs before re-running)",
                  file=sys.stderr)
            return 2
        if no_tree is not None:
            # r10 ADVICE item 1: no artifact, or the newest one
            # uncommitted, is NON-FORCEABLE
            print("REFUSING even with --force —", no_tree, file=sys.stderr)
            print("(--force vouches for the swept text; it cannot "
                  "conjure a swept tree that does not exist)",
                  file=sys.stderr)
            return 2
        print("--force: blessing anyway (caller vouches for the "
              "swept text)", file=sys.stderr)
    elif problems:
        print("(nothing to bless — the ledger is left as it is)",
              file=sys.stderr)

    print(f"green={len(greens)} added={len(added)} updated={len(updated)} "
          f"stale(left)={len(stale)} skipped(missing,old)={len(skipped)}")
    if stale:
        print("stale:", ", ".join(stale))
    if skipped:
        print("WARN skipped (missing entry, pre-latest green row — will "
              "re-queue):", ", ".join(skipped))
    if not args.dry_run and (added or updated):
        save_ledger(ledger)
        print("ledger written")
    return 0


def apply_blessings(ledger, greens, max_round, swept, known, current_fp):
    """Mutate `ledger` per the blessing rules (fingerprint.py); return
    (added, updated, stale, skipped) name lists.  Pure decision core of
    main(), split out so the rules are unit-testable without a git repo:
    `greens` maps each passing name to its record round, `known` is the
    registered-name set, `current_fp(name)` the working-tree
    fingerprint, `swept` the sha recorded on each blessed entry."""
    from datafusion_umami_spark.fingerprint import entry_matches

    added, updated, stale, skipped = [], [], [], []
    for name, rnd in sorted(greens.items()):
        if name not in known:
            continue  # spec deleted; keep any ledger entry harmlessly
        ent = ledger.get(name)
        fp = current_fp(name)
        if ent is None:
            if rnd == max_round:
                ledger[name] = {"fp": fp, "round": rnd, "sha": swept}
                added.append(name)
            else:
                skipped.append(name)  # older sweep: text unrecoverable
        elif ent.get("round", 0) < rnd:
            if rnd == max_round:
                ledger[name] = {"fp": fp, "round": rnd, "sha": swept}
                updated.append(name)
            else:
                skipped.append(name)  # older sweep: text unrecoverable
        elif not entry_matches(ent, fp):
            stale.append(name)  # edited after proof — left for re-sweep
    return added, updated, stale, skipped


if __name__ == "__main__":
    raise SystemExit(main())
