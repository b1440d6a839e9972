"""Run one workload under several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median) against its bound, and the
same for the ungated latency figures of the detail line.

    python3 perfbench/spread.py --workload olap-sf0.1 --seeds 1-10

Runs are sequential, each in its own process, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median

from stats import quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Latency figures of the detail line, which are reported but not gated.
REPORTED = ("suite_s", "query_geomean_s", "peak_rss_mb")


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2].removeprefix("# detail "))
        print(f"seed {seed} wall {wall:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()))
        print(f"  suite_s {detail['suite_s']:.4g} passes {[round(x, 2) for x in detail['pass_s']]} "
              f"steal {detail['steal_jiffies_window']} "
              + " ".join(f"{q}={[round(x, 2) for x in xs]}"
                         for q, xs in detail["query_samples_s"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k in REPORTED:
            values.setdefault(k, []).append(detail[k])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k:18s} median {median(vs):10.4f}  spread {spread:6.3f}  "
              f"bound {bounds.get(k, float('nan')):.3f}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
