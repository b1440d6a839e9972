"""Dump per-query `.explain("formatted")` files for an optimization round.

Usage: PYTHONPATH=. python tools/dump_plan_files.py <outdir> <suffix> [names...]

Writes <outdir>/<query>_<suffix>.txt for each bench query (or the given
subset) using the SAME session configuration as bench.py (session.get_spark),
so the captured plan is the plan the bench actually times: plan shape
before/after a change, expression ids elided for diffability.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_umami_spark.registry import bench_queries
from datafusion_umami_spark.session import get_spark


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plan_files")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    specs = bench_queries()
    todo = names or sorted(specs)
    for name in todo:
        spec = specs[name]
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        plan = re.sub(r"Location: \S+", "Location: <elided>", plan)
        plan = re.sub(r"#\d+L?", "", plan)
        plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=<elided>]", plan)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan.strip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
