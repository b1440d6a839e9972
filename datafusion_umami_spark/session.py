"""SparkSession factory tuned for the engine.

Mirrors the reference's session bootstrap (`SessionContext::new` +
`ConfigOptions`, reference `datafusion/common/src/config.rs`): one place
where execution knobs live.  On a real cluster the same builder is used
with `master` unset (picked up from spark-submit) and per-job overrides.

Scale notes (100 TB design):
- AQE on: runtime partition coalescing, skew-join splitting and
  broadcast-join demotion replace the reference's umami adaptive layer
  (SURVEY.md §0) — Spark's executor-side spill (TaskMemoryManager,
  UnsafeExternalSorter, spillable hash agg) covers out-of-core robustness.
- Host-sized defaults, each overridable by its env var: local[N] and the
  initial shuffle partitions use the CPUs this process may run on
  (`SPARK_GRAFT_CPUS`), the driver heap half of physical memory
  (`SPARK_GRAFT_DRIVER_MEM`).
- `spark.sql.shuffle.partitions` here defaults to local-core count; on a
  cluster AQE's `advisoryPartitionSizeInBytes` governs actual post-shuffle
  parallelism, so the static number only seeds the initial plan.
- Arrow enabled for any pandas-UDF path (the designed slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
_PHYS_BYTES = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
# half of physical memory in whole GiB, at least 1g
HEAP = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, _PHYS_BYTES // 2**31)}g"

_DEFAULTS = {
    "spark.sql.shuffle.partitions": CPUS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # pinned, not inherited: overflow/try_* semantics across the whole
    # suite depend on ANSI mode (the reference's kernels are checked),
    # so an environment override must not silently flip it
    "spark.sql.ansi.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.cbo.enabled": "true",
    # Window group limit pushes rank()<=k filters into the shuffle (top-k
    # per group without full-partition materialization).
    "spark.sql.optimizer.windowGroupLimitThreshold": "1000",
    # events.parquet stores timestamp[ns]; Spark has no ns timestamps —
    # read as long and convert to µs in tables.py (SURVEY.md §1.2 row
    # "Timestamp ns truncated to µs").
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": HEAP,
}


def get_spark(app_name: str = "datafusion_umami_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    `master` comes from the environment when launched via spark-submit; for
    local runs we default to local[N] with N = `CPUS`.
    """
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_MASTER") and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{CPUS}]")
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
