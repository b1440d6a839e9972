"""Round-14 optimization: scale-adaptive scan spread (tables._maybe_spread).

Single-row-group fixture files scan as ONE task; the spread is OPT-IN per
query (measured: the exchange costs ~0.2-0.4 s, so only paths whose serial
per-row work dominates that opt in).  Below the size floor / above the
natural-split count it must stay off even when requested, and when it
fires it must neither break predicate pushdown nor change results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_umami_spark import tables
from datafusion_umami_spark.tables import table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spread_exchanges(plan: str) -> int:
    return plan.count("Exchange hashpartitioning")


def test_no_spread_by_default(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    for name in sorted(tables.FACT_TABLES):
        assert _spread_exchanges(_plan(table(spark, sf_dir, name))) == 0, name


def test_no_spread_below_floor_at_test_scale(spark, sf_dir):
    # sf0.001 files are all under SPREAD_MIN_BYTES: even opted-in scans
    # keep the exact shape every plan gate in tests/test_plans.py pins.
    for name in sorted(tables.FACT_TABLES):
        plan = _plan(table(spark, sf_dir, name, spread=True))
        assert _spread_exchanges(plan) == 0, name


def test_spread_fires_when_floor_lowered(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    plan = _plan(table(spark, sf_dir, "lineitem", spread=True))
    assert _spread_exchanges(plan) == 1
    # hash on the leading key column, never keyless round-robin (which
    # pays sortBeforeRepartition on the serial scan output)
    assert "l_orderkey" in plan.split("Exchange hashpartitioning", 1)[1][:80]
    assert "RoundRobinPartitioning" not in plan


def test_spread_skipped_when_scan_splits_naturally(spark, sf_dir, monkeypatch):
    # tiny maxPartitionBytes -> natural split count >= parallelism ->
    # the file layout already spreads, repartition must not fire
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        plan = _plan(table(spark, sf_dir, "lineitem", spread=True))
        assert _spread_exchanges(plan) == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_preserves_pushdown_and_results(spark, sf_dir, monkeypatch):
    filtered_cols = ["l_orderkey", "l_linenumber", "l_quantity"]

    def q(df):
        return (
            df.where(F.col("l_quantity") > 25)
            .select(*filtered_cols)
            # total order: (orderkey, linenumber) is NOT unique in the
            # generated fixtures, so quantity must join the sort key for
            # a partition-layout-invariant comparison
            .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        )

    plain = q(table(spark, sf_dir, "lineitem")).collect()
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    spread_df = q(table(spark, sf_dir, "lineitem", spread=True))
    plan = _plan(spread_df)
    assert _spread_exchanges(plan) >= 1
    # the quantity gate must still reach the parquet scan below the spread
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)" in plan
    assert spread_df.collect() == plain


def test_register_views_spread_is_per_call(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    tables.register_views(spark, sf_dir, spread=("lineitem",))
    assert _spread_exchanges(_plan(spark.table("lineitem"))) == 1
    assert _spread_exchanges(_plan(spark.table("orders"))) == 0
    # the next (default) registration must drop the spread again
    tables.register_views(spark, sf_dir)
    assert _spread_exchanges(_plan(spark.table("lineitem"))) == 0


def test_size_suffix_parser():
    f = tables.parse_bytes
    assert f("134217728") == 128 * 1024 * 1024
    assert f("128m") == 128 * 1024 * 1024
    assert f("128MB") == 128 * 1024 * 1024
    assert f("1g") == 1024**3
    assert f("48kb") == 48 * 1024
