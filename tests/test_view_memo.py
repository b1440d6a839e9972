"""register_views memo (r14 guide §1 fixed-cost removal): the memo must
(a) actually skip redundant re-registration, (b) miss on every key
component that could change what the views mean (sf_dir, spread set,
file identity, session), and (c) never survive an invalidate — the
escape hatch the conftest autouse fixture pulls around every test."""

from __future__ import annotations

import os

import pytest

from datafusion_umami_spark import tables
from datafusion_umami_spark.tables import (
    invalidate_view_memo,
    register_views,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _install_counter(monkeypatch):
    calls = {"n": 0}
    real = tables.table

    def counting_table(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(tables, "table", counting_table)
    return calls


def test_memo_hit_skips_reregistration(spark, monkeypatch):
    calls = _install_counter(monkeypatch)
    register_views(spark, SF_DIR)
    first = calls["n"]
    assert first == len(tables.TABLE_NAMES)
    register_views(spark, SF_DIR)
    assert calls["n"] == first  # memo hit: zero extra table() loads
    # and the views are live + queryable after the skipped call
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0


def test_memo_misses_on_spread_change(spark, monkeypatch):
    calls = _install_counter(monkeypatch)
    register_views(spark, SF_DIR)
    n1 = calls["n"]
    register_views(spark, SF_DIR, spread=("lineitem",))
    assert calls["n"] == 2 * n1  # different spread set: full re-install
    register_views(spark, SF_DIR)  # and back: never leaks into next query
    assert calls["n"] == 3 * n1


def test_memo_misses_on_file_identity_change(spark, monkeypatch, tmp_path):
    # copy one fixture dir entry-by-entry so we can touch a file's mtime
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    for name in tables.TABLE_NAMES:
        shutil.copy(f"{SF_DIR}/{name}.parquet", d / f"{name}.parquet")
    calls = _install_counter(monkeypatch)
    register_views(spark, str(d))
    n1 = calls["n"]
    register_views(spark, str(d))
    assert calls["n"] == n1
    os.utime(d / "lineitem.parquet")  # mtime bump = new file identity
    register_views(spark, str(d))
    assert calls["n"] == 2 * n1


def test_invalidate_forces_reinstall_after_shadowing(spark):
    register_views(spark, SF_DIR)
    real = spark.sql("SELECT count(*) FROM nation").collect()[0][0]
    spark.sql("SELECT 1 AS n_nationkey").createOrReplaceTempView("nation")
    invalidate_view_memo()
    register_views(spark, SF_DIR)
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] == real


def test_memo_misses_on_max_partition_bytes_change(spark, monkeypatch):
    """r14 ADVICE (medium): maxPartitionBytes gates the spread
    repartition baked into an opted-in view's logical plan at install
    time — an in-session change must MISS the memo, the same
    PLAN_SHAPE_CONFS discipline as the shared-checkpoint cache."""
    calls = _install_counter(monkeypatch)
    register_views(spark, SF_DIR, spread=("lineitem",))
    n1 = calls["n"]
    old = str(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
        register_views(spark, SF_DIR, spread=("lineitem",))
        assert calls["n"] == 2 * n1  # conf change: full re-install
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_memo_bypassed_for_directory_tables(spark, monkeypatch, tmp_path):
    """r14 ADVICE (low): a directory table's stat does not witness its
    leaves — the memo must bypass (always re-register), mirroring
    _cached_schema's S_ISREG skip."""
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    for name in tables.TABLE_NAMES:
        if name == "nation":
            sub = d / "nation.parquet"
            sub.mkdir()
            shutil.copy(f"{SF_DIR}/nation.parquet", sub / "part-0.parquet")
        else:
            shutil.copy(f"{SF_DIR}/{name}.parquet", d / f"{name}.parquet")
    calls = _install_counter(monkeypatch)
    register_views(spark, str(d))
    n1 = calls["n"]
    register_views(spark, str(d))
    assert calls["n"] == 2 * n1  # never memoized: stat can't witness leaves
