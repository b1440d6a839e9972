"""register_views install record (r14 guide §1 fixed-cost removal): the
record must (a) actually skip redundant re-registration, (b) re-create
exactly the views whose key changed — file identity, effective spread
flag, maxPartitionBytes for a spread view, session — and no other, and
(c) never survive an invalidate — the escape hatch the conftest autouse
fixture pulls around every test."""

from __future__ import annotations

import os
import shutil

from datafusion_umami_spark import tables
from datafusion_umami_spark.tables import (
    invalidate_view_memo,
    register_views,
)


def _install_counter(monkeypatch):
    """The names of the views register_views (re)loads, in call order."""
    loaded = []
    real = tables.table

    def counting_table(spark, sf_dir, name, **kw):
        loaded.append(name)
        return real(spark, sf_dir, name, **kw)

    monkeypatch.setattr(tables, "table", counting_table)
    return loaded


def _copy_fixtures(sf_dir, d, dir_table=None):
    """Copy every fixture file into `d`; `dir_table` becomes a directory
    table (the 100 TB layout) holding one part file."""
    d.mkdir()
    for name in tables.TABLE_NAMES:
        if name == dir_table:
            sub = d / f"{name}.parquet"
            sub.mkdir()
            shutil.copy(f"{sf_dir}/{name}.parquet", sub / "part-0.parquet")
        else:
            shutil.copy(f"{sf_dir}/{name}.parquet", d / f"{name}.parquet")


def test_memo_hit_skips_reregistration(spark, sf_dir, monkeypatch):
    loaded = _install_counter(monkeypatch)
    register_views(spark, sf_dir)
    assert loaded == list(tables.TABLE_NAMES)
    register_views(spark, sf_dir)
    assert len(loaded) == len(tables.TABLE_NAMES)  # hit: zero extra loads
    # and the views are live + queryable after the skipped call
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] > 0


def test_memo_misses_on_spread_change(spark, sf_dir, monkeypatch):
    loaded = _install_counter(monkeypatch)
    register_views(spark, sf_dir)
    loaded.clear()
    register_views(spark, sf_dir, spread=("lineitem",))
    assert loaded == ["lineitem"]  # only the switched view reloads
    register_views(spark, sf_dir)  # and back: never leaks into next query
    assert loaded == ["lineitem", "lineitem"]
    # nation is not a fact table: spread=("nation",) installs the same
    # view as a plain registration
    register_views(spark, sf_dir, spread=("nation",))
    assert loaded == ["lineitem", "lineitem"]
    register_views(spark, sf_dir, spread=("lineitem",))
    loaded.clear()
    register_views(spark, sf_dir, spread=("documents",))
    assert sorted(loaded) == ["documents", "lineitem"]


def test_memo_misses_on_file_identity_change(spark, sf_dir, monkeypatch, tmp_path):
    d = tmp_path / "sf"
    _copy_fixtures(sf_dir, d)
    loaded = _install_counter(monkeypatch)
    register_views(spark, str(d))
    register_views(spark, str(d))
    assert len(loaded) == len(tables.TABLE_NAMES)
    os.utime(d / "lineitem.parquet")  # mtime bump = new file identity
    register_views(spark, str(d))
    assert loaded[len(tables.TABLE_NAMES):] == ["lineitem"]


def test_invalidate_forces_reinstall_after_shadowing(spark, sf_dir):
    register_views(spark, sf_dir)
    real = spark.sql("SELECT count(*) FROM nation").collect()[0][0]
    spark.sql("SELECT 1 AS n_nationkey").createOrReplaceTempView("nation")
    invalidate_view_memo()
    register_views(spark, sf_dir)
    assert spark.sql("SELECT count(*) FROM nation").collect()[0][0] == real


def test_memo_misses_on_max_partition_bytes_change(spark, sf_dir, monkeypatch):
    """r14 ADVICE (medium): maxPartitionBytes gates the spread
    repartition baked into an opted-in view's logical plan at install
    time — an in-session change must re-create that view, the same
    PLAN_SHAPE_CONFS discipline as the shared-checkpoint cache; the
    views that do not spread do not read it."""
    loaded = _install_counter(monkeypatch)
    register_views(spark, sf_dir, spread=("lineitem",))
    loaded.clear()
    old = str(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
        register_views(spark, sf_dir, spread=("lineitem",))
        assert loaded == ["lineitem"]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_memo_bypassed_for_directory_tables(spark, sf_dir, monkeypatch, tmp_path):
    """r14 ADVICE (low): a directory table's stat does not witness its
    leaves — that view is re-created on every call, mirroring
    _cached_schema's skip; the file-backed views are still kept."""
    d = tmp_path / "sf"
    _copy_fixtures(sf_dir, d, dir_table="nation")
    loaded = _install_counter(monkeypatch)
    register_views(spark, str(d))
    loaded.clear()
    register_views(spark, str(d))
    assert loaded == ["nation"]
    register_views(spark, str(d))
    assert loaded == ["nation", "nation"]


def test_new_session_gets_its_own_views(spark, sf_dir, monkeypatch):
    """Temp views belong to a session: a call from another session
    object starts a fresh record, and the first session's next call
    re-installs all ten (one live installation at a time)."""
    loaded = _install_counter(monkeypatch)
    register_views(spark, sf_dir)
    s2 = spark.newSession()
    loaded.clear()
    register_views(s2, sf_dir)
    assert loaded == list(tables.TABLE_NAMES)
    for name in tables.TABLE_NAMES:
        assert s2.sql(f"SELECT count(*) FROM {name}").collect()[0][0] > 0, name
    loaded.clear()
    register_views(spark, sf_dir)
    assert loaded == list(tables.TABLE_NAMES)
