"""Round-14 optimization: parquet footer-schema cache (tables._cached_schema).

The cache must be invisible: identical schema to fresh inference for every
table, invalidated the moment the file's identity (mtime/size) changes, and
bypassed for non-file paths (the 100 TB directory layout).
"""

from __future__ import annotations

import os
import shutil

from datafusion_umami_spark.tables import (
    TABLE_NAMES,
    _SCHEMA_CACHE,
    _cached_schema,
    table,
)


def test_cached_schema_matches_fresh_inference(spark, sf_dir):
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        cached = _cached_schema(spark, path)
        fresh = spark.read.parquet(path).schema
        assert cached == fresh, name
    # the schema-conf key already carries nanosAsLong: a second events
    # lookup is a hit, not a second entry
    key_count = len(_SCHEMA_CACHE)
    _cached_schema(spark, f"{sf_dir}/events.parquet")
    assert len(_SCHEMA_CACHE) == key_count


def test_cached_schema_invalidates_on_mtime_change(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/nation.parquet"
    dst = str(tmp_path / "nation.parquet")
    shutil.copy(src, dst)
    first = _cached_schema(spark, dst)
    assert first is not None
    key_count = len(_SCHEMA_CACHE)
    # same identity -> cache hit, no new entry
    again = _cached_schema(spark, dst)
    assert again is first
    assert len(_SCHEMA_CACHE) == key_count
    # touch -> new mtime_ns -> new entry (fresh inference)
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    third = _cached_schema(spark, dst)
    assert third == first
    assert len(_SCHEMA_CACHE) == key_count + 1


def test_cached_schema_skips_directories(spark, sf_dir, tmp_path):
    d = tmp_path / "dir_table.parquet"
    d.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", str(d / "part-0.parquet"))
    assert _cached_schema(spark, str(d)) is None


def test_cached_schema_keys_on_schema_confs(spark, sf_dir):
    """r14 verdict item 7: two same-process sessions with different
    schema-affecting confs must not launder one's inferred schema into
    the other — the cache key folds in every _SCHEMA_CONFS value, so
    each session's entry matches ITS OWN fresh inference."""
    s2 = spark.newSession()
    flip = {"true": "false", "false": "true"}
    cur = str(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")).lower()
    s2.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", flip[cur])
    try:
        path = f"{sf_dir}/events.parquet"
        a = _cached_schema(spark, path)
        b = _cached_schema(s2, path)
        assert a == spark.read.parquet(path).schema
        assert b == s2.read.parquet(path).schema
        # distinct cache entries (same file identity, different conf key)
        keys = [k for k in _SCHEMA_CACHE if k[0] == os.path.realpath(path)]
        assert len(keys) >= 2
    finally:
        s2.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")


def test_table_loads_identical_rows_via_cache(spark, sf_dir):
    # end-to-end: the imposed-schema read returns the same rows as an
    # inference read (nation is tiny and totally ordered by key)
    via_cache = (
        table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    )
    fresh = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .orderBy("n_nationkey")
        .collect()
    )
    assert via_cache == fresh
