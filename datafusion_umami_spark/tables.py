"""Table catalog for the driver's star schema (FIXTURES.md).

Equivalent of the reference's `ListingTable` + catalog registration
(reference `datafusion/core/src/datasource/listing/table.rs:922`,
`catalog/src/memory/table.rs:58`): `spark.read.parquet` already gives us
partition discovery, projection/predicate pushdown, and vectorized scans.

At 100 TB each table would be a partitioned directory (or an external
catalog table); the loader only needs the root path to change.
"""

from __future__ import annotations

import math
import os
import re
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The big fact tables of the driver schema: the only tables whose scans
# are worth force-spreading when the file layout cannot split (see
# _maybe_spread below), and the tables the CTE-inlining detector counts
# (operators/materialize.fact_scan_counts, tools/audit_scans.py).
FACT_TABLES = frozenset(
    {"lineitem", "orders", "events", "documents", "embeddings"}
)

# Below this size the exchange overhead of a spread outweighs any
# parallelism gain (and broadcast-build sides of tiny dims would pay it
# for nothing).  At sf0.001 no fixture passes the floor, so the local
# test suite's plan gates see unchanged plans; at sf0.01+ the fact
# tables do, so the oracle sweep exercises the spread path.
SPREAD_MIN_BYTES = 512 * 1024


def parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value the way Spark's
    `byteFromString` does: '134217728', '10485760b', '128m', '64MB',
    '1g', '48kb', '-1' (a leading minus is kept: -1 is how
    autoBroadcastJoinThreshold says "off").  Unit-less means bytes;
    suffixes are binary multiples, case-insensitive.  Raises
    ValueError on anything Spark itself would reject."""
    m = re.fullmatch(r"(-?)(\d+)([kmgtp]?)b?", v.strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {v!r}")
    sign, digits, unit = m.groups()
    n = int(digits) * 1024 ** " kmgtp".index(unit or " ")
    return -n if sign else n


def conf_values(spark: SparkSession, keys) -> tuple[str, ...]:
    """The session's value of each conf in `keys` as a string, "?" for
    one whose read raises.  No-arg conf.get: Spark 4.1 type-validates a
    provided default (CLAUDE.md gotcha)."""
    vals = []
    for key in keys:
        try:
            vals.append(str(spark.conf.get(key)))
        except Exception:
            vals.append("?")
    return tuple(vals)


def conf_bytes(spark: SparkSession, key: str, default):
    """`parse_bytes` of the conf `key`, or `default` when the read or the
    parse fails."""
    try:
        return parse_bytes(conf_values(spark, (key,))[0])
    except ValueError:
        return default


def _file_identity(path: str) -> tuple | None:
    """`(realpath, mtime_ns, size)` of a plain file: any rewrite of the
    file changes it.  None for a missing path or a directory (the 100 TB
    layout), whose stat does not witness its leaves; callers never
    memoize on None."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size)


def _maybe_spread(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Scale-adaptive scan spread (r14, optimization guide §2.5 "input
    skew: one huge unsplittable file ... repartition immediately after
    the read" and §6 minPartitionNum).  The fixtures are single-file,
    SINGLE-ROW-GROUP parquet, so every scan stage is ONE task no matter
    the core count — the whole per-row pipeline above it (decimal
    aggregation, regex gates, vector math, deep broadcast-join probes)
    runs serially.  When the file's natural split count
    (size / maxPartitionBytes) is below the cluster parallelism,
    HASH-repartition on the table's leading (key) column to
    defaultParallelism so downstream work parallelizes.  Hash, not
    round-robin: keyless repartition pays sortBeforeRepartition (a full
    local sort of the serial scan output), measured 1.4-2.3x slower
    than the keyed exchange on this suite; the leading column is the
    table's high-cardinality key, so the hash spreads evenly and is
    deterministic under retry.  At 100 TB the condition is false (fact
    files split past any core count) and this is a NO-OP — the gate
    derives from input size, never from a local-mode constant.

    OPT-IN per query (`table(..., spread=True)` /
    `register_views(..., spread=(...))`): measured per-query, the
    exchange costs ~0.2-0.4 s, so it only pays where the serial per-row
    pipeline above the scan exceeds that (measured r14 A/B: wins on
    deep self-join probes, decimal-heavy aggregation, regex/token maps,
    signature builds; loses on short multi-join queries where broadcast
    BUILD sides pay the exchange for nothing).  Results are
    partition-layout-invariant by the registry's determinism contract
    (proven by the full-registry sf0.01/sf0.1 verifies under a
    spread-everything build).  A directory table has no file identity
    and splits on its own leaves, so it never spreads."""
    ident = _file_identity(path)
    size = ident[2] if ident is not None else 0
    if size < SPREAD_MIN_BYTES:
        return df
    max_split = conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    target = spark.sparkContext.defaultParallelism
    if math.ceil(size / max(max_split, 1)) >= target or target <= 1:
        return df
    return df.repartition(target, df[df.columns[0]])


def normalize_events_ts(df: DataFrame, target: str = "timestamp_ntz") -> DataFrame:
    """Normalize the events ts column to `target` regardless of its
    on-disk encoding, which varies by generator version: parquet
    timestamp[ns] (surfaced as LongType via nanosAsLong — truncate to µs
    with integer division; double division would lose precision,
    epoch-ns ~1.7e18 > 2^53) or native timestamp[us].  Batch uses
    TIMESTAMP_NTZ (matches DuckDB's naive timestamps; session TZ pinned
    UTC ⇒ identical wall-clock); streaming uses TIMESTAMP because
    withWatermark rejects NTZ event time.

    KNOWN ASYMMETRY (r12 windows.py review): this truncation happens on
    the SPARK side only — the DuckDB oracle (local mirror AND the
    driver's view registration) reads the raw parquet, so under the
    ns-as-long generator variant a ts with NONZERO sub-µs components
    would be µs-truncated here but ns-precise there, flipping
    RANGE-frame membership / LAG peers at exact-µs boundaries.  Every
    generator version observed so far emits zero sub-µs components
    (probed r12: current fixtures are native-µs; the historical ns
    encoding was µs-grained values stored as ns), so the divergence set
    is empty in practice; if a future generator emits true sub-µs
    ticks, the oracle texts of the ts-ordered specs need a matching
    epoch-µs truncation (date_trunc cannot express it in DuckDB —
    use make_timestamp(epoch_us(ts)))."""
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn(
            "ts", F.expr("timestamp_micros(ts DIV 1000)").cast(target)
        )
    return df.withColumn("ts", F.col("ts").cast(target))


# Parquet footer-schema cache (r14 guide §1/§6: driver-side fixed cost).
# `spark.read.parquet(path)` pays ~90-110ms of footer/schema inference per
# call on this host; `spark.read.schema(s).parquet(path)` pays ~10ms.  The
# cache holds only STRUCTTYPE METADATA — never data or results — keyed on
# (realpath, mtime_ns, size, relevant confs), so any rewrite of the file
# invalidates the entry and every query still computes from the parquet
# bytes.  Single-file fixtures only: directory tables (the 100 TB layout)
# skip the cache because a directory's stat does not witness its leaves.
_SCHEMA_CACHE: dict[tuple, object] = {}

# Session confs that change what schema `spark.read.parquet` INFERS for
# the same bytes (r14 verdict item 7: the cache key must witness every
# schema-relevant conf, not just events' nanosAsLong, or two
# same-process sessions with different configs could launder one's
# inferred schema into the other).  Values are resolved per-session at
# lookup time and folded into every cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def _cached_schema(spark: SparkSession, path: str):
    """Inferred parquet schema for a single-file `path`, memoized on the
    file's identity and the session's schema confs; None when `path` is
    not a plain file (caller should fall back to normal inference)."""
    ident = _file_identity(path)
    if ident is None:
        return None
    key = ident + conf_values(spark, _SCHEMA_CONFS)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


def events_ts_is_ns(spark: SparkSession, sf_dir: str) -> bool:
    """True when events.parquet stores ts as timestamp[ns] (read back as
    LongType under nanosAsLong) rather than native timestamp[us]."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sch = _cached_schema(spark, f"{sf_dir}/events.parquet")
    if sch is None:
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        return dict(df.dtypes)["ts"] == "bigint"
    return any(
        f.name == "ts" and f.dataType.typeName() == "long" for f in sch.fields
    )


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one star-schema table as a lazy DataFrame scan.

    `spread=True` opts the scan into the scale-adaptive spread (see
    _maybe_spread) — for query paths whose serial per-row work above
    this scan is measured to dominate the exchange cost."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # Runtime-set (not only in the session factory) so the loader also
        # works under a driver-owned SparkSession we didn't configure.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    sch = _cached_schema(spark, path)
    reader = spark.read.schema(sch) if sch is not None else spark.read
    df = reader.parquet(path)
    if name == "events":
        df = normalize_events_ts(df, "timestamp_ntz")
    if spread and name in FACT_TABLES:
        df = _maybe_spread(df, spark, path)
    return df


# View install record (r14 guide §1 fixed costs).  Every SQL-text spec
# calls register_views inside its timed window, and each
# createOrReplaceTempView is a py4j/catalog round-trip.  The record is
# weakly keyed by the one session it describes and holds, per view, the
# key of what was installed there: the file's identity, the view's
# effective spread flag (with maxPartitionBytes, which gates the
# repartition, when the flag is set) and the schema confs.
# register_views re-creates exactly the views whose key changed, so a
# query that spreads lineitem after one that does not reloads one view,
# not ten (out-of-core bench at sf0.1, 4 vCPU: register_views
# 0.25-0.47 -> 0.05-0.07 s per pass).  A directory or missing file has no
# identity and is re-created on every call, and a call from another
# session object starts a fresh record.  CATALOG METADATA only: the
# views stay lazy and no data or results are held.  The one hazard is an
# EXTERNAL createOrReplaceTempView over one of our 10 names (test suites
# do this with micro-data): tests/conftest.py invalidates the record
# around every test, and invalidate_view_memo() is the public escape
# hatch.
_INSTALLED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def invalidate_view_memo() -> None:
    """Forget every view register_views installed (call after
    registering a temp view that shadows a TABLE_NAMES name)."""
    _INSTALLED.clear()


def register_views(
    spark: SparkSession, sf_dir: str, spread: tuple = ()
) -> None:
    """Register all tables as temp views so `spark.sql` queries resolve.

    Mirrors the reference's `SessionContext::register_parquet` flow; views
    are lazy — no data is read until a query over them executes.
    `spread` names the tables whose view should opt into the
    scale-adaptive scan spread for the CALLING query.  Only views whose
    key (see the install record above) changed since the last call are
    re-created, so the choice never leaks into the next query: a view
    whose spread flag flips is re-created, the others are kept."""
    installed = _INSTALLED.get(spark)
    if installed is None:  # one live installation at a time
        _INSTALLED.clear()
        installed = _INSTALLED[spark] = {}
    conf_key = conf_values(spark, _SCHEMA_CONFS)
    (max_split,) = conf_values(spark, ("spark.sql.files.maxPartitionBytes",))
    for name in TABLE_NAMES:
        ident = _file_identity(f"{sf_dir}/{name}.parquet")
        spread_on = name in spread and name in FACT_TABLES
        key = (ident, spread_on, max_split if spread_on else None, conf_key)
        if ident is not None and installed.get(name) == key:
            continue
        table(spark, sf_dir, name, spread=spread_on).createOrReplaceTempView(name)
        installed[name] = key
