"""Streaming runner: bounded parquet → readStream → memory sink.

`Trigger.AvailableNow` drains everything currently in the source and
stops — on the driver's bounded tables that makes a streaming query a
deterministic function of its input, so the SAME DuckDB oracles used for
batch queries apply.  On a real cluster the identical plan runs
unbounded (drop the trigger, point the sink at kafka/delta): the
transformations, watermarks and state logic don't change — that is the
Structured Streaming design point.
"""

from __future__ import annotations

import atexit
import fcntl
import os
import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession

from datafusion_umami_spark.tables import conf_bytes, conf_values


def _scratch_base() -> str:
    """Where every scratch root lives: `SPARK_GRAFT_STREAM_SCRATCH` when
    set, else /dev/shm when it has 2 GiB free, else the temp dir.

    Scratch (streaming checkpoints, sink roundtrips, bucketed tables,
    DDL tables) carries no value past the application that wrote it, so
    tmpfs is preferred: streaming drain time is dominated by state-store
    commit fsyncs, ~200 ms each on an ext4 /tmp.  The 2 GiB floor keeps
    a larger state store on a small-memory host from hitting ENOSPC on
    tmpfs (which defaults to half of RAM).  A deployment that wants
    durable checkpoints points the variable at durable storage."""
    env = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            if shutil.disk_usage("/dev/shm").free >= 2 * 1024**3:
                return "/dev/shm"
        except OSError:
            pass
    return tempfile.gettempdir()


_ROOTS: dict[str, str] = {}  # applicationId -> its scratch root
_OWNER_LOCKS: list = []  # open `.owner` files, locked until process exit


def scratch_root(spark: SparkSession) -> str:
    """The one directory every file a query writes goes under:
    `<_scratch_base()>/dus_scratch_<uid>/<applicationId>`.

    Per user, so a shared /tmp never hits another user's 0755 parent;
    per application, so concurrent processes never remove each other's
    in-flight files.  Created on first use and removed when the process
    exits; the base is resolved once per application, so a checkpoint
    never moves between tmpfs and disk mid-run.  This process holds an
    exclusive `flock` on the root's `.owner` until it exits, so the first
    use in a later process can reclaim the root if this one dies without
    running its exit hooks: the kernel drops the lock with the process."""
    app = spark.sparkContext.applicationId
    root = _ROOTS.get(app)
    if root is None:
        parent = os.path.join(_scratch_base(), f"dus_scratch_{os.getuid()}")
        _reclaim_orphans(parent)
        root = os.path.join(parent, app)
        os.makedirs(root, exist_ok=True)
        # lock before the rename, so a visible `.owner` is always held
        owner = open(os.path.join(root, ".owner.tmp"), "w")
        fcntl.flock(owner, fcntl.LOCK_EX)
        owner.write(f"{os.getpid()}\n")
        owner.flush()
        os.replace(owner.name, os.path.join(root, ".owner"))
        _OWNER_LOCKS.append(owner)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _ROOTS[app] = root
    return root


def _reclaim_orphans(parent: str) -> None:
    """Remove each root under `parent` whose `.owner` no process holds
    locked; leave a root with no `.owner` or a held one."""
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        path = os.path.join(parent, name)
        try:
            with open(os.path.join(path, ".owner")) as f:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass


def scratch_dir(spark: SparkSession, *parts: str) -> str:
    """`scratch_root/<parts>`, cleared at start: reruns in one
    application overwrite rather than accumulate.  Clearing (not
    reusing) is load-bearing: a stale checkpoint would make a restarted
    query skip already-committed source files while the fresh sink
    starts empty, silently losing rows."""
    path = os.path.join(scratch_root(spark), *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path

# --- adaptive state-partition coalescing (r15, guide §2.2/§6) -------------
# Stateful streaming is denied AQE partition coalescing: the state
# partition count pins to spark.sql.shuffle.partitions at FIRST query
# start and every micro-batch pays one state-store open+commit PER
# PARTITION PER STATEFUL OPERATOR, so a small input on a wide session
# conf spends its drain on store commits (r14 measured the cascade at
# 2 ops x 32 partitions x 2 batches = 128 commits for 100k rows; the
# driver's own 8-core run was ~2x faster PURELY from 4x fewer stores).
# This reimplements AQE's coalesce rule for the streaming case:
#   n = min(shuffle.partitions, ceil(source_bytes / advisoryPartitionSize))
# — never ABOVE the configured parallelism (the cluster setting is
# respected exactly like AQE, which only ever coalesces DOWN), and at
# 100 TB source_bytes/advisory is astronomically larger than any
# shuffle.partitions value, so the rule is provably a no-op at scale —
# the same opt-in-shape argument as the r14 scan spread.  Results are
# partition-count-independent (the hostile-config parity gate already
# runs every streaming spec at 3 shuffle partitions).
# `read_events_stream` records its source size per session;
# `stream_to_memory` consumes (pops) it, applies the override around the
# drain and restores the conf afterwards (the conf is read at query
# start and re-read per micro-batch, so the override must span
# awaitTermination).  Popping means a later drain without a fresh
# `read_events_stream` never inherits a stale size, and the weak keys
# mean a collected session's entry (or a recycled id()) cannot either.
_SOURCE_BYTES: weakref.WeakKeyDictionary[SparkSession, int] = (
    weakref.WeakKeyDictionary()
)


def _coalesced_state_partitions(
    spark: SparkSession, size: int | None
) -> int | None:
    """The adaptive override for a drain over `size` source bytes, or
    None when it would not shrink anything (unknown source size, small
    or unreadable conf)."""
    if not size:
        return None
    (current,) = conf_values(spark, ("spark.sql.shuffle.partitions",))
    advisory = conf_bytes(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", 0
    )
    if not current.isdigit() or advisory <= 0:
        return None
    n = max(1, -(-size // advisory))  # ceil
    return n if n < int(current) else None


_EVENTS_SCHEMA_NS = (
    "event_id bigint, ts bigint, user_id bigint, "
    "event_type string, value double, props string"
)
_EVENTS_SCHEMA_US = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`spark.readStream` over the events parquet (StreamingTableExec
    parity).  ts encoding + normalization are shared with the batch
    loader (tables.events_ts_is_ns / normalize_events_ts): a one-file
    batch probe picks the imposed schema — imposing the bigint schema on
    µs data would silently misread values 1000× compressed.  Target type
    is TIMESTAMP (LTZ): `withWatermark` rejects NTZ event time; session
    TZ is pinned UTC so wall-clock equals the batch loader's NTZ."""
    from datafusion_umami_spark.tables import events_ts_is_ns, normalize_events_ts

    ns_encoded = events_ts_is_ns(spark, sf_dir)
    # FileStreamSource wants a directory; events.parquet is a single file,
    # so stream the directory with a glob filter (on a real deployment the
    # path would be a growing directory of files).
    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA_NS if ns_encoded else _EVENTS_SCHEMA_US)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    try:  # source size for the adaptive state-partition coalesce
        _SOURCE_BYTES[spark] = os.stat(
            os.path.join(sf_dir, "events.parquet")
        ).st_size
    except OSError:
        _SOURCE_BYTES.pop(spark, None)
    return normalize_events_ts(sdf, "timestamp")


def stream_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into an
    in-memory sink table and return it as a batch DataFrame."""
    spark = sdf.sparkSession
    checkpoint = scratch_dir(spark, "stream", name)
    n = _coalesced_state_partitions(spark, _SOURCE_BYTES.pop(spark, None))
    saved: str | None = None
    if n is not None:
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        global _LAST_QUERY
        _LAST_QUERY = q  # diagnostics hook: progress log of the drain
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
    return spark.table(name)


# Most recent drained query (stream_to_memory) — lets probes/tests read
# recentProgress (per-batch durations, state-operator commit times,
# numShufflePartitions) after the drain without changing the return
# contract.  Diagnostics only.
_LAST_QUERY = None
