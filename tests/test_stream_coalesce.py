"""Adaptive state-partition coalescing for streaming drains (r15).

Stateful streaming pins its state partition count to
spark.sql.shuffle.partitions at query start — AQE coalescing never
applies — so small inputs pay per-partition store commits that dwarf
compute.  streaming/runner derives
    n = min(shuffle.partitions, ceil(source_bytes / advisory))
(AQE's own rule, applied manually) around the drain, restoring the conf
afterwards.  Provably a no-op at scale: source_bytes/advisory exceeds
any shuffle.partitions long before 100 TB.
"""

from __future__ import annotations

import os

import pytest

from datafusion_umami_spark.streaming import runner
from datafusion_umami_spark.tables import parse_bytes


def test_parse_bytes_units():
    """The one byte-size parser every conf reader shares (scan spread's
    maxPartitionBytes, this module's advisory size, PageRank's
    broadcast threshold): Spark's own byteFromString forms, including
    the default-value renderings Spark hands back ('10485760b')."""
    cases = [
        ("134217728", 128 * 1024**2),
        ("1048576", 1048576),
        ("67108864b", 64 * 1024**2),
        ("10485760b", 10 * 1024**2),
        ("48kb", 48 * 1024),
        ("1k", 1024),
        ("128m", 128 * 1024**2),
        ("256m", 256 * 1024**2),
        ("64MB", 64 * 1024**2),
        ("128MB", 128 * 1024**2),
        ("10MB", 10 * 1024**2),
        ("1g", 1024**3),
        ("2g", 2 * 1024**3),
        ("1t", 1024**4),
        ("1p", 1024**5),
        (" 64m ", 64 * 1024**2),
        ("-1", -1),
    ]
    for text, want in cases:
        assert parse_bytes(text) == want, text
    # what Spark rejects raises; each caller falls back on its own
    for bad in ("banana", "", "1.5g", "64 MB", "12x"):
        with pytest.raises(ValueError):
            parse_bytes(bad)


def test_coalesce_rule_shrinks_only_below_current(spark):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        )
        rule = runner._coalesced_state_partitions
        assert rule(spark, 10 * 1024**2) == 1  # 10 MB -> 1 partition
        assert rule(spark, 200 * 1024**2) == 4  # 200 MB -> ceil = 4
        # at/above the configured parallelism the rule must be a NO-OP —
        # this is the 100 TB case (bytes/advisory >> partitions)
        assert rule(spark, 600 * 1024**2) is None
        # unknown source size -> no-op
        assert rule(spark, None) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
        )


def test_source_size_is_consumed_by_one_drain(spark, sf_dir, monkeypatch):
    """A drain pops the size its read_events_stream recorded: a second
    drain with no fresh read applies no override (a stale size must
    never drive a later drain)."""
    seen = []
    rule = runner._coalesced_state_partitions

    def spy(spark_, size):
        seen.append(size)
        return rule(spark_, size)

    monkeypatch.setattr(runner, "_coalesced_state_partitions", spy)
    sdf = runner.read_events_stream(spark, sf_dir).groupBy("event_type").count()
    runner.stream_to_memory(sdf, "_coalesce_consumed")
    runner.stream_to_memory(sdf, "_coalesce_consumed")
    assert seen[0] and seen[0] > 0
    assert seen[1] is None
    assert spark not in runner._SOURCE_BYTES


@pytest.mark.parametrize("mode", ["on", "off"])
def test_cascade_results_identical_and_conf_restored(
    spark, sf_dir, mode, monkeypatch
):
    """The drain's RESULTS are partition-count independent (also pinned
    by the hostile-config parity gate at 3 partitions) and the
    shuffle.partitions conf is restored after stream_to_memory."""
    from datafusion_umami_spark.registry import all_queries

    if mode == "off":  # reference arm: the configured partition count
        monkeypatch.setattr(
            runner, "_coalesced_state_partitions", lambda *a: None
        )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pdf = (
        all_queries()["stream_multires_cascade"](spark, sf_dir)
        .toPandas()
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    key = f"_cascade_{os.path.basename(sf_dir)}"
    cache = getattr(test_cascade_results_identical_and_conf_restored, "c", {})
    if key in cache:
        assert cache[key].equals(pdf), "coalesce on/off results diverged"
    cache[key] = pdf
    test_cascade_results_identical_and_conf_restored.c = cache
