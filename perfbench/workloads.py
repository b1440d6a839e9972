"""The benchmark's workloads: which registered queries each runs, in what
session.  Why each exists is in perfbench/README.md."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # Spark driver JVM heap, passed through SPARK_GRAFT_DRIVER_MEM.  Pinned: the
    # program's 48g default makes the JVM's peak RSS unrepeatable.
    heap: str
    overrides: dict[str, str] = field(default_factory=dict)


WORKLOADS = {
    w.name: w
    for w in (
        # Bench queries (registry bench=True) that carry the pagerank,
        # streaming-runner and materialize layers, under the default
        # session conf.
        Workload(
            name="olap-sf0.1",
            queries=(
                "graph_pagerank_purchases",
                "stream_multires_cascade",
                "tpcds_t7_multi_year_profile_stack",
            ),
            heap="4g",
        ),
        # An aggregation and a multi-way join in a session with ~35 MB of
        # execution memory ((2g - 300 MB) * 0.02), so sorts and aggregates
        # spill to disk.  A 1g heap at fraction 0.05 gives the same memory
        # but GC pressure doubled the spread of suite_s over seeds.  Both
        # queries also run, in memory, in the program's default session.
        Workload(
            name="outofcore-sf0.1",
            queries=("tpch_q18", "tpch_q21"),
            heap="2g",
            overrides={
                "spark.memory.fraction": "0.02",
                "spark.sql.autoBroadcastJoinThreshold": "-1",
            },
        ),
    )
}
