"""Session defaults fit the host they run on (no Spark session needed).

`SPARK_GRAFT_CPUS` and `SPARK_GRAFT_DRIVER_MEM` stay deployment settings;
unset, local[N] and the initial shuffle-partition count follow the CPUs
this process may use, and the driver heap is half of physical memory.
"""

from __future__ import annotations

import importlib
import os

from datafusion_umami_spark import session


def test_unset_env_sizes_session_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    try:
        importlib.reload(session)
        cpus = str(len(os.sched_getaffinity(0)))
        assert session.CPUS == cpus
        assert session._DEFAULTS["spark.sql.shuffle.partitions"] == cpus

        heap = session._DEFAULTS["spark.driver.memory"]
        assert heap.endswith("g")
        gib = int(heap[:-1])
        half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2
        assert gib >= 1
        # whole GiB, rounded down, unless the 1g floor applies
        assert gib == 1 or gib * 2**30 <= half < (gib + 1) * 2**30

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
        importlib.reload(session)
        assert session.CPUS == "3"
        assert session._DEFAULTS["spark.sql.shuffle.partitions"] == "3"
        assert session._DEFAULTS["spark.driver.memory"] == "5g"
    finally:
        monkeypatch.undo()
        importlib.reload(session)
