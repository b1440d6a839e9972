"""Every file a query writes goes under one per-application scratch root
(`streaming.runner.scratch_root`), and the root is removed when the
process exits.

A child process runs one spec of each scratch-writing kind (streaming
checkpoint, foreachBatch upsert state, sink roundtrip, bucketed table,
DDL table) with `SPARK_GRAFT_STREAM_SCRATCH` and the warehouse pointed
at empty directories, then reports what it wrote.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPECS = (
    "stream_tumbling_counts",
    "stream_foreach_batch_upsert",
    "csv_scan_roundtrip",
    "bucketed_colocated_join",
    "ddl_create_database_ctas",
)

# One subdirectory of the root per kind of writer above.
KINDS = ("stream", "stream_upsert", "sinks", "bucketed", "dus_scratch.db")

CHILD = """
import json, os, sys
from urllib.parse import urlparse

from datafusion_umami_spark.registry import all_queries
from datafusion_umami_spark.session import get_spark
from datafusion_umami_spark.streaming.runner import scratch_root

sf_dir, warehouse, names = sys.argv[1], sys.argv[2], sys.argv[3:]
spark = get_spark("scratch_root_test", **{"spark.sql.warehouse.dir": warehouse})
spark.sparkContext.setLogLevel("ERROR")
queries = all_queries()
for name in names:
    queries[name](spark, sf_dir).collect()

def location(tbl):
    row = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").filter(
        "col_name = 'Location'").first()
    return urlparse(row.data_type).path

root = scratch_root(spark)
print(json.dumps({
    "root": root,
    "app": spark.sparkContext.applicationId,
    "kinds": {k: sum(len(f) for _, _, f in os.walk(os.path.join(root, k)))
              for k in os.listdir(root)},
    "locations": [location(t) for t in
                  ("li_bucketed", "ord_bucketed", "dus_scratch.region_counts")],
}))
"""


def test_scratch_writes_stay_under_one_root_removed_at_exit(sf_dir, tmp_path):
    base, warehouse, cwd = (tmp_path / d for d in ("base", "warehouse", "cwd"))
    for d in (base, warehouse, cwd):
        d.mkdir()
    env = dict(
        os.environ,
        SPARK_GRAFT_STREAM_SCRATCH=str(base),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=REPO,
    )
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, sf_dir, str(warehouse), *SPECS],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    root = out["root"]
    assert root == os.path.join(str(base), f"dus_scratch_{os.getuid()}", out["app"])
    for kind in KINDS:
        assert out["kinds"].get(kind, 0) > 0, (kind, out["kinds"])
    for loc in out["locations"]:
        assert loc.startswith(root + os.sep), loc
    assert os.listdir(warehouse) == []
    assert os.listdir(cwd) == []
    # removed at exit; the per-user parent may stay
    assert not os.path.exists(root)


def test_first_use_reclaims_roots_of_dead_processes(tmp_path, monkeypatch):
    """A process killed by a signal never runs its exit hook; the next
    process's first `scratch_root` removes that root once no process
    holds its `.owner` locked, and keeps every other."""
    import fcntl
    from types import SimpleNamespace

    from datafusion_umami_spark.streaming import runner

    parent = tmp_path / f"dus_scratch_{os.getuid()}"
    for name in ("dead", "live", "unowned"):
        (parent / name / "stream").mkdir(parents=True)
    for name in ("dead", "live"):
        (parent / name / ".owner").write_text("0\n")
    # the dead root's owner held its lock, then was killed
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, sys; f = open(sys.argv[1]); "
         "fcntl.flock(f, fcntl.LOCK_EX); print(flush=True); sys.stdin.read()",
         str(parent / "dead" / ".owner")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    child.stdout.readline()
    child.kill()
    child.wait()
    live = open(parent / "live" / ".owner")
    fcntl.flock(live, fcntl.LOCK_EX)

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    monkeypatch.setattr(runner, "_ROOTS", {})
    monkeypatch.setattr(runner, "_OWNER_LOCKS", [])
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-new"))
    try:
        root = runner.scratch_root(spark)
        assert sorted(os.listdir(parent)) == ["app-new", "live", "unowned"]
        assert os.listdir(root) == [".owner"]
        assert open(os.path.join(root, ".owner")).read() == f"{os.getpid()}\n"
        # held by this process until it exits
        with open(os.path.join(root, ".owner")) as f:
            try:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                raise AssertionError("new root's .owner is not locked")
            except BlockingIOError:
                pass
    finally:
        live.close()
        for f in runner._OWNER_LOCKS:
            f.close()
