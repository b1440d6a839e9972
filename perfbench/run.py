"""Closed-loop benchmark of the spark-graft engine at sf0.1.

    python3 perfbench/run.py --workload olap-sf0.1 --seed 1 --seconds 18 --trace 0

One process runs one workload (perfbench/workloads.py) as a single
closed-loop client on local[<cores>]: the next query is sent only when the
previous result is in hand.

1. Set-up: build the session, register the views and run every query once
   (the cold pass).  `setup_s` runs from process start to here.
2. Oracle answers are computed in DuckDB, outside every timed window.
3. Settle: one more untimed pass, while the JIT settles.
4. Timed window: passes over the workload's queries, each in an order drawn
   from --seed, until --seconds have passed (the pass in progress is
   finished) and at least MIN_PASSES passes ran.  Before each query,
   untimed, checkpoints are released and a Python and a JVM GC run.  A
   query's latency runs from the spec call until `toPandas()` returns;
   every result is checked against its oracle.

The data is the fixed testdata directory ($SPARK_GRAFT_SF_DIR, default
~/testdata/sf0.1).  The last stdout line is the result object (setup_s);
the line before it (`# detail ...`) carries the latency figures (suite_s,
query_geomean_s, per-query samples and medians), peak RSS, steal and
failures.
With --trace 1 the layer entry points are wrapped (perfbench/tracing.py),
executions alternate traced and untraced, and per-layer metrics replace
the end-to-end ones.  Everything the run writes goes under .perfbench/ in
the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from stats import self_times, suite_figures, tail_percentile
from tracing import (
    PER_LAYER_UNITS,
    Tracer,
    catalyst_ms,
    exec_totals,
    stream_progress,
)
from workloads import WORKLOADS

# Timed passes per run at least; a query's median then drops one slow
# sample (in traced runs every query also gets traced and untraced runs).
MIN_PASSES = 3
# span name -> (inclusive-time metric, self-time metric)
LAYER_SPANS = {
    "registry.build": ("registry.build_s", "self_s.registry"),
    "tables.register_views": ("tables.register_views_s", "self_s.tables"),
    "materialize.checkpoint": ("materialize.checkpoint_s", "self_s.materialize"),
    "pagerank": ("pagerank.s", "self_s.pagerank"),
    "stream.drain": ("stream.drain_s", "self_s.stream"),
    "collect": ("collect.s", "self_s.collect"),
}
# Per-layer metrics that are not a per-pass sum of per-execution values.
DERIVED = (
    "tables.view_memo_hit_ratio",
    "exec.min_query_disk_spill_mb",
    "host.steal_jiffies",
    "trace.suite_s_traced",
    "trace.suite_s_untraced",
    "trace.overhead_pct",
)
# Per-execution layer values summed per pass: the mean over a query's
# traced executions, summed over the workload's queries.
PASS_SUMS = tuple(k for k in PER_LAYER_UNITS if k not in DERIVED)


def process_start_time() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> int:
    """Cumulative hypervisor steal over all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process `pid`, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pin_environment(work: str, heap: str) -> None:
    """Pin cores and heap and keep every file the program writes under
    `work`.  Must run before the program's session module is imported."""
    for sub in ("local", "tmp", "stream", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(work, "stream")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM spark-submit starts: temp files under `work`, and no
    # hsperfdata file, which the JVM writes to /tmp whatever tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def summarize_traced(per_query: dict[str, list[dict]]) -> dict[str, float]:
    """Per-pass layer metrics from each query's traced executions."""
    means = {
        q: {k: sum(r.get(k, 0.0) for r in recs) / len(recs) for k in PASS_SUMS}
        for q, recs in per_query.items()
        if recs
    }
    out = {k: sum(m[k] for m in means.values()) for k in PASS_SUMS}
    calls = out["tables.register_views_calls"]
    hits = sum(
        sum(r.get("tables.view_memo_hits", 0.0) for r in recs) / len(recs)
        for recs in per_query.values()
        if recs
    )
    out["tables.view_memo_hit_ratio"] = hits / calls if calls else 0.0
    out["exec.min_query_disk_spill_mb"] = min(
        m["exec.disk_spill_mb"] for m in means.values()
    )
    return out


def layer_times(spans: list[dict]) -> dict[str, float]:
    """Inclusive and self time per layer over one execution's spans."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s["name"] not in LAYER_SPANS:
            continue
        incl, own = LAYER_SPANS[s["name"]]
        parent = by_id.get(s["parent"])
        # a span nested in a span of its own layer is already inside it
        if parent is None or parent["name"] != s["name"]:
            out[incl] = out.get(incl, 0.0) + (s["t1"] - s["t0"])
        out[own] = out.get(own, 0.0) + selfs[s["id"]]
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_process = process_start_time()
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1"
    )
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no testdata at {sf_dir}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    pin_environment(work, workload.heap)
    sys.path.insert(0, ROOT)
    try:
        from datafusion_umami_spark.operators.materialize import release_all
        from datafusion_umami_spark.oracle import compare_frames, duckdb_connect
        from datafusion_umami_spark.streaming import runner
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}", file=sys.stderr)
        return 2

    tracer = Tracer()
    if args.trace:
        tracer.install()  # before the registry loads
    from datafusion_umami_spark.registry import bench_queries
    from datafusion_umami_spark.session import get_spark

    specs = bench_queries()
    names = sorted(workload.queries)
    missing = [n for n in names if n not in specs or specs[n].oracle is None]
    if missing:
        print(f"perfbench: not bench queries with oracles: {missing}", file=sys.stderr)
        return 2

    steal_run0 = steal_jiffies()
    overrides = dict(workload.overrides)
    overrides["spark.ui.showConsoleProgress"] = "false"
    overrides["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    spark = get_spark("perfbench", **overrides)
    sc = spark.sparkContext
    jvm_proc = sc._gateway.proc
    failures: list[str] = []
    attempted = 0

    def release_and_gc() -> None:
        """Untimed: free checkpoints and drain the ContextCleaner backlog."""
        release_all(blocking=True)
        gc.collect()
        sc._jvm.System.gc()

    def execute(name: str):
        df = tracer.span("registry.build", specs[name].fn, spark, sf_dir)
        return df, tracer.span("collect", df.toPandas)

    def untimed_pass(label: str, rng: random.Random) -> None:
        nonlocal attempted
        for name in rng.sample(names, len(names)):
            release_and_gc()
            try:
                execute(name)
            except Exception as exc:  # a failing query is counted, not fatal
                attempted += 1
                failures.append(f"{name} ({label}): {type(exc).__name__}: {exc}"[:300])

    try:
        from datafusion_umami_spark.tables import register_views

        register_views(spark, sf_dir)
        untimed_pass("cold", random.Random(args.seed))
        setup_s = time.time() - t_process

        t_oracle = time.perf_counter()
        con = duckdb_connect(sf_dir)
        try:
            answers = {n: con.execute(specs[n].oracle).df() for n in names}
        finally:
            con.close()
        oracle_s = time.perf_counter() - t_oracle

        # The pass after the cold pass still runs 10-20% slower while the
        # JIT settles, so it is not timed either.
        untimed_pass("settle", random.Random(args.seed * 1000))

        latencies: dict[str, list[float]] = {n: [] for n in names}
        untraced: dict[str, list[float]] = {n: [] for n in names}
        traced_lat: dict[str, list[float]] = {n: [] for n in names}
        traced: dict[str, list[dict]] = {n: [] for n in names}
        steal0 = steal_jiffies()
        t_window = time.perf_counter()
        passes = 0
        pass_s: list[float] = []
        while passes < MIN_PASSES or time.perf_counter() - t_window < args.seconds:
            order = random.Random(args.seed * 1000 + passes + 1).sample(names, len(names))
            t_pass = time.perf_counter()
            for name in order:
                on = bool(args.trace) and (names.index(name) + passes) % 2 == 0
                release_and_gc()
                attempted += 1
                n_spans = len(tracer.spans)
                prev_stream = runner._LAST_QUERY
                group = f"perfbench-{passes}-{name}"
                if on:
                    sc.setJobGroup(group, name)
                    tracer.begin_query(name)
                tracer.enabled = on
                t0 = time.perf_counter()
                try:
                    df, pdf = tracer.span("query", execute, name)
                    latency = time.perf_counter() - t0
                except Exception as exc:  # a failing query is counted, not fatal
                    failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                finally:
                    tracer.enabled = False
                check = compare_frames(name, pdf, answers[name])
                if not check.ok:
                    failures.append(f"{name}: oracle mismatch: {check.detail}"[:300])
                    continue
                latencies[name].append(latency)
                if not args.trace:
                    continue
                if not on:
                    untraced[name].append(latency)
                    continue
                traced_lat[name].append(latency)
                rec = dict(tracer.counters)
                rec.update(layer_times(tracer.spans[n_spans:]))
                phases = catalyst_ms(df)
                rec.update({k.replace("parsing", "parse"): v for k, v in phases.items()})
                groups = [group]
                stream = runner._LAST_QUERY
                if stream is not None and stream is not prev_stream:
                    rec.update(stream_progress(stream))
                    groups.append(str(stream.runId))
                rec.update(exec_totals(spark, groups))
                rec["collect.rows"] = float(len(pdf))
                rec["collect.mb"] = float(pdf.memory_usage(deep=True).sum()) / 1e6
                traced[name].append(rec)
            passes += 1
            pass_s.append(time.perf_counter() - t_pass)
        window_s = time.perf_counter() - t_window
        steal_window = steal_jiffies() - steal0
        peak_rss_mb = vm_hwm_mb(jvm_proc.pid)
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm_proc.stdin.close()
        jvm_proc.wait(timeout=120)

    for line in failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    failed = len(failures)
    all_samples = [x for xs in latencies.values() for x in xs]
    per_query = {n: median(xs) for n, xs in latencies.items() if xs}
    detail = {
        "workload": workload.name,
        "seed": args.seed,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "heap": workload.heap,
        "passes": passes,
        "window_s": window_s,
        "pass_s": pass_s,
        "oracle_s": oracle_s,
        "samples": len(all_samples),
        "query_median_s": per_query,
        "query_samples_s": latencies,
        "query_p90_s": tail_percentile(all_samples, 90),
        "failed_frac": failed / max(attempted, 1),
        "failed": [f.split(":", 1)[0] for f in failures],
        "peak_rss_mb": peak_rss_mb,
        "steal_jiffies_window": steal_window,
        "steal_jiffies_run": steal_jiffies() - steal_run0,
    }
    if not all(latencies.values()):
        print("# detail " + json.dumps(detail), flush=True)
        print("perfbench: a query has no correct timed execution", file=sys.stderr)
        return 1
    detail.update(suite_figures(latencies))
    print("# detail " + json.dumps(detail), flush=True)

    if args.trace:
        layers = summarize_traced(traced)
        suite_traced = sum(median(traced_lat[n]) for n in names)
        suite_untraced = sum(median(untraced[n]) for n in names)
        layers["host.steal_jiffies"] = float(steal_window)
        layers["trace.suite_s_traced"] = suite_traced
        layers["trace.suite_s_untraced"] = suite_untraced
        layers["trace.overhead_pct"] = (suite_traced / suite_untraced - 1.0) * 100.0
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace_path = os.path.join(work, "traces", f"{workload.name}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": tracer.spans, "per_query": traced}, f)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
