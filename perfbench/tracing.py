"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded around the public entry points of each layer by
wrapping them from here; nothing inside the program is edited.  Spans
and counters stay in memory and are written out when the run ends.

Layers and where they are measured:
- registry: the spec callable (`QuerySpec.fn`), which builds the
  DataFrame and runs any eager work the spec does;
- tables: `tables.register_views` (and the `tables.table` calls that
  show whether its view memo hit);
- materialize: `materialize.materialize_once` / `materialize_view_shared`;
- pagerank: `operators.pagerank.pagerank`;
- stream: `streaming.runner.stream_to_memory` (and its re-export from
  the `streaming` package), plus the drained query's
  `recentProgress`;
- catalyst: `queryExecution().tracker()` phases of the final DataFrame;
- exec: Spark status-store totals of the jobs run for the query, found
  through a per-query job group (and the stream's run-id group);
- collect: `DataFrame.toPandas`.
"""

from __future__ import annotations

import functools
import time

from py4j.protocol import Py4JJavaError

CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")
STREAM_PHASES = (
    "addBatch",
    "commitOffsets",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "triggerExecution",
    "walCommit",
)
# StageData accessor -> (metric name, scale to the reported unit, unit)
STAGE_FIELDS = (
    ("numCompleteTasks", "exec.tasks", 1, "count"),
    ("executorRunTime", "exec.run_ms", 1, "ms"),
    ("executorCpuTime", "exec.cpu_ms", 1e-6, "ms"),
    ("jvmGcTime", "exec.gc_ms", 1, "ms"),
    ("inputBytes", "exec.input_mb", 1e-6, "MB"),
    ("shuffleWriteBytes", "exec.shuffle_write_mb", 1e-6, "MB"),
    ("shuffleReadBytes", "exec.shuffle_read_mb", 1e-6, "MB"),
    ("memoryBytesSpilled", "exec.mem_spill_mb", 1e-6, "MB"),
    ("diskBytesSpilled", "exec.disk_spill_mb", 1e-6, "MB"),
)

# Every per-layer metric a traced run reports, with its unit.
PER_LAYER_UNITS = {
    "registry.build_s": "s",
    "tables.register_views_s": "s",
    "tables.register_views_calls": "count",
    "tables.view_memo_hit_ratio": "ratio",
    **{f"catalyst.{p}_ms": "ms" for p in ("parse", "analysis", "optimization", "planning")},
    "materialize.checkpoint_s": "s",
    "materialize.checkpoint_calls": "count",
    "pagerank.s": "s",
    "stream.drain_s": "s",
    "stream.batches": "count",
    **{f"stream.batch_ms.{p}": "ms" for p in STREAM_PHASES},
    "exec.jobs": "count",
    "exec.stages": "count",
    **{metric: unit for _, metric, _, unit in STAGE_FIELDS},
    "exec.min_query_disk_spill_mb": "MB",
    "collect.s": "s",
    "collect.rows": "count",
    "collect.mb": "MB",
    **{f"self_s.{layer}": "s" for layer in ("registry", "tables", "materialize", "pagerank", "stream", "collect")},
    "host.steal_jiffies": "jiffies",
    "trace.suite_s_traced": "s",
    "trace.suite_s_untraced": "s",
    "trace.overhead_pct": "%",
}


class Tracer:
    """Spans and counters of one traced run.  `enabled` gates recording so
    the same process can time traced and untraced executions."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._query = ""

    def begin_query(self, query: str) -> None:
        self._query = query
        self.counters = {}

    def count(self, name: str) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + 1

    def span(self, name: str, fn, *args, **kwargs):
        """Call fn(*args, **kwargs) inside a span named `name`."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "query": self._query,
            "t0": time.perf_counter(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str, counter: str | None = None) -> None:
        """Replace module.attr with a span-recording wrapper that also
        bumps `counter` once per call."""
        inner = getattr(module, attr)

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            if counter is not None:
                self.count(counter)
            return self.span(name, inner, *args, **kwargs)

        setattr(module, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer entry points.  Must run before the registry loads:
        `registry._plain_sql_fn` binds `register_views` at registration."""
        from datafusion_umami_spark import streaming, tables
        from datafusion_umami_spark.operators import materialize, pagerank
        from datafusion_umami_spark.streaming import runner

        table = tables.table

        @functools.wraps(table)
        def counted_table(*args, **kwargs):
            self.count("tables.table_calls")
            return table(*args, **kwargs)

        tables.table = counted_table

        register_views = tables.register_views

        @functools.wraps(register_views)
        def traced_register_views(*args, **kwargs):
            before = self.counters.get("tables.table_calls", 0)
            out = self.span("tables.register_views", register_views, *args, **kwargs)
            self.count("tables.register_views_calls")
            # the view memo hit iff no view was rebuilt through table()
            if self.counters.get("tables.table_calls", 0) == before:
                self.count("tables.view_memo_hits")
            return out

        tables.register_views = traced_register_views

        for attr in ("materialize_once", "materialize_view_shared"):
            self.wrap(
                materialize, attr, "materialize.checkpoint", "materialize.checkpoint_calls"
            )
        self.wrap(pagerank, "pagerank", "pagerank")
        self.wrap(runner, "stream_to_memory", "stream.drain")
        # query modules import it through the package's re-export
        streaming.stream_to_memory = runner.stream_to_memory


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in CATALYST_PHASES:
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def stream_progress(query) -> dict[str, float]:
    """Batch count and summed per-phase durationMs of a drained stream."""
    progress = query.recentProgress
    out = {"stream.batches": float(len(progress))}
    for phase in STREAM_PHASES:
        out[f"stream.batch_ms.{phase}"] = float(
            sum(p.get("durationMs", {}).get(phase, 0) for p in progress)
        )
    return out


def exec_totals(spark, groups: list[str]) -> dict[str, float]:
    """Status-store totals over every stage of every job in `groups`.
    Waits for the listener bus first so finished stages are recorded."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"exec.jobs": 0.0, "exec.stages": 0.0}
    out.update({metric: 0.0 for _, metric, _, _ in STAGE_FIELDS})
    seen: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["exec.jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    stage = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage never submitted or evicted
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                for accessor, metric, scale, _ in STAGE_FIELDS:
                    out[metric] += float(getattr(stage, accessor)()) * scale
    return out
