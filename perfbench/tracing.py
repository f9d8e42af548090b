"""Outside-in layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around calls into
each layer's public functions: ``catalog.table``, ``ckpt.materialized``,
the ``dist_rank`` kernels, ``streaming.runner`` and the ``PlayerStore``
methods are wrapped in place; query construction, planning and the
action are timed by the caller (``run.py``). ``Tracer.install`` runs
before ``get_queries()`` imports the operator modules, because those
bind the wrapped names with ``from … import``; modules a package
``__init__`` already imported are re-bound in place.

Spark-side work is attributed through one job group per operation per
phase (``setLocalProperty("spark.jobGroup.id")``) and read back from the
status tracker, the application status store and the SQL status store.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from workloads import READ_METHODS, WRITE_METHODS

GROUP = "spark.jobGroup.id"
PACKAGE = "pokertracker_cassandra_st_spark"

# Plan-shape counters come from tools/perf_sweep.PLAN_COUNTERS; the
# benchmark adds only the Expand pattern, which that table lacks.
_EXPAND = r"\bExpand\b"
_PYTHON_UDF_COUNTERS = ("batch_eval_python", "arrow_eval_python", "map_in_pandas", "python_udtf")
_NESTED_LOOP_COUNTERS = ("broadcast_nested_loop", "cartesian")
_JOIN_NODE = re.compile(r"Join|CartesianProduct")

PLAYER_METHODS = WRITE_METHODS + READ_METHODS
SELF_TIME_LAYERS = ("registry", "catalog", "ckpt", "dist_rank", "streaming", "player_api")

# Every per-layer metric the traced run prints, with its unit. Counts and
# seconds are per measured pass, medians for per-batch figures. A layer
# that one workload never enters reports its time as a share of the pass
# (or of the micro-batch), so a bypassed layer reads 0 % rather than a
# constant 0 s.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "catalog.calls": "count",
    "catalog.busy_pct": "%",
    "catalog.jobs": "count",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.construct_stages": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.exchange": "count",
    "plan.python_udf_nodes": "count",
    "plan.nested_loop_joins": "count",
    "plan.expand": "count",
    "plan.window": "count",
    "execute.action_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.stages_skipped": "count",
    "execute.tasks": "count",
    "execute.executor_run_s": "s",
    "execute.gc_pct": "%",
    "execute.shuffle_read_bytes": "bytes",
    "execute.shuffle_write_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "execute.join_rows_out": "count",
    "execute.join_rows_per_result": "ratio",
    "ckpt.calls": "count",
    "ckpt.busy_pct": "%",
    "dist_rank.calls": "count",
    "dist_rank.busy_pct": "%",
    "streaming.split_pct": "%",
    "streaming.batches": "count",
    "streaming.add_batch_pct": "%",
    "streaming.query_planning_pct": "%",
    "streaming.wal_commit_pct": "%",
    "streaming.state_commit_pct": "%",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    **{f"player_api.{m}_pct": "%" for m in PLAYER_METHODS},
    **{f"player_api.{m}_n": "count" for m in PLAYER_METHODS},
    "player_api.log_files": "count",
    "player_api.log_files_per_write": "ratio",
    **{f"{layer}.self_pct": "%" for layer in SELF_TIME_LAYERS},
    "trace.overhead_pct": "%",
    "trace.unattributed_ms": "ms",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent) for the traced passes.

    Spans are recorded only while ``enabled``; the driver thread is the
    only caller, so the parent stack needs no lock.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    # ---- spans --------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's self time: its duration minus the time its direct
        children cover (children never overlap on one thread)."""
        own = [s.duration for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.duration
        return own

    # ---- wrappers -------------------------------------------------------

    def _wrap(self, owner, attr: str, layer: str, job_group: bool = False) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(layer, fn=attr):
                if not job_group:
                    return fn(*args, **kwargs)
                sc = args[0].sparkContext
                prev = sc.getLocalProperty(GROUP)
                sc.setLocalProperty(GROUP, f"{prev}/{layer}")
                try:
                    return fn(*args, **kwargs)
                finally:
                    sc.setLocalProperty(GROUP, prev)

        setattr(owner, attr, wrapper)
        # Modules imported before this call (a package __init__ may import
        # its siblings eagerly) hold the original through ``from … import``.
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for name, value in list(vars(mod).items()):
                    if value is fn:
                        setattr(mod, name, wrapper)

    def install(self) -> None:
        """Wrap each layer's public entry points. Call before get_queries()."""
        from pokertracker_cassandra_st_spark import catalog, ckpt, dist_rank
        from pokertracker_cassandra_st_spark.player_api import PlayerStore
        from pokertracker_cassandra_st_spark.streaming import runner

        self._wrap(catalog, "table", "catalog", job_group=True)
        self._wrap(ckpt, "materialized", "ckpt")
        for name in ("range_prefix", "range_row_number"):
            self._wrap(dist_rank, name, "dist_rank")
        for name in ("stream_events", "run_to_table"):
            self._wrap(runner, name, "streaming")
        for name in PLAYER_METHODS:
            self._wrap(PlayerStore, name, "player_api")


# ---- Spark status readers ---------------------------------------------


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def group_job_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages and task metrics of every job in one job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            attempts = _seq(store.stageData(stage, False, None, False, None))
            if stage in seen or not attempts or str(attempts[-1].status()) == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            seen.add(stage)
            out["stages"] += 1
            for a in attempts:
                out["tasks"] += a.numTasks()
                out["executor_run_s"] += a.executorRunTime() / 1000.0
                out["gc_s"] += a.jvmGcTime() / 1000.0
                out["shuffle_read_bytes"] += a.shuffleReadBytes()
                out["shuffle_write_bytes"] += a.shuffleWriteBytes()
                out["spill_bytes"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
    return out


def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def join_rows_since(spark, first_execution: int) -> int:
    """Rows output by every join operator of the SQL executions numbered
    ``first_execution`` onwards, from the per-operator metric
    "number of output rows"."""
    store = sql_store(spark)
    total = 0
    for ex in _seq(store.executionsList(first_execution, 10_000)):
        eid = ex.executionId()
        values = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        for node in _seq(store.planGraph(eid).allNodes()):
            if not _JOIN_NODE.search(node.name()):
                continue
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows":
                    digits = re.sub(r"[^0-9]", "", values.get(m.accumulatorId(), ""))
                    total += int(digits or 0)
    return total


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_shape(plan_text: str) -> dict[str, int]:
    from tools.perf_sweep import plan_stats

    c = plan_stats(plan_text)
    return {
        "exchange": c["exchange"],
        "python_udf_nodes": sum(c[k] for k in _PYTHON_UDF_COUNTERS),
        "nested_loop_joins": sum(c[k] for k in _NESTED_LOOP_COUNTERS),
        "expand": len(re.findall(_EXPAND, plan_text)),
        "window": c["window"],
    }
