#!/usr/bin/env python3
"""End-to-end benchmark of the engine on two closed-loop workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

``--workload``  ``analytics`` or ``event_log`` (see workloads.py).
``--seed``      sets the query order of each pass, and the CRUD names,
                absent ids and replay position of each event_log pass.
``--seconds``   how long the measured passes run, as a number of whole
                passes of nominal length (NOMINAL_PASS_S; at least one).
``--trace``     0: end-to-end metrics, no wrappers installed.
                1: per-layer metrics from traced passes (tracing.py), with
                untraced passes before and after them for the tracing
                overhead.

The data is the seed-42 sf0.01 table set vendored under ``data/``. Each
run launches its own JVM and Spark session on ``local[nproc]`` (timed as
``setup_s``), checks every output against its DuckDB oracle or the
client's model before timing, then times whole passes. Human-readable
lines come first; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
SCALE_FACTOR = 0.01
PACKAGE = "pokertracker_cassandra_st_spark"
# CRUD calls that warm the write and read paths before timing, on a
# throwaway store so the measured log still starts empty.
GATE_CRUD_OPS = 6
# Whole passes keep every run's sample mix the same, so --seconds is turned
# into a pass count from each pass's nominal length (4-core host, sf0.01).
NOMINAL_PASS_S = {"analytics": 10.0, "event_log": 20.0}
STREAM_FILES = 4  # micro-batches of q_stream_replay

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_ms": "ms",
    "op_tail_ms": "ms",
}

sys.path[:0] = [str(HERE), str(ROOT)]
from measure import PeakMemory, median, steal_s, tail  # noqa: E402

try:
    from workloads import (  # noqa: E402
        ANALYTICS_QUERIES,
        READ_METHODS,
        STREAM_QUERY,
        WRITE_METHODS,
        Checks,
        PlayerModel,
        crud_plan,
        event_log_plan,
        frame_problem,
        query_order,
    )
except ImportError as e:  # workloads.py reads bench.py from the repository
    sys.exit(f"perfbench: {e}; run from the root of a full checkout")

WORKLOADS = ("analytics", "event_log")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def size_to_host(work: Path) -> dict:
    """Size Spark to this host and keep every file it writes in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    driver_gb = max(1, min(4, int(total_gb // 4)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return {"nproc": cpus, "driver_memory": f"{driver_gb}g"}


class StreamProgress:
    """Collects streaming progress per query run, in start order."""

    def __init__(self) -> None:
        self.runs: list[str] = []
        self.progress: dict[str, list] = {}
        self.terminated = 0

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.runs.append(str(event.runId))
                outer.progress.setdefault(str(event.runId), [])

            def onQueryProgress(self, event):
                outer.progress.setdefault(str(event.progress.runId), []).append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        return _Listener()

    def batches(self, run_index: int) -> list:
        """Progress of the ``run_index``-th started query, batches with input only."""
        if run_index >= len(self.runs):
            return []
        return [p for p in self.progress[self.runs[run_index]] if p.numInputRows > 0]

    def wait_for(self, n_runs: int, timeout_s: float = 15.0) -> None:
        deadline = time.monotonic() + timeout_s
        while self.terminated < n_runs and time.monotonic() < deadline:
            time.sleep(0.05)


class Bench:
    def __init__(self, args, work: Path, tracer) -> None:
        from pokertracker_cassandra_st_spark.registry import REGISTRY, get_oracles

        self.args = args
        self.work = work
        self.tracer = tracer
        self.registry = REGISTRY
        self.oracles = get_oracles()
        self.checks = Checks()
        self.stream = StreamProgress()
        self.replays: list[str] = []  # "gate" / "untraced" / "traced", per replay
        self.result_rows: dict[str, int] = {}
        self.spark = None
        self.setup: dict[str, float] = {}
        self.passes: list[dict] = []  # one per measured pass
        # event_log: one store and its client model for the whole run, so
        # the log grows from empty through every pass
        self.store = None
        self.model = PlayerModel()
        self.writes = 0

    # ---- set-up -------------------------------------------------------

    def set_up(self) -> None:
        """Launch the JVM and start the session, warm it up and (event_log)
        rebuild the event split, as a fresh process pays it. One cold
        set-up per run: each costs 9-14 s on a 4-core host, and the runs a
        benchmark round makes must fit its time budget."""
        from pokertracker_cassandra_st_spark.session import get_spark
        from pokertracker_cassandra_st_spark.streaming import runner

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        t2 = t3 = time.perf_counter()
        if self.args.workload == "event_log":
            for old in Path(runner.SCRATCH).glob("events_split_*"):
                shutil.rmtree(old)
            runner.stream_events(self.spark, str(DATA), n_files=STREAM_FILES)
            t3 = time.perf_counter()
        self.setup = {"start": t1 - t0, "warm": t2 - t1, "split": t3 - t2, "total": t3 - t0}
        self.spark.streams.addListener(self.stream.listener())

    def host(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__,
            "sf": SCALE_FACTOR,
            "seed": self.args.seed,
        }

    # ---- correctness gate (untimed) -----------------------------------

    def gate(self) -> None:
        """Check every query against its DuckDB oracle, and on event_log
        warm the CRUD path with read-your-writes checks, before timing."""
        from tests.differ import duck_connection

        if self.args.workload == "analytics":
            names = query_order(self.args.seed, -1)
        else:
            names = [STREAM_QUERY]
            self.replays.append("gate")
        duck = duck_connection(str(DATA))
        try:
            for name in names:
                try:
                    pdf = self.registry[name].fn(self.spark, str(DATA)).toPandas()
                    self.result_rows[name] = len(pdf)
                    oracle = duck.execute(self.oracles[name]).fetchdf()
                    problem = frame_problem(pdf, oracle, name)
                except Exception as e:  # noqa: BLE001 — a failed query is a counted failure
                    problem = f"{type(e).__name__}: {e}"[:300]
                self.checks.record(f"gate {name}", problem)
        finally:
            duck.close()
        if self.args.workload == "event_log":
            from pokertracker_cassandra_st_spark.player_api import PlayerStore

            warm, model = PlayerStore(self.spark, str(self.work / "players_warm")), PlayerModel()
            for i, op in enumerate(crud_plan(self.args.seed, -1)[:GATE_CRUD_OPS]):
                self.checks.record(f"gate op {i} {op[0]}", _checked_crud(warm, model, op)[1])
            self.store = PlayerStore(self.spark, str(self.work / "players"))

    # ---- measured passes ----------------------------------------------

    def run_passes(self, count: int, traced: bool) -> None:
        """``count`` whole passes over plans 0..count-1, so traced and
        untraced passes of one run compare the same work (on event_log,
        against a log that keeps growing)."""
        for plan_no in range(count):
            self.passes.append(self.run_pass(plan_no, traced))

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        seed = self.args.seed
        if self.args.workload == "analytics":
            ops = [("query", name) for name in query_order(seed, pass_no)]
        else:
            ops = event_log_plan(seed, pass_no, self.model.next_id)
        rec = {"traced": traced, "ops": []}
        tag = f"p{len(self.passes)}"  # unique per pass, for the job groups
        if self.tracer is not None:
            self.tracer.enabled = traced
        t0 = time.perf_counter()
        for i, op in enumerate(ops):
            kind = op[0]
            if kind in ("query", "replay"):
                name = op[1] if kind == "query" else STREAM_QUERY
                if kind == "replay":
                    self.replays.append("traced" if traced else "untraced")
                latency, problem, stats = self.run_query(name, f"{tag}.{i}", traced)
                rec["ops"].append({"kind": kind, "name": name, "ms": latency * 1000, **stats})
            else:
                with self._op_span(kind):
                    latency, problem = _checked_crud(self.store, self.model, op)
                rec["ops"].append({"kind": kind, "name": kind, "ms": latency * 1000})
            self.checks.record(f"pass {pass_no} op {i} {op[0]}", problem)
        rec["wall"] = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.enabled = False
        if self.store is not None:
            self.writes += sum(1 for o in ops if o[0] in WRITE_METHODS)
            files = sum(1 for _ in Path(self.store.path).glob("*.parquet"))
            rec["log_files"], rec["log_files_per_write"] = files, files / max(self.writes, 1)
        return rec

    def _op_span(self, kind: str):
        return self.tracer.span("op", op=kind) if self.tracer is not None else contextlib.nullcontext()

    def run_query(self, name: str, tag: str, traced: bool) -> tuple[float, str | None, dict]:
        """One registry call plus its noop-sink action; per-layer stats when traced."""
        fn = self.registry[name].fn
        if not traced:
            t = time.perf_counter()
            try:
                fn(self.spark, str(DATA)).write.format("noop").mode("overwrite").save()
                problem = None
            except Exception as e:  # noqa: BLE001 — counted as a failure
                problem = f"{type(e).__name__}: {e}"[:300]
            return time.perf_counter() - t, problem, {}
        return self._traced_query(fn, name, tag)

    def _traced_query(self, fn, name: str, tag: str) -> tuple[float, str | None, dict]:
        from pokertracker_cassandra_st_spark.plans.inspect import explain_str
        from tracing import GROUP, group_job_stats, join_rows_since, plan_phases_ms, plan_shape, sql_store

        sc, tr = self.spark.sparkContext, self.tracer
        problem, stats = None, {}
        try:
            with tr.span("op", op=name) as op_span:
                sc.setLocalProperty(GROUP, f"{tag}:construct")
                with tr.span("registry"):
                    df = fn(self.spark, str(DATA))
                sc.setLocalProperty(GROUP, f"{tag}:plan")
                with tr.span("plan"):
                    plan_text = explain_str(df)
                first_execution = sql_store(self.spark).executionsCount()
                sc.setLocalProperty(GROUP, f"{tag}:execute")
                with tr.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — counted as a failure
            problem = f"{type(e).__name__}: {e}"[:300]
        finally:
            sc.setLocalProperty(GROUP, None)
        if problem is None:
            construct = group_job_stats(self.spark, f"{tag}:construct")
            catalog = group_job_stats(self.spark, f"{tag}:construct/catalog")
            execute = group_job_stats(self.spark, f"{tag}:execute")
            join_rows = join_rows_since(self.spark, first_execution)
            stats = {
                "construct_jobs": construct["jobs"] + catalog["jobs"],
                "construct_stages": construct["stages"] + catalog["stages"],
                "catalog_jobs": catalog["jobs"],
                "phases": plan_phases_ms(df),
                "shape": plan_shape(plan_text),
                "execute": dict(execute),
                "join_rows_out": join_rows,
            }
        return op_span.duration, problem, stats

    def tear_down(self) -> None:
        """Stop the session, the JVM and the Python workers, and wait for them."""
        from pyspark import SparkContext

        from measure import children

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:  # noqa: BLE001 — escalate below
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        while children(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)


def _checked_crud(store, model: PlayerModel, op: tuple) -> tuple[float, str | None]:
    """One timed CRUD call, then its read-your-writes check against ``model``."""
    t = time.perf_counter()
    try:
        result, problem = _crud(store, op), None
    except Exception as e:  # noqa: BLE001 — counted as a failure
        result, problem = None, f"{type(e).__name__}: {e}"[:300]
    latency = time.perf_counter() - t
    return latency, problem or model.check(op, result)


def _crud(store, op: tuple):
    kind = op[0]
    if kind == "create":
        return store.create(op[1], op[2])
    if kind == "update":
        return store.update(op[1], op[2], op[3])
    if kind == "delete":
        return store.delete(op[1])
    if kind == "get":
        return store.get(op[1])
    return store.find_all()


# ---- summaries ----------------------------------------------------------


def end_to_end(bench: Bench) -> dict:
    """The bounded metrics. Typical operation latency is the geometric mean,
    not the median: on event_log the reference mix is 7 reads to 5 writes,
    so the median falls where the read and write latencies meet, and a few
    slow reads move it by the whole gap between them."""
    passes = [p for p in bench.passes if not p["traced"]]
    latencies = [o["ms"] for p in passes for o in p["ops"]]
    tail_ms, _, _ = tail(latencies)
    return {
        "setup_s": bench.setup["total"],
        "pass_s": median([p["wall"] for p in passes]),
        "op_geomean_ms": statistics.geometric_mean(latencies),
        "op_tail_ms": tail_ms,
    }


def workload_detail(bench: Bench, peak_rss_mb: float) -> dict:
    """Figures printed beside the end-to-end metrics but not bounded: the
    workload's own latencies, the error rate, and peak memory, which the
    driver JVM's heap growth moves by about a fifth from run to run."""
    passes = [p for p in bench.passes if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    out: dict[str, tuple] = {"peak_rss_mb": (peak_rss_mb, "MB", "driver, JVM and Python workers")}
    out["op_p50_ms"] = (median([o["ms"] for o in ops]), "ms", f"n={len(ops)}")

    def timing(name: str, ms: list[float], unit: str, scale: float) -> None:
        v, pct, n = tail(ms)
        out[f"{name}_p50_{unit}"] = (median(ms) * scale, unit, f"n={len(ms)}")
        out[f"{name}_tail_{unit}"] = (v * scale, unit, f"p{pct} of n={n}")

    if bench.args.workload == "analytics":
        timing("query", [o["ms"] for o in ops], "s", 1e-3)
    else:
        writes = [o["ms"] for o in ops if o["kind"] in WRITE_METHODS]
        reads = [o["ms"] for o in ops if o["kind"] in READ_METHODS]
        crud_s = sum(writes + reads) / 1000.0
        out["ops_per_s"] = (len(writes + reads) / crud_s if crud_s else 0.0, "1/s", "CRUD calls")
        timing("write", writes, "ms", 1.0)
        timing("read", reads, "ms", 1.0)
        measured = [i for i, k in enumerate(bench.replays) if k == "untraced"]
        batches = [b for i in measured for b in bench.stream.batches(i)]
        replay_s = sum(o["ms"] for o in ops if o["kind"] == "replay") / 1000.0
        events = sum(b.numInputRows for b in batches)
        out["events_per_s"] = (events / replay_s if replay_s else 0.0, "1/s", "replay wall")
        timing("batch", [b.durationMs.get("triggerExecution", 0) for b in batches], "ms", 1.0)
    out["error_rate"] = (bench.checks.error_rate, "ratio", f"{bench.checks.failed}/{bench.checks.attempted}")
    return out


def per_layer(bench: Bench, tracer) -> dict[str, float]:
    """Per-layer metrics of the traced passes (see tracing.PER_LAYER_UNITS)."""
    from tracing import PER_LAYER_UNITS, PLAYER_METHODS, SELF_TIME_LAYERS

    traced = [p for p in bench.passes if p["traced"]]
    untraced = [p for p in bench.passes if not p["traced"]]
    n = max(len(traced), 1)
    wall = sum(p["wall"] for p in traced)

    def pct(seconds: float) -> float:
        return 100.0 * seconds / wall if wall else 0.0

    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m["session.start_s"] = bench.setup["start"]
    m["session.warm_s"] = bench.setup["warm"]
    m["streaming.split_pct"] = 100.0 * bench.setup["split"] / bench.setup["total"]

    spans = tracer.spans  # recorded only while a traced pass runs
    own = tracer.self_times()
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    dur = {k: sum(s.duration for s in v) for k, v in by_name.items()}
    m["catalog.calls"] = len(by_name.get("catalog", ())) / n
    m["catalog.busy_pct"] = pct(dur.get("catalog", 0.0))
    m["registry.construct_s"] = dur.get("registry", 0.0) / n
    m["execute.action_s"] = dur.get("execute", 0.0) / n
    m["ckpt.calls"] = len(by_name.get("ckpt", ())) / n
    m["ckpt.busy_pct"] = pct(dur.get("ckpt", 0.0))
    m["dist_rank.calls"] = len(by_name.get("dist_rank", ())) / n
    m["dist_rank.busy_pct"] = pct(dur.get("dist_rank", 0.0))
    for layer in SELF_TIME_LAYERS:
        m[f"{layer}.self_pct"] = pct(sum(t for s, t in zip(spans, own) if s.name == layer))
    for meth in PLAYER_METHODS:
        calls = [s.duration for s in by_name.get("player_api", ()) if s.attrs.get("fn") == meth]
        m[f"player_api.{meth}_pct"] = pct(sum(calls))
        m[f"player_api.{meth}_n"] = len(calls) / n

    q_ops = [o for p in traced for o in p["ops"] if "phases" in o]
    gc_s = 0.0
    for o in q_ops:
        m["catalog.jobs"] += o["catalog_jobs"] / n
        m["registry.construct_jobs"] += o["construct_jobs"] / n
        m["registry.construct_stages"] += o["construct_stages"] / n
        for phase in ("analysis", "optimization", "planning"):
            m[f"plan.{phase}_ms"] += o["phases"][phase] / n
        for k, v in o["shape"].items():
            m[f"plan.{k}"] += v / n
        for k, v in o["execute"].items():
            if k == "gc_s":
                gc_s += v
            else:
                m[f"execute.{k}"] += v / n
        m["execute.join_rows_out"] += o["join_rows_out"] / n
    run_s = m["execute.executor_run_s"] * n
    m["execute.gc_pct"] = 100.0 * gc_s / run_s if run_s else 0.0
    results = sum(bench.result_rows.get(o["name"], 0) for o in q_ops)
    m["execute.join_rows_per_result"] = m["execute.join_rows_out"] * n / results if results else 0.0

    traced_replays = [i for i, k in enumerate(bench.replays) if k == "traced"]
    batches = [b for i in traced_replays for b in bench.stream.batches(i)]
    trigger_ms = sum(b.durationMs.get("triggerExecution", 0) for b in batches)
    if trigger_ms:
        m["streaming.batches"] = len(batches) / n
        for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                          ("walCommit", "wal_commit")):
            m[f"streaming.{name}_pct"] = 100.0 * sum(b.durationMs.get(key, 0) for b in batches) / trigger_ms
        commit_ms = sum(s.commitTimeMs for b in batches for s in b.stateOperators)
        m["streaming.state_commit_pct"] = 100.0 * commit_ms / trigger_ms
        m["streaming.state_rows"] = max(sum(s.numRowsTotal for s in b.stateOperators) for b in batches)
        m["streaming.state_memory_bytes"] = max(
            sum(s.memoryUsedBytes for s in b.stateOperators) for b in batches
        )
    if any("log_files" in p for p in traced):
        m["player_api.log_files"] = median([p["log_files"] for p in traced if "log_files" in p])
        m["player_api.log_files_per_write"] = median(
            [p["log_files_per_write"] for p in traced if "log_files" in p]
        )

    base = median([p["wall"] for p in untraced])
    m["trace.overhead_pct"] = 100.0 * (median([p["wall"] for p in traced]) / base - 1) if base else 0.0
    # time inside a traced operation that no layer span covers
    m["trace.unattributed_ms"] = 1000.0 * max(
        (t for s, t in zip(spans, own) if s.name == "op"), default=0.0
    )
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir() or not DATA.is_dir():
        print(f"perfbench: {PACKAGE}/ or {DATA.relative_to(ROOT)} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench-work" / str(os.getpid())
    sys.path.insert(0, str(ROOT))
    from pokertracker_cassandra_st_spark.registry import get_oracles, get_queries
    from pokertracker_cassandra_st_spark.streaming import runner

    runner.SCRATCH = str(work / "scratch")
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    get_queries()
    missing = [q for q in ANALYTICS_QUERIES + (STREAM_QUERY,) if q not in get_oracles()]
    if missing:
        print(f"perfbench: no oracle for {missing}", file=sys.stderr)
        return 2

    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host = size_to_host(work)
    os.chdir(work)  # spark-warehouse/ and other cwd-relative output land here
    bench = Bench(args, work, tracer)
    try:
        with PeakMemory() as memory:
            timeline = {"start": time.perf_counter() - T0}
            steal0 = steal_s()
            bench.set_up()
            timeline["setup"] = time.perf_counter() - T0
            host.update(bench.host())
            bench.gate()
            timeline["gate"] = time.perf_counter() - T0
            passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
            if tracer is None:
                bench.run_passes(passes, traced=False)
            else:
                # untraced passes on both sides of the traced ones cancel
                # the warm-up drift out of the tracing overhead
                half = max(1, passes // 2)
                bench.run_passes(half, traced=False)
                bench.run_passes(half, traced=True)
                bench.run_passes(half, traced=False)
            timeline["passes"] = time.perf_counter() - T0
            host["steal_s"] = round(steal_s() - steal0, 2)  # other guests' share of this host
            bench.stream.wait_for(len(bench.replays))
        e2e = end_to_end(bench)
        detail = workload_detail(bench, memory.peak_mb)
        layers = per_layer(bench, tracer) if tracer is not None else None
    finally:
        bench.tear_down()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only once no other run is using it

    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print(f"workload={args.workload} passes={len(bench.passes)} seconds={args.seconds}")
    timeline["end"] = time.perf_counter() - T0
    print("elapsed_s " + " ".join(f"{k}={v:.1f}" for k, v in timeline.items()))
    print("pass_walls_s " + " ".join(f"{p['wall']:.2f}" for p in bench.passes))
    print("ops_ms " + " ".join(f"{o['name']}={o['ms']:.0f}" for o in bench.passes[0]["ops"]))
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {END_TO_END_UNITS[name]}")
    for name, (value, unit, note) in detail.items():
        print(f"{name} {value:.6g} {unit} ({note})")
    for failure in bench.checks.failures:
        print(f"FAILED {failure}")
    if layers is not None:
        from tracing import PER_LAYER_UNITS

        for name, value in layers.items():
            print(f"{name} {value:.6g} {PER_LAYER_UNITS[name]}")
        out = ROOT / ".perfbench-out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{args.workload}-{args.seed}.json"
        path.write_text(json.dumps({
            "host": host,
            "spans": [vars(s) for s in tracer.spans],
            "per_layer": layers,
        }, default=str))
        print(f"spans written to {path.relative_to(ROOT)}")
        units, values = PER_LAYER_UNITS, layers
    else:
        units, values = END_TO_END_UNITS, e2e
    print(json.dumps({
        "correct": bench.checks.failed == 0,
        "attempted": bench.checks.attempted,
        "failed": bench.checks.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
