"""Tests of the benchmark itself (no Spark session is started).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
for p in (str(ROOT), str(HERE)):
    if p not in sys.path:
        sys.path.insert(0, p)

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from measure import tail  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())

PINNED_END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_ms": "ms",
    "op_tail_ms": "ms",
}


def test_end_to_end_names_and_units_are_pinned():
    assert run.END_TO_END_UNITS == PINNED_END_TO_END
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert declared == PINNED_END_TO_END
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


def test_per_layer_names_and_units_match_the_benchmark_file():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert declared == tracing.PER_LAYER_UNITS
    layers = {name.split(".")[0] for name in declared}
    assert layers >= {"session", "catalog", "registry", "plan", "execute", "ckpt",
                      "dist_rank", "streaming", "player_api"}


def test_benchmark_file_names_the_runnable_workloads():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)
    assert BENCHMARK["command"] == ["python3", "perfbench/run.py"]


def test_same_seed_same_query_order_and_operation_sequence():
    assert workloads.query_order(7, 0) == workloads.query_order(7, 0)
    assert workloads.event_log_plan(7, 3) == workloads.event_log_plan(7, 3)
    assert sorted(workloads.query_order(7, 0)) == sorted(workloads.ANALYTICS_QUERIES)
    assert workloads.query_order(7, 0) != workloads.query_order(8, 0)
    assert workloads.event_log_plan(7, 0) != workloads.event_log_plan(8, 0)


def test_crud_plan_repeats_the_reference_lifecycle():
    plan = workloads.crud_plan(5, 0)
    lifecycle = len(plan) // workloads.CRUD_LIFECYCLES
    kinds = [op[0] for op in plan[:lifecycle]]
    assert kinds == ["create", "create", "get", "update", "get", "find_all",
                     "delete", "get", "find_all", "delete", "get", "find_all"]
    assert [op[0] for op in plan] == kinds * workloads.CRUD_LIFECYCLES


@pytest.mark.parametrize("seed", range(200))
def test_crud_plans_are_valid_against_the_model(seed):
    """Three passes' plans, run against one store as a traced run does:
    the answers a correct store gives pass every read-your-writes check,
    and each pass has exactly one replay op."""
    truth = workloads.PlayerModel()
    model = workloads.PlayerModel()
    for pass_no in range(3):
        plan = workloads.event_log_plan(seed, pass_no, model.next_id)
        assert sum(op == ("replay",) for op in plan) == 1
        for op in plan:
            if op[0] == "replay":
                continue
            answer = _correct_answer(truth, op)
            assert model.check(op, answer) is None, op
    assert len(model.players) == 3 * workloads.CRUD_LIFECYCLES


def _correct_answer(truth: workloads.PlayerModel, op: tuple):
    kind = op[0]
    if kind == "create":
        pid = truth.next_id
        truth.check(op, pid)
        return pid
    if kind == "get":
        names = truth.players.get(op[1])
        return None if names is None else {"id": op[1], "firstName": names[0], "lastName": names[1]}
    if kind == "find_all":
        return [{"id": i, "firstName": f, "lastName": la} for i, (f, la) in truth.players.items()]
    truth.check(op, None)
    return None


class _FakeFrame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_injected_oracle_mismatch_raises_error_rate(tmp_path):
    """The gate's own path: one query disagreeing with its DuckDB oracle
    is counted as a failure, not dropped."""
    from types import SimpleNamespace

    args = SimpleNamespace(workload="analytics", seed=3)
    bench = run.Bench(args, tmp_path, tracer=None)
    answer = pd.DataFrame({"k": pd.Series([1], dtype="int64")})
    bench.registry = {
        n: SimpleNamespace(fn=lambda spark, sf: _FakeFrame(answer)) for n in workloads.ANALYTICS_QUERIES
    }
    bench.oracles = {n: "SELECT 1::BIGINT AS k" for n in workloads.ANALYTICS_QUERIES}
    bench.oracles["q_topk"] = "SELECT 2::BIGINT AS k"
    bench.gate()
    assert bench.checks.attempted == len(workloads.ANALYTICS_QUERIES)
    assert bench.checks.failed == 1
    assert bench.checks.error_rate == 1 / len(workloads.ANALYTICS_QUERIES)
    assert "q_topk" in bench.checks.failures[0]


def test_stale_read_is_a_counted_failure():
    model = workloads.PlayerModel()
    assert model.check(("create", "Ada", "Lovelace"), 1) is None
    assert model.check(("update", 1, "Grace", "Hopper"), None) is None
    checks = workloads.Checks()
    stale = {"id": 1, "firstName": "Ada", "lastName": "Lovelace"}
    checks.record("get", model.check(("get", 1), stale))
    checks.record("find_all", model.check(("find_all",), []))
    assert checks.failed == 2


def test_tail_keeps_ten_samples_beyond_it():
    value, pct, n = tail(range(100))
    assert (value, n) == (89.0, 100)
    assert sum(1 for x in range(100) if x > value) == 10
    assert pct == 90.0
    assert tail(range(15)) == (14.0, 100.0, 15)
