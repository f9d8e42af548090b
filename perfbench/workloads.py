"""What each benchmark workload runs, in which seeded order, and how its
outputs are checked.

Both workloads are closed loops with one client: the next operation is
issued only after the previous one has returned.

* ``analytics`` — one pass runs the 13 headline queries of ``bench.py``,
  the ntile query and the edit-distance near-duplicate query, in a
  seeded order, each materialized through the noop sink.
* ``event_log`` — the reference service's own pipeline: one pass runs
  the reference's CRUD lifecycle (``PlayerResourceIT.crud()``, mirrored
  by ``tests/test_player_api.py``) ``CRUD_LIFECYCLES`` times against a
  ``PlayerStore`` whose log grows through the whole run, and folds the
  ``events`` stream through ``q_stream_replay`` at a seeded position.

Everything here is pure Python so the plans and checks can be unit
tested without a Spark session.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from bench import HEADLINE

# q_win_ntile: its global decile goes through dist_rank.range_row_number,
# over the small customer table, so the dist_rank layer is measured.
# q_dedup_editdist: the edit-distance tier (candidate-pair join plus
# Levenshtein verify), the slowest dedup query. The other dedup tiers are
# left out so that a run fits in the time one benchmark run is given.
ANALYTICS_QUERIES = tuple(HEADLINE) + ("q_win_ntile", "q_dedup_editdist")
STREAM_QUERY = "q_stream_replay"

# How often one event_log pass repeats the reference CRUD lifecycle.
CRUD_LIFECYCLES = 3
WRITE_METHODS = ("create", "update", "delete")
READ_METHODS = ("get", "find_all")

_FIRST = ("Robert", "Ada", "Grace", "Linus", "Barbara", "Edsger", "Frances", "Ken")
_LAST = ("Brem", "Lovelace", "Hopper", "Torvalds", "Liskov", "Dijkstra", "Allen")


def query_order(seed: int, pass_no: int) -> list[str]:
    """The analytics queries in this pass's seeded order."""
    order = list(ANALYTICS_QUERIES)
    random.Random(f"analytics:{seed}:{pass_no}").shuffle(order)
    return order


def crud_plan(seed: int, pass_no: int, first_id: int = 1) -> list[tuple]:
    """``CRUD_LIFECYCLES`` repeats of the reference CRUD lifecycle.

    Each repeat makes the calls of ``PlayerResourceIT.crud()`` in its
    order: create two players, read the first back, update it and read
    it again, list all, delete an id that never existed and read it,
    list all, delete the first player, read it, list all. That is 2
    creates, 1 update, 2 deletes, 4 gets and 3 find_alls. The seed picks
    the names and the absent id, which is negative like the reference's
    -42, so it never collides with a server-assigned one.

    Ops are ``("create", first, last)``, ``("update", pid, first, last)``,
    ``("delete", pid)``, ``("get", pid)`` and ``("find_all",)``. Ids
    follow the store's rule (max id ever written + 1), so the plan names
    them from ``first_id``, the id the store will assign next.
    """
    rng = random.Random(f"crud:{seed}:{pass_no}")

    def name() -> tuple[str, str]:
        return rng.choice(_FIRST), f"{rng.choice(_LAST)}-{rng.randrange(10_000)}"

    ops: list[tuple] = []
    for n in range(CRUD_LIFECYCLES):
        pid = first_id + 2 * n
        absent = -rng.randrange(1, 10_000)
        ops += [
            ("create", *name()),
            ("create", *name()),
            ("get", pid),
            ("update", pid, *name()),
            ("get", pid),
            ("find_all",),
            ("delete", absent),
            ("get", absent),
            ("find_all",),
            ("delete", pid),
            ("get", pid),
            ("find_all",),
        ]
    return ops


def event_log_plan(seed: int, pass_no: int, first_id: int = 1) -> list[tuple]:
    """One event_log pass: the CRUD plan with ``("replay",)`` inserted at a
    seeded position."""
    ops = crud_plan(seed, pass_no, first_id)
    at = random.Random(f"replay:{seed}:{pass_no}").randrange(len(ops) + 1)
    return ops[:at] + [("replay",)] + ops[at:]


@dataclass
class PlayerModel:
    """The client's own view of the store, for read-your-writes checks."""

    players: dict[int, tuple[str, str]] = field(default_factory=dict)
    next_id: int = 1

    def check(self, op: tuple, result) -> str | None:
        """Apply ``op`` (already executed against the store, returning
        ``result``) to the model; return a mismatch message or None."""
        kind = op[0]
        if kind == "create":
            expected, self.next_id = self.next_id, self.next_id + 1
            self.players[expected] = (op[1], op[2])
            if result != expected:
                return f"create returned id {result!r}, expected {expected}"
        elif kind == "update":
            self.players[op[1]] = (op[2], op[3])
        elif kind == "delete":
            self.players.pop(op[1], None)
        elif kind == "get":
            want = self.players.get(op[1])
            got = None if result is None else (result["firstName"], result["lastName"])
            if result is not None and result["id"] != op[1]:
                return f"get({op[1]}) returned id {result['id']}"
            if got != want:
                return f"get({op[1]}) returned {got!r}, expected {want!r}"
        elif kind == "find_all":
            got = sorted((r["id"], r["firstName"], r["lastName"]) for r in result)
            want = sorted((pid, *names) for pid, names in self.players.items())
            if got != want:
                return f"find_all returned {len(got)} rows, expected {len(want)}"
        return None


@dataclass
class Checks:
    """Attempted and failed operations; every failure keeps its reason."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def record(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failures.append(f"{what}: {problem}")


def frame_problem(spark_pdf, oracle_pdf, name: str) -> str | None:
    """The differential check the test suite uses, as a message or None."""
    from tests.differ import assert_frames_match

    try:
        assert_frames_match(spark_pdf, oracle_pdf, name)
    except AssertionError as e:
        return str(e)[:300]
    return None
