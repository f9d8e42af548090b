"""Shared one-per-invocation materialization barrier (optimization r13,
fault-tolerance posture parameterised r14).

``materialized(df)`` truncates lineage so that every downstream
reference shares ONE physical build instead of re-executing the whole
lineage per reference — Catalyst has no cross-branch common-subplan
reuse, and exchange reuse only dedups byte-identical exchange subtrees,
which multi-branch pipelines (self-joins over derived frames,
count+join fan-outs) rarely produce (guide §5: "localCheckpoint() is a
cheaper way to cut lineage").

Properties relied on throughout:
  * eager=False — no barrier runs its own materialization job at
    construction (the r12 ADVICE note on similarity.py's eager
    checkpoint). Construction is NOT job-free, though: under AQE,
    building the checkpointed RDD plans the input and runs its
    shuffle-map stages, so a barrier over a shuffle launches a job
    when it is called (measured on 4 cores at sf0.01: 1.3 s of
    q_dedup_editdist's 1.6 s construction is spent inside
    ``materialized``);
  * per-invocation — a fresh call builds a fresh RDD; the CacheManager
    is never involved, so nothing persists across bench/driver runs
    (no cross-run result caching);
  * explain renders the checkpointed subtree as ``Scan ExistingRDD`` —
    plan-shape tests stub the per-module ``_materialized`` seams to
    assert on the pre-checkpoint tree (tests/test_plans.py
    ``plan_of_unmaterialized``).

Fault tolerance and storage lifetime (r13 VERDICT/ADVICE items):

  * The default ``local`` mode stores the barrier's partitions in
    executor memory+disk with lineage TRUNCATED: on an executor loss
    the downstream job cannot recompute the lost partitions and the
    whole query invocation must be re-run from the source. That is the
    guide-§5 trade ("when fault tolerance of that intermediate is not
    critical"): the barrier removes 2-5 redundant corpus passes from
    every run, while an executor loss costs one re-run of one query —
    at 100 TB the expected cost of re-running the rare failed query is
    far below the guaranteed cost of the redundant passes on every
    query. It is NOT safe with dynamic allocation / spot executors;
    for those deployments set the barrier mode to ``reliable``.
  * ``reliable`` mode (``SPARK_GRAFT_BARRIER=reliable`` or spark conf
    ``spark.graft.barrier``) uses a reliable ``checkpoint(eager=False)``
    into the session's checkpoint directory (HDFS/object store on a
    cluster): partitions survive executor loss; the extra cost is one
    write+read of the barrier frame. The session must have a
    checkpoint dir (``sc.setCheckpointDir``): a node-local default
    would not survive the executor loss this mode exists for, so a
    missing dir raises. Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
    checkpoint files are removed when the RDD is GC'd.
  * ``none`` disables the barrier (debugging / plan inspection).
  * Any other mode value raises rather than running as ``local``.
  * Block lifetime: barrier blocks are freed by the driver's
    ContextCleaner when the invocation's DataFrame is garbage
    collected — a long-lived session running many queries releases
    them incrementally; nothing accumulates across invocations beyond
    normal GC lag.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_VALID_MODES = ("local", "reliable", "none")


def _barrier_mode(df: DataFrame) -> str:
    mode = df.sparkSession.conf.get(
        "spark.graft.barrier", os.environ.get("SPARK_GRAFT_BARRIER", "local")
    )
    if mode not in _VALID_MODES:
        raise ValueError(
            f"unknown barrier mode {mode!r}; expected one of {_VALID_MODES}"
        )
    return mode


def materialized(df: DataFrame) -> DataFrame:
    mode = _barrier_mode(df)
    if mode == "none":
        return df
    if mode == "reliable":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "barrier mode 'reliable' needs a checkpoint dir on the "
                "session (sc.setCheckpointDir) that survives executor loss"
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
