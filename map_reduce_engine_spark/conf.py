"""Scoped session-conf overrides and checkpoints for iterative loop operators.

The loop policy itself lives in :func:`loop_conf`; :func:`scoped_conf` is
the overlap-safe set/restore it is built on, and :func:`checkpoint` is the
eager truncation that reports the row counts a loop steers by.

Spark has no per-plan setting for these, so the override is necessarily
visible to anything planned on the same ``SparkSession`` while a loop runs
— callers that interleave planning with a running loop operator should use
a separate session (``spark.newSession()`` shares the context but not the
SQLConf). What this module DOES guarantee is overlap safety within a
session: scopes form a per-(session, key) STACK — the first scope records
the pristine value, every scope pushes its own value, and when any scope
exits the next-innermost still-active scope's value is re-applied (the
pristine value only when the last holder exits). So a loop nested inside
another loop neither leaks its value into the remainder of the outer scope
nor clobbers the outer restore (the naive save/set/restore-in-finally idiom
is last-writer-wins on both counts).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from collections.abc import Iterator, Mapping

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_lock = threading.Lock()
# (id(session), conf key) -> [pristine value, [(scope token, value), ...]]
_held: dict[tuple[int, str], list] = {}


@contextmanager
def scoped_conf(spark: SparkSession, settings: Mapping[str, object]) -> Iterator[None]:
    """Set ``settings`` on ``spark.conf`` for the scope, then restore.

    Re-entrant and overlap-safe per (session, key): scopes stack. The first
    scope to touch a key records its pristine value; on exit, each scope
    removes its own entry and re-applies the value of the next-innermost
    scope still holding the key (the pristine value when none remains) —
    so an inner scope exiting mid-way through an outer scope restores the
    OUTER scope's value, not the session default and not its own leftover.
    """
    token = object()
    sid = id(spark)
    with _lock:
        # Read pristine values INSIDE the lock (a concurrent scope's
        # set/restore of the same key must not be snapshotted as
        # "pristine") but BEFORE any mutation of the registry: conf.get
        # can raise for keys without defaults, and reads-then-writes
        # ordering means a raise leaves no phantom stack entries that
        # later scopes would "restore". Only keys no scope currently
        # holds need a read — held keys already carry their pristine.
        pristine = {
            k: spark.conf.get(k) for k in settings if (sid, k) not in _held
        }
        for k, v in settings.items():
            slot = _held.get((sid, k))
            if slot is None:
                _held[(sid, k)] = [pristine[k], [(token, str(v))]]
            else:
                slot[1].append((token, str(v)))
    try:
        for k, v in settings.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        with _lock:
            for k in settings:
                slot = _held[(sid, k)]
                slot[1] = [e for e in slot[1] if e[0] is not token]
                if slot[1]:
                    spark.conf.set(k, slot[1][-1][1])
                else:
                    spark.conf.set(k, slot[0])
                    del _held[(sid, k)]


# Rows of loop state per shuffle partition: the same work-per-task target
# AQE's partition coalescing aims for.
_ROWS_PER_PARTITION = 200_000


@contextmanager
def loop_conf(spark: SparkSession, rows: int) -> Iterator[int]:
    """Scope the iterative-loop profile and yield its partition count.

    ``rows`` is the row volume of the loop state (edges, symbols, DP
    edges). Callers read it off the :func:`checkpoint` that materializes
    that state before the scope opens, so the job runs under the session's
    own settings and no separate count job runs. The loop discipline every
    iterative operator shares:

    - **Partitions sized to the state.** ``rows // 200_000 + 1``, capped at
      the session's ``spark.sql.shuffle.partitions`` so a 100 TB edge list
      still fans out to full cluster width. On fixed-round loops over
      small or vocabulary-sized state the per-round wall time is stage
      scheduling, not data, and every surplus partition costs rounds x
      shuffles of task-launch latency (measured ~2x wall time).
    - **AQE off for the scope.** Round shapes are static and explicitly
      co-partitioned, so runtime re-planning has nothing to improve; it
      only adds a re-plan and an extra job per stage per round (measured
      ~2.5x wall time on pagerank at sf0.1). Queries outside the scope
      keep AQE.
    - **Invariants materialized once.** Loop-invariant inputs (edge lists,
      degree tables) are ``localCheckpoint``-ed once, hash-partitioned on
      their join key with the yielded count; ``localCheckpoint`` keeps
      ``outputPartitioning``, so rounds re-shuffle only the state updates,
      never the invariants or their upstream lineage.
    - **Lineage truncated every few rounds.** Loop state is eagerly
      ``localCheckpoint``-ed so the per-round plan stays constant-size
      (nested iterative plans grow exponentially in the optimizer and OOM
      the driver long before the data does). Each eager checkpoint is one
      job, and on small state the job count IS the wall time, so fixed-
      round loops checkpoint every 2 rounds plus the final one (interval
      1 and 5 both measured slower); cadence never changes the
      arithmetic. The driver holds only the loop counter and, for
      fixpoint loops, a changed-row count, which :func:`checkpoint`
      observes on the round's own checkpoint job (no count job).
    """
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    num_partitions = max(1, min(session_parts, rows // _ROWS_PER_PARTITION + 1))
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(num_partitions),
        },
    ):
        yield num_partitions


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with counts observed
    on that same job: ``rows`` (always) plus one entry per keyword.

    The counts ride on the checkpoint job as a ``pyspark.sql.Observation``,
    so a loop learns its state size or changed-row count without running a
    second job over rows the checkpoint has just materialized. Metrics
    must read 0, not NULL, on an empty frame: count-style
    (``F.count(F.when(cond, 1))``), or a ``sum`` wrapped in ``coalesce``.
    A bare ``sum`` reads NULL there, and a fixpoint test comparing it with
    0 never stops. Observed metrics come from the checkpoint's
    result stage, so a retried task does not count its rows twice.
    """
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *(c.alias(name) for name, c in metrics.items()),
    )
    return observed.localCheckpoint(eager=True), obs.get
