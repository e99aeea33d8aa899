"""The resumable superstep loop shared by the engine's iterative programs.

North rule: every iterative superjob checkpoints lineage and metrics so
that any iteration can be resumed. :func:`supersteps` is that discipline,
written once, for PageRank and Katz (``graph/pagerank.py``), connected
components (``graph/components.py``), label propagation
(``graph/lpa.py``), k-core peeling (``graph/kcore.py``), HITS and SALSA
(``graph/hits.py``, ``graph/salsa.py``) and strongly connected
components (``graph/scc.py``, whose peel rounds run nested loops). The caller
supplies the cold state, the step, the named metrics and the stop test;
the loop owns the rest:

- every round is ONE job: the next state is materialized and its lineage
  truncated by an eager ``localCheckpoint``, and the caller's metrics are
  ``DataFrame.observe`` aggregates of that same pass
  (:func:`checkpoint_observing`) — no separate convergence action, no
  per-round persist/unpersist, so no cached relation outlives the call;
- every ``checkpoint_every`` rounds the materialized state (or its
  snapshot columns) is written to the :class:`CheckpointManager`; the loop
  goes on from the local checkpoint, which keeps its partitioning;
- one journal row per round (the metrics plus wall ``seconds``) goes to
  the manager's metrics journal and to the returned ``history``;
- a run with a manager first resumes from its latest snapshot: the caller
  maps the snapshot onto its cold state, and the resumed frame is
  materialized with the same metrics observed, so the first resumed round
  has previous metrics to compare against.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation

from amanogawa_spark.checkpoint import CheckpointManager

Metrics = dict[str, Any]


@dataclass
class SuperstepRun:
    state: DataFrame  # the last materialized state
    rounds: int  # the round ``state`` belongs to, resumed rounds included
    history: list[dict]  # one row per round run by this call
    metrics: Metrics  # of ``state``: the last round's, else the start metrics


def checkpoint_observing(
    df: DataFrame, metrics: dict[str, Column]
) -> tuple[DataFrame, Metrics]:
    """Materialize ``df`` as a local checkpoint in ONE job and return it
    with the values of the aggregate ``metrics`` over its rows, computed
    in that same pass (0.0 for an empty frame)."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    names = [f"m{i}" for i in range(len(metrics))]
    df = df.observe(obs, *(m.alias(k) for m, k in zip(metrics.values(), names)))
    out = df.localCheckpoint(eager=True)
    got = obs.get
    return out, {key: got[k] or 0.0 for key, k in zip(metrics, names)}


def supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, Metrics], DataFrame],
    metrics: dict[str, Column],
    max_rounds: int,
    converged: Callable[[Metrics, Metrics], bool] | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    start_metrics: Metrics | None = None,
    resume: Callable[[DataFrame, DataFrame], DataFrame] = lambda cold, snap: snap,
    snapshot_cols: Sequence[str] | None = None,
) -> SuperstepRun:
    """Run ``step(state, prev_metrics)`` for rounds 1..``max_rounds``.

    ``state`` is the cold start. ``start_metrics`` are its metrics when
    the caller knows them without a pass (only what the first step reads
    is needed); ``None`` materializes the cold state and observes them.
    ``converged(metrics, prev_metrics)`` stops the loop after a round;
    ``None`` runs every round.

    With a ``checkpoint`` the run resumes from the latest snapshot:
    ``resume(cold_state, snapshot)`` is the resumed state (by default the
    snapshot itself). Snapshots are ``snapshot_cols`` of the state (all
    columns by default), written every ``checkpoint_every`` rounds.
    """
    rnd = 0
    last = checkpoint.latest_iteration() if checkpoint is not None else None
    if last is not None:
        state, start_metrics = checkpoint_observing(
            resume(state, checkpoint.load(last)), metrics
        )
        rnd = last
    elif start_metrics is None:
        state, start_metrics = checkpoint_observing(state, metrics)
    prev = start_metrics
    history: list[dict] = []
    while rnd < max_rounds:
        t0 = time.time()
        rnd += 1
        state, got = checkpoint_observing(step(state, prev), metrics)
        if checkpoint is not None and rnd % checkpoint_every == 0:
            checkpoint.save(
                state if snapshot_cols is None else state.select(*snapshot_cols), rnd
            )
        row = {"iteration": rnd, **got, "seconds": time.time() - t0}
        history.append(row)
        if checkpoint is not None:
            checkpoint.log_metrics(**row)
        stop = converged is not None and converged(got, prev)
        prev = got
        if stop:
            break
    return SuperstepRun(state, rnd, history, prev)
