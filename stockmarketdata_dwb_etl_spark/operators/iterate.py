"""Superstep loops: the one place an iterative operator cuts its lineage.

Uncut, superstep k+1's plan holds supersteps 1..k and every action
replays them, so a loop cuts each new state with
``DataFrame.localCheckpoint`` (``plans.audit.capture_checkpoints`` sees
every cut). :func:`iterate` is that loop for the whole package. Policy:

- **Where.** After every step, on each new state: one DataFrame, or a
  tuple of them (``None`` for one not built yet) whose elements the step
  returns unchanged (the same object) stay uncut, so half-steps over a
  pair (HITS's hub/auth) cut each half once.
- **Eager or lazy.** An eager cut runs one job per superstep at build
  time. A lazy cut runs none: superstep k's blocks are written by the
  first job that reads them, the next ``until`` count or the caller's
  action. Each site keeps the choice its plans and job counts have.
- **Release.** A superseded state's blocks are dropped once its
  successor is materialized (an eager cut or an ``until`` count): no
  plan reads them after that. A lazy chain without ``until`` releases
  nothing, and a step whose side outputs read superseded states in a
  later action is run with ``retain=True``. :func:`release` drops a cut
  made outside the loop, e.g. an edge copy every superstep reads.
- **Broadcast timeout.** In a lazy chain superstep k's final stage runs
  inside superstep k+1's first stage that reads the state; when the
  planner broadcasts the state, that is the broadcast, so the whole
  stage sits under ``spark.sql.broadcastTimeout`` (300 s default, not
  set by the engine). Node-sized states keep it small; a state whose
  superstep nears the timeout needs an eager cut.
- **Faults.** The blocks live in executor storage with their lineage
  dropped: a lost executor fails the query instead of recomputing. No
  reliable (``setCheckpointDir``) cut is offered.
"""

from __future__ import annotations

from typing import Callable, Optional, Union

from pyspark.sql import DataFrame

State = Union[DataFrame, tuple[Optional[DataFrame], ...]]


def release(df: DataFrame) -> None:
    """Drop the storage blocks behind a ``localCheckpoint`` frame. Any
    other frame (no LogicalRDD root) is left alone: a persisted slot is
    not this module's to drop."""
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def iterate(
    state: State,
    step: Callable[[State, int], State],
    iters: int,
    *,
    eager: bool,
    until: Optional[Callable[[State], bool]] = None,
    retain: bool = False,
) -> State:
    """Run ``state = step(state, i)`` for i in ``range(iters)``, cutting
    each new state, and return the last one. ``until(state)``, an action
    over the new state, stops the loop when true; ``retain`` keeps the
    superseded states' blocks (module docstring)."""
    for i in range(iters):
        new = step(state, i)
        pairs = [(state, new)] if isinstance(new, DataFrame) else list(zip(state, new))
        cuts = [n if n is o else n.localCheckpoint(eager=eager) for o, n in pairs]
        new = cuts[0] if isinstance(new, DataFrame) else tuple(cuts)
        done = until is not None and until(new)
        if not retain and (eager or until is not None):
            for o, n in pairs:
                if o is not None and n is not o:
                    release(o)
        state = new
        if done:
            break
    return state
