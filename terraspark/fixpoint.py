"""One driver for every "repeat until nothing changes" loop.

The iterative operators (connected components, flow accumulation and
length, watershed, Strahler order, cost distance, sink filling, HAND)
all run the same round: build the next state from the current one,
materialize it so lineage stays flat, count the rows that still moved,
stop at zero.  Each ``step`` carries what ``changed`` needs inside the
state it returns -- the previous value as a tagged column, or a pointer
that is null once its path has ended -- so a round is one lazy
checkpoint plus one count job, with no join back to the previous table.
Loop parallelism is a property of the frames a step builds
(``repartition``), never of the session: the driver changes no session
conf, so a query running next to a loop keeps its own plan settings.
"""
from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import Column, DataFrame

log = logging.getLogger(__name__)


def fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame],
             changed: Column, max_iter: int, name: str) -> DataFrame:
    """Apply ``state = step(state)`` until no row of the new state
    satisfies ``changed``; returns that state.

    Each round's jobs carry the description ``fixpoint:<name>:r<k>``
    (the caller's description comes back on exit; the job group is left
    alone), and ``(name, round, changed rows, seconds)`` is logged at
    DEBUG.  An unconverged result is a wrong result -- a truncated
    accumulation, an unmerged cluster -- so reaching ``max_iter`` rounds
    with rows still changing raises RuntimeError instead of returning
    it."""
    sc = state.sparkSession.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    n = -1
    try:
        for k in range(1, max_iter + 1):
            sc.setJobDescription(f"fixpoint:{name}:r{k}")
            t0 = time.perf_counter()
            # lazy: the count below is the round's only action, so it
            # both materializes the checkpoint and reads the changed rows;
            # counted on the JVM row RDD, one job, where a SQL count() is
            # two under AQE (its single-partition exchange, then the sum)
            state = step(state).localCheckpoint(eager=False)
            n = state.where(changed)._jdf.rdd().count()
            log.debug("fixpoint %s round %d changed %d in %.3f s",
                      name, k, n, time.perf_counter() - t0)
            if n == 0:
                return state
    finally:
        sc.setJobDescription(outer)
    raise RuntimeError(
        f"{name} did not converge in {max_iter} rounds ({n} rows still "
        f"changing); raise max_iter")
