"""Generic BSP superstep loop: the Spark analogue of the reference executor.

``BulkSyncGASExecutor::run`` (/root/reference/src/hoshizora/core/
bulksync_gas_executor.h:110-241) drives iterations of barrier-synchronized
phases over double-buffered vertex state. Here one superstep is one
DataFrame job (the stage boundary IS the barrier), the "double buffer" is
the immutable next-state DataFrame, and lineage is cut every iteration by
either ``localCheckpoint`` or a durable ``CheckpointManager`` write that
also records per-partition lineage + metrics and enables resume
(north_star requirement — the reference has no persistence at all).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from hoshizora_spark.runtime.checkpoint import CheckpointManager


@dataclass
class LoopResult:
    state: DataFrame
    iterations: int
    converged: bool
    stats: list[float] = field(default_factory=list)
    wall_ms: list[float] = field(default_factory=list)


def bsp_loop(
    spark: SparkSession,
    *,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, int], DataFrame],
    stat: Callable[[DataFrame], float] | None = None,
    stat_expr: Column | None = None,
    done: Callable[[float], bool],
    restore: Callable[[DataFrame], DataFrame],
    max_iters: int,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    edges_per_iter: int = -1,
    metric_kind: str = "delta",  # 'delta' -> max_abs_delta slot, 'changed' -> changed slot
) -> LoopResult:
    """Run supersteps until ``done(stat)`` or ``max_iters``.

    * ``init()`` builds iteration-0 state (ignored on resume).
    * ``step(state, it)`` emits the next-state DataFrame; it may carry extra
      columns (e.g. ``old_val``) that the statistic needs — ``restore``
      projects those away to produce the persistent state for the next round.
    * ``stat_expr`` (preferred): an aggregate Column (e.g.
      ``max(abs(new - old))``) piggybacked on the checkpoint job via
      ``DataFrame.observe`` — the convergence scalar costs ZERO extra Spark
      jobs per superstep (the CollectMetrics node rides the materialization
      the checkpoint already runs). NULL metric (empty frame) reads as 0.0.
    * ``stat`` (fallback): a callable issuing its own action AFTER the
      lineage cut — one extra job per superstep. Kept for the HyperANF /
      HyperBall loop (``algorithms/anf.py:_hll_balls``): its job builds the
      per-vertex ball-estimate frame, which an ``Observation`` cannot.
    """
    if stat_expr is None and stat is None:
        raise ValueError("bsp_loop needs stat_expr or stat")
    start = 0
    if resume and checkpoint is not None and checkpoint.latest_iter() is not None:
        start = checkpoint.latest_iter() + 1
        state = restore(checkpoint.load_state(spark, start - 1))
    else:
        state = init().localCheckpoint(eager=True)

    stats: list[float] = []
    walls: list[float] = []
    converged = False
    rounds = 0
    for it in range(start, max_iters):
        t0 = time.perf_counter()
        nxt = step(state, it)
        obs = None
        if stat_expr is not None:
            obs = Observation(f"hz_stat_{it}")
            nxt = nxt.observe(obs, stat_expr.alias("stat"))
        if checkpoint is not None and (
            it % checkpoint_every == 0 or it == max_iters - 1
        ):
            nxt = checkpoint.save_state(it, nxt)
        else:
            nxt = nxt.localCheckpoint(eager=True)
        if obs is not None:
            v = obs.get.get("stat")
            s = float(v) if v is not None else 0.0
        else:
            s = stat(nxt)
        wall = (time.perf_counter() - t0) * 1000.0
        stats.append(s)
        walls.append(wall)
        if checkpoint is not None:
            checkpoint.append_metrics(
                it,
                edges_per_iter,
                wall,
                s if metric_kind == "delta" else None,
                int(s) if metric_kind == "changed" else None,
            )
        state = restore(nxt)
        rounds = it - start + 1
        if done(s):
            converged = True
            break
    return LoopResult(
        state=state, iterations=rounds, converged=converged, stats=stats, wall_ms=walls
    )
