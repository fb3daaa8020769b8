"""Per-edge BSP state — the working instance of the reference's ``prev_val``.

The reference's ``Kernel::gather`` receives the edge's *previous-superstep*
EData from a persistent per-edge buffer
(/root/reference/src/hoshizora/core/kernel.h:17-18; the executor keeps
E-sized arrays alive across supersteps). Neither reference app reads it, so
the CSR fast path (runtime/gas.py) deliberately allocates no per-edge
state; the documented alternative is to *express the edge buffer as BSP
state* — carry E rows instead of V rows through ``bsp_loop``. This module
is that pattern, working end-to-end:

``smoothed_pagerank`` iterates exponentially smoothed per-edge messages

    m_{t+1}(s,d) = (1-beta) * m_t(s,d) + beta * r_t(s) * w(s,d)
    r_t(v)       = 0.85 * sum_in m_t + 0.15/N

Each superstep's gather genuinely reads the previous superstep's edge value
(the ``(1-beta) * m_t`` term) — exactly the hook ``prev_val`` exposes. At
the fixed point ``m* = r(m*)·w``, so ``r(m*)`` is the plain PageRank fixed
point: ``beta`` only damps the trajectory, never moves the answer (and
``beta = 1`` reduces superstep-for-superstep to the reference recurrence).

Why BSP rows and not a worker-resident buffer: Spark retries/recomputes
tasks at will, so per-edge state must live in the fault-tolerant state
frame — an E-row lineage-cut per superstep instead of V rows. That cost is
the honest price of per-edge state at scale, and why the hook is opt-in
rather than part of every kernel.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.algorithms.pagerank import DAMPING, JUMP, _weighted_edges
from hoshizora_spark.graph.core import Graph, maybe_broadcast, sized_partitions
from hoshizora_spark.runtime.superstep import bsp_loop


@dataclass
class EdgeStatePageRankResult:
    ranks: DataFrame  # (vid: long, rank: double)
    messages: DataFrame  # (src, dst, w, m) — the final per-edge state
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)


def smoothed_pagerank(
    graph: Graph,
    beta: float = 0.5,
    tol: float | None = 1e-6,
    max_iters: int = 400,
) -> EdgeStatePageRankResult:
    """PageRank via per-edge smoothed messages (see module docstring).

    The loop state is the E-row frame (src, dst, w, m); convergence is
    ``max|Δm| ≤ tol`` (message stationarity implies rank stationarity:
    ranks are a fixed linear image of the messages).
    """
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"beta must be in (0, 1], got {beta}")
    spark = graph.spark
    V = graph.num_vertices
    if V == 0:
        return EdgeStatePageRankResult(
            ranks=graph.vertices().withColumn("rank", F.lit(0.0)),
            messages=spark.createDataFrame([], "src long, dst long, w double, m double"),
            iterations=0,
            converged=True,
        )
    base = JUMP / V
    verts = graph.vertices()

    def ranks_of(msgs: DataFrame) -> DataFrame:
        # same union-carrier fold as `pagerank`: one agg, no apply join
        fold = (
            msgs.select(F.col("dst").alias("vid"), "m")
            .unionByName(verts.select("vid", F.lit(None).cast("double").alias("m")))
            .groupBy("vid")
            .agg(F.sum("m").alias("acc"))
        )
        return fold.select(
            "vid",
            (F.lit(DAMPING) * F.coalesce(F.col("acc"), F.lit(0.0)) + F.lit(base)).alias(
                "r"
            ),
        )

    def step(es: DataFrame, it: int) -> DataFrame:
        r_src = maybe_broadcast(ranks_of(es).select(F.col("vid").alias("src"), "r"), V)
        # gather(prev_val, curr): the per-edge update reads BOTH the edge's
        # previous value (es.m) and the fresh src contribution (r·w)
        return es.join(r_src, "src").select(
            "src",
            "dst",
            "w",
            (F.lit(1.0 - beta) * F.col("m") + F.lit(beta) * F.col("r") * F.col("w")).alias(
                "new_m"
            ),
            F.col("m").alias("old_m"),
        )

    # staged: the count and the init read one execution of the groupBy/join
    ew = _weighted_edges(graph).persist()
    num_edges = ew.count()
    n_part = sized_partitions(spark, num_edges)

    res = bsp_loop(
        spark,
        # m_0 = r_0 · w with r_0 = 1.0 (reference init, pagerank.h:17-20)
        init=lambda: ew.repartition(n_part, "src").withColumn("m", F.col("w")),
        step=step,
        stat_expr=F.max(F.abs(F.col("new_m") - F.col("old_m"))),
        done=lambda d: tol is not None and d <= tol,
        restore=lambda df: df.select("src", "dst", "w", F.col("new_m").alias("m")),
        max_iters=max_iters,
        edges_per_iter=num_edges,
        metric_kind="delta",
    )
    ew.unpersist()
    return EdgeStatePageRankResult(
        ranks=ranks_of(res.state).select("vid", F.col("r").alias("rank")),
        messages=res.state,
        iterations=res.iterations,
        converged=res.converged,
        deltas=res.stats,
    )
