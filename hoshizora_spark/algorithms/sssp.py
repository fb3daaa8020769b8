"""Weighted single-source shortest paths (Bellman-Ford as BSP relaxation).

Not shipped by the reference (its README lists further applications as
WIP, /root/reference/README.md:67) but the natural weighted companion to
``bfs_distances``: dist(v) = minimum total edge weight over paths from the
nearest source; unreachable vertices report -1. Deterministic, exact.

Same min-monoid kernel as BFS (algorithms/bfs.py) with message
``dist(src) + w``, run by runtime/gas.py ``run_kernel`` on either engine:
per round one edge⋈state join producing per-edge candidates, folded with
the apply by a single ``groupBy(vid).agg(min)`` — one shuffle.
Rounds = number of edges on the longest shortest path (≤ V-1), so on
small-diameter link graphs this converges in tens of supersteps at any
scale. Weights must be non-negative (standard Bellman-Ford relaxation
converges for negative weights too if no negative cycle is reachable, but
the -1 sentinel and the round bound are only meaningful for w ≥ 0).

The CSR blocks store the RAW edge weights
(``build_csr_blocks(..., normalize_weights=False)``), unlike weighted
PageRank's src-normalized ones.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.algorithms.bfs import _INF, BfsKernel
from hoshizora_spark.graph.core import Graph
from hoshizora_spark.graph.csr import build_csr_blocks
from hoshizora_spark.runtime.gas import DfEdges, dense_sources, run_kernel


@dataclass
class SsspResult:
    distances: DataFrame  # (vid: long, dist: double); -1.0 = unreachable
    rounds: int
    converged: bool
    changed_per_round: list[int] = field(default_factory=list)
    wall_ms_per_round: list[float] = field(default_factory=list)


class SsspKernel(BfsKernel):
    """BFS's min-monoid kernel with message = dist(src) + w. On the CSR
    engine it requires blocks built with ``normalize_weights=False``."""

    def scatter_gather(self, src_vals, weights):
        return src_vals + weights


def _weighted_edge_view(graph: Graph, weight_col: str, directed: bool) -> DataFrame:
    """(src, dst, w: double). Undirected = both directions, same weight.

    Multi-edges are kept as-is — the min fold collapses them for free, so
    no dedup shuffle is spent here (contrast symmetrize(), whose distinct()
    the set-semantics algorithms need).
    """
    e = graph.edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    )
    if directed:
        return e
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


def _sssp(graph, kernel, edges, max_rounds) -> SsspResult:
    res = run_kernel(graph, kernel, edges, max_iters=max_rounds)
    dist = F.when(F.col("val") >= _INF, F.lit(-1.0)).otherwise(F.col("val"))
    return SsspResult(
        distances=res.state.select("vid", dist.alias("dist")),
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=res.stats,
        wall_ms_per_round=res.wall_ms,
    )


def sssp_distances(
    graph: Graph,
    sources: list[int],
    weight_col: str = "weight",
    directed: bool = True,
    max_rounds: int = 200,
) -> SsspResult:
    V = graph.num_vertices
    kernel = SsspKernel(dense_sources(sources, V, "sssp"))
    ef = DfEdges.cache(_weighted_edge_view(graph, weight_col, directed), V)
    return _sssp(graph, kernel, ef, max_rounds)


def sssp_distances_csr(
    graph: Graph,
    sources: list[int],
    weight_col: str = "weight",
    directed: bool = True,
    max_rounds: int = 200,
) -> SsspResult:
    """CSR-block engine: same kernel, same distances."""
    V = graph.num_vertices
    kernel = SsspKernel(dense_sources(sources, V, "sssp"))
    base = Graph(
        edges=_weighted_edge_view(graph, weight_col, directed).withColumnRenamed(
            "w", weight_col
        ),
        num_vertices=V,
    )
    csr = build_csr_blocks(base, weight_col=weight_col, normalize_weights=False)
    return _sssp(graph, kernel, csr, max_rounds)

