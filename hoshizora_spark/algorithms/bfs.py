"""Multi-source BFS hop distances (frontier relaxation to fixpoint).

Not shipped by the reference (its README lists further applications as
WIP, /root/reference/README.md:67) but a first-class link-graph query
("how far is every file from the build roots"). Semantics: dist(v) =
length of the shortest edge path from the nearest source; unreachable
vertices report -1. Deterministic, exact.

One min-monoid kernel (``BfsKernel``) runs on both engines
(runtime/gas.py ``run_kernel``): per round one edge⋈state join, a per-dst
min aggregation with the apply folded in — rounds = eccentricity of the
source set, each one shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph, symmetrize
from hoshizora_spark.graph.csr import build_csr_blocks
from hoshizora_spark.runtime.gas import DfEdges, VectorKernel, dense_sources, run_kernel

_INF = float(2**62)  # sentinel; never survives into the output


@dataclass
class BfsResult:
    distances: DataFrame  # (vid: long, dist: long); -1 = unreachable
    rounds: int
    converged: bool
    changed_per_round: list[int] = field(default_factory=list)
    wall_ms_per_round: list[float] = field(default_factory=list)


class BfsKernel(VectorKernel):
    """Scalar min-monoid GAS form (runtime/gas.py): message = dist(src) + 1,
    fold = min, apply = least(prev, acc). Distances ride as float64 (exact
    < 2^53); unreached sources (dist = _INF) send nothing."""

    combine = "min"

    def __init__(self, sources: list[int]) -> None:
        self.sources = sources

    def init_expr(self, vid):
        return F.when(vid.isin(self.sources), F.lit(0.0)).otherwise(F.lit(_INF))

    def scatter_gather(self, src_vals, weights):
        return src_vals + 1.0  # hop count; edge weights unused

    def apply_expr(self, vid, prev, acc):
        return F.least(prev, F.coalesce(acc, prev))

    def sends(self, src_val):
        return src_val < _INF


def _bfs(graph, kernel, edges, max_rounds) -> BfsResult:
    res = run_kernel(graph, kernel, edges, max_iters=max_rounds)
    dist = F.when(F.col("val") >= _INF, F.lit(-1)).otherwise(F.col("val"))
    return BfsResult(
        distances=res.state.select("vid", dist.cast("long").alias("dist")),
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=res.stats,
        wall_ms_per_round=res.wall_ms,
    )


def bfs_distances(
    graph: Graph,
    sources: list[int],
    directed: bool = True,
    max_rounds: int = 200,
) -> BfsResult:
    V = graph.num_vertices
    kernel = BfsKernel(dense_sources(sources, V, "bfs"))
    edges = graph.edges.select("src", "dst") if directed else symmetrize(graph.edges)
    return _bfs(graph, kernel, DfEdges.cache(edges, V), max_rounds)


def bfs_distances_csr(
    graph: Graph,
    sources: list[int],
    directed: bool = True,
    max_rounds: int = 200,
) -> BfsResult:
    """CSR-block engine: same kernel, same distances."""
    V = graph.num_vertices
    kernel = BfsKernel(dense_sources(sources, V, "bfs"))
    base = graph if directed else Graph(edges=symmetrize(graph.edges), num_vertices=V)
    return _bfs(graph, kernel, build_csr_blocks(base), max_rounds)

