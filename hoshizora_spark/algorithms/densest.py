"""Densest subgraph: Bahmani–Kumar–Vassilvitskii parallel peeling
(2(1+ε)-approximation of Goldberg's maximum-density subgraph).

Not shipped by the reference (README.md:67, applications WIP); the
standard dense-community / spam-cluster extraction primitive for link
graphs (Charikar 2000 greedy, made MapReduce-parallel by Bahmani et al.,
VLDB 2012). Fully deterministic — no sampling, no tie-breaking: per
round over the surviving induced subgraph S,

  1. ρ = |E(S)| / |S| (density; the best (ρ, S) seen so far is the
     answer — strictly-greater updates keep the earliest round, and the
     SQL oracle orders the same way)
  2. remove EVERY vertex with deg_S(v) <= 2(1+ε)ρ — at least the
     average-degree mass, so |S| shrinks geometrically and the round
     count is O(log_{1+ε} V)
  3. stop when no edges survive

Physical shape per round: one degree aggregate over the live edge table
(map-side combinable), one anti-threshold semi-join to shrink S, two
semi-joins to contract the live edges — the live table CONTRACTS
geometrically like Borůvka's, every frame lineage-cut, two scalar counts
on the driver (the ρ sequence IS the algorithm's control flow). At
10^12-edge scale round 1's degree agg is the dominant shuffle: one row
per surviving vertex on the exchange.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph, maybe_broadcast, symmetrize
from hoshizora_spark.runtime.checkpoint import cut_lineage


@dataclass
class DensestResult:
    vertices: DataFrame  # (vid: long, density: double) — the best S
    density: float
    best_round: int
    rounds: int
    converged: bool


def densest_subgraph(
    graph: Graph,
    eps: float = 0.1,
    max_rounds: int = 200,
) -> DensestResult:
    """Peel the undirected simple view of ``graph``; returns the densest
    surviving induced subgraph (ties -> earliest round). S starts as the
    full dense domain, so an edgeless graph answers (V, density 0)."""
    if eps < 0:
        raise ValueError("eps must be >= 0")
    und = (
        symmetrize(graph.edges)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    V = graph.num_vertices
    live = cut_lineage(und)
    S = cut_lineage(graph.vertices())
    best_rho, best_round, best_S = -1.0, -1, S
    rounds = 0
    converged = False
    for r in range(max_rounds):
        n = S.count()
        m = live.count()
        if n == 0:
            converged = True
            break
        rho = m / n
        if rho > best_rho:
            best_rho, best_round, best_S = rho, r, S
        if m == 0:
            converged = True
            break
        rounds += 1
        deg = (
            live.select(F.col("a").alias("vid"))
            .unionByName(live.select(F.col("b").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        thr = 2.0 * (1.0 + eps) * rho
        S = cut_lineage(
            S.join(maybe_broadcast(deg, V), "vid", "left")
            .filter(F.coalesce("deg", F.lit(0)) > thr)
            .select("vid")
        )
        keep = maybe_broadcast(S, V)
        live = cut_lineage(
            live.join(keep.select(F.col("vid").alias("a")), "a", "semi").join(
                keep.select(F.col("vid").alias("b")), "b", "semi"
            ).select("a", "b")
        )
    out = best_S.select("vid", F.lit(float(best_rho)).alias("density"))
    return DensestResult(
        vertices=out,
        density=float(best_rho),
        best_round=best_round,
        rounds=rounds,
        converged=converged,
    )
