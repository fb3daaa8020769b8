"""Betweenness centrality: Brandes' algorithm as two BSP phases, with
deterministic source sampling for the scale path.

bc(v) = Σ_{s≠v≠t} σ_st(v)/σ_st — the shortest-path brokerage score
(Brandes, J. Math. Sociol. 2001). Not shipped by the reference
(README.md:67, applications WIP); the standard link-graph centrality
alongside PageRank/HITS/harmonic, and the classic two-phase Pregel
workload (forward path counting, backward dependency accumulation).

* **Forward phase** (``_bfs_wavefront``, one ``bsp_loop``; exact
  harmonic centrality runs the same wavefront): multi-source BFS with
  path counts — state rows ``(vid, src, dist, sigma)``. The BFS layer
  property makes the fold append-only: a (vid, src) pair enters at its
  true distance exactly once, and ALL of its shortest-path mass arrives
  in that same superstep (every predecessor sits one layer down), so one
  carrier-fold ``groupBy(vid, src)`` both dedups reached pairs and sums
  σ for new ones — the same one-job superstep shape as every other loop
  in the engine. Only the frontier sends. Row count is the monotone
  convergence statistic.

* **Backward phase** (driver ladder, ≤ eccentricity plans): dependency
  δ_s(u) = Σ_{w: succ} σ_su/σ_sw · (1 + δ_s(w)) walks the BFS DAG one
  layer at a time from the deepest level; each level is one join of the
  level frame against the edge cache plus one aggregation, lineage-cut
  per level (CLAUDE.md: ≥3 references to one checkpointed frame compound
  Catalyst analysis; the ladder keeps every frame at ≤2).

* **Sampling** (Brandes–Pich): exact betweenness needs all V sources —
  O(V·E) work, O(V²) pair state, verification-scale only (capped like
  harmonic). At scale, sources are the deterministic subset
  ``mix(vid, 0, seed) % sample_mod == 0`` (the walks.py integer mix, so
  the estimator is replayable cross-engine) and the estimate is scaled
  by V/|S| — the standard unbiased pivot estimator. Expected |S| ≈
  V/sample_mod; forward state drops to O(V·|S|).

σ is carried as double: exact for counts < 2^53 (every practical
sampled run), graceful precision loss instead of an ANSI overflow error
on adversarially path-dense graphs.

Undirected semantics (default): each unordered (s,t) pair is counted
from both endpoints, so the final sum is halved — the NetworkX
``betweenness_centrality(normalized=False)`` contract. ``directed=True``
follows edge direction and skips the halving.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.algorithms.anf import _edge_view, _until_repeat
from hoshizora_spark.algorithms.walks import MAX_SEED, mix_sql
from hoshizora_spark.graph.core import Graph, cache_superstep_edges, maybe_broadcast
from hoshizora_spark.runtime.checkpoint import cut_lineage
from hoshizora_spark.runtime.superstep import LoopResult, bsp_loop

MAX_EXACT_VERTICES = 4_096  # all-sources wavefront state is O(V^2) pair rows


@dataclass
class BetweennessResult:
    centrality: DataFrame  # (vid: long, betweenness: double), dense domain
    num_sources: int
    rounds: int  # forward BFS supersteps
    levels: int  # backward ladder depth (max BFS distance)
    converged: bool


def _bfs_wavefront(
    edges: DataFrame,
    key_type: str,
    E: int,
    sources: DataFrame,
    pair_bound: int,
    max_rounds: int,
) -> LoopResult:
    """Multi-source BFS with path counts over a cached edge view: state
    rows (vid, src, dist, sigma), one row per reached (vid, src) pair,
    from (s, s, 0, 1.0) per source. Only the frontier (dist == superstep)
    sends, and the reached-pair count stops the loop when it repeats.
    Shared by the Brandes forward phase and exact harmonic centrality."""

    def init() -> DataFrame:
        return sources.select(
            "vid",
            F.col("vid").alias("src"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1.0).alias("sigma"),
        )

    def step(state: DataFrame, it: int) -> DataFrame:
        frontier = maybe_broadcast(
            state.filter(F.col("dist") == it).select(
                F.col("vid").cast(key_type).alias("u"), "src", "sigma"
            ),
            pair_bound,
        )
        # all shortest-path mass for a newly reached (vid, src) arrives in
        # THIS superstep (BFS layer property), so summing message sigma is
        # the complete sigma; already-reached pairs keep their state row
        # (its dist is strictly smaller, and s_sig wins via coalesce)
        msgs = edges.join(frontier, edges["src"] == frontier["u"]).select(
            F.col("dst").cast("long").alias("vid"),
            frontier["src"].alias("src"),
            F.lit(it + 1).cast("long").alias("dist"),
            F.lit(None).cast("double").alias("s_sig"),
            F.col("sigma").alias("m_sig"),
        )
        carrier = state.select(
            "vid",
            "src",
            "dist",
            F.col("sigma").alias("s_sig"),
            F.lit(None).cast("double").alias("m_sig"),
        )
        return (
            msgs.unionByName(carrier)
            .groupBy("vid", "src")
            .agg(
                F.min("dist").alias("dist"),
                F.coalesce(F.sum("s_sig"), F.sum("m_sig")).alias("sigma"),
            )
        )

    return bsp_loop(
        sources.sparkSession,
        init=init,
        step=step,
        stat_expr=F.count(F.lit(1)),
        done=_until_repeat(),
        restore=lambda df: df,
        max_iters=max_rounds,
        edges_per_iter=E,
        metric_kind="changed",
    )


def betweenness_centrality(
    graph: Graph,
    directed: bool = False,
    sample_mod: int | None = None,
    seed: int = 0,
    round_dp: int | None = None,
    max_rounds: int = 200,
) -> BetweennessResult:
    """Exact (``sample_mod=None``, all sources) or sampled Brandes
    betweenness over the (un)directed simple graph. Isolated vertices and
    sampled-out regions score 0.0."""
    if not (0 <= seed <= MAX_SEED):
        raise ValueError(f"seed must be in [0, {MAX_SEED}] (overflow-safe mix bound)")
    if sample_mod is not None and sample_mod < 1:
        raise ValueError("sample_mod must be >= 1")
    V = graph.num_vertices
    if sample_mod is None and V > MAX_EXACT_VERTICES:
        raise ValueError(
            f"betweenness_centrality: all-sources pair state is O(V^2); "
            f"V={V} > {MAX_EXACT_VERTICES}. Pass sample_mod to sample sources."
        )
    edges, key_type, E = cache_superstep_edges(_edge_view(graph, directed), V)

    sources = graph.vertices()
    if sample_mod is not None and sample_mod > 1:
        sources = sources.filter(
            F.expr(f"pmod({mix_sql('vid', 0, seed)}, {sample_mod})") == 0
        )
    num_sources = sources.count()

    pair_bound = V * max(num_sources, 1)
    res = _bfs_wavefront(edges, key_type, E, sources, pair_bound, max_rounds)
    lev = res.state  # already lineage-cut by the loop's checkpoint
    row = lev.agg(F.max("dist").alias("h")).collect()[0]
    H = int(row["h"]) if row["h"] is not None else 0

    # backward dependency ladder: finalize delta one BFS layer at a time
    scale = float(V) / num_sources if num_sources else 0.0
    if not directed:
        scale /= 2.0
    acc: DataFrame | None = None  # finished (src, vid, delta) rows, levels >= 1
    d_next = lev.filter(F.col("dist") == H).select(
        "src", "vid", "sigma", F.lit(0.0).alias("delta")
    )
    for h in range(H - 1, -1, -1):
        # d_next holds the finalized level-(h+1) frame; h+1 >= 1 always,
        # so every loop entry is a counted interior level
        done_rows = d_next.select("src", "vid", "delta")
        acc = done_rows if acc is None else acc.unionByName(done_rows)
        bd = maybe_broadcast(d_next, pair_bound)
        contrib = (
            edges.join(bd, edges["dst"].cast("long") == bd["vid"])
            .select(
                edges["src"].cast("long").alias("u"),
                bd["src"].alias("s"),
                ((F.lit(1.0) + bd["delta"]) / bd["sigma"]).alias("w8"),
            )
            .groupBy("s", "u")
            .agg(F.sum("w8").alias("w8"))
        )
        d_next = cut_lineage(
            lev.filter(F.col("dist") == h)
            .join(
                contrib,
                (F.col("src") == F.col("s")) & (F.col("vid") == F.col("u")),
                "left",
            )
            .select(
                "src",
                "vid",
                "sigma",
                (F.coalesce(F.col("w8"), F.lit(0.0)) * F.col("sigma")).alias("delta"),
            )
        )
    # after the loop d_next is level 0 — the sources themselves, not counted
    edges.unpersist()
    if acc is None:
        bc = F.lit(0.0)
        joined = graph.vertices().select("vid", bc.alias("betweenness"))
    else:
        sums = acc.groupBy("vid").agg((F.sum("delta") * F.lit(scale)).alias("b"))
        b = F.coalesce(F.col("b"), F.lit(0.0))
        if round_dp is not None:
            b = F.round(b, round_dp)
        joined = graph.vertices().join(sums, "vid", "left").select(
            "vid", b.alias("betweenness")
        )
    return BetweennessResult(
        centrality=joined,
        num_sources=num_sources,
        rounds=res.iterations,
        levels=H,
        converged=res.converged,
    )
