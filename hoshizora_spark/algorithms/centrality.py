"""Harmonic centrality: exact all-pairs BSP + HyperBall sketch path.

H(v) = Σ_{u≠v, d(u,v)<∞} 1/d(u,v) — the connectivity-robust closeness
variant (Boldi-Vigna, "Axioms for centrality"). Not shipped by the
reference (README.md:67, applications WIP); a standard link-graph ranking
alongside PageRank.

* ``harmonic_centrality`` — EXACT. Σ 1/dist over the rows of Brandes
  betweenness's multi-source BFS wavefront (``_bfs_wavefront``: sparse
  (vid, src, dist, sigma) rows, frontier-only messages). Fixpoint state is
  Θ(Σ reachable pairs) = O(V²): verification-scale, capped at
  ``MAX_EXACT_VERTICES``.

* ``harmonic_centrality_hll`` — HyperBall (Boldi-Rosa-Vigna) on HyperANF's
  loop (``_hll_balls``): per-vertex HLL ball sketches B(v, h) (V·m rows
  at any scale), and after each merge the per-vertex ball estimate
  accumulates as acc += (|B(v,h)| − |B(v,h−1)|)/h. Error inherits HLL's
  1.04/√m per ball.

Directed semantics: distances follow edge direction, so grouping at the
DESTINATION yields in-harmonic centrality H(v) = Σ_u 1/d(u → v) — the
citation-prestige form; pass the transposed graph for out-harmonic.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.algorithms.anf import _edge_view, _hll_balls
from hoshizora_spark.algorithms.betweenness import MAX_EXACT_VERTICES, _bfs_wavefront
from hoshizora_spark.graph.core import (
    Graph,
    cache_superstep_edges,
    maybe_broadcast,
    symmetrize,
)
from hoshizora_spark.runtime.superstep import bsp_loop


@dataclass
class CentralityResult:
    centrality: DataFrame  # (vid: long, centrality: double)
    rounds: int
    converged: bool


def harmonic_centrality(
    graph: Graph,
    directed: bool = False,
    max_rounds: int = 200,
    round_dp: int | None = None,
) -> CentralityResult:
    """Exact H(v) over the (un)directed graph; isolated vertices get 0.0.

    ``round_dp``: optional decimal rounding of the final sum (the oracle
    convention for cross-engine double comparison; None = raw)."""
    V = graph.num_vertices
    if V > MAX_EXACT_VERTICES:
        raise ValueError(
            f"harmonic_centrality: exact all-pairs state is O(V^2); V={V} > "
            f"{MAX_EXACT_VERTICES}. Use harmonic_centrality_hll."
        )
    edges, key_type, E = cache_superstep_edges(_edge_view(graph, directed), V)
    res = _bfs_wavefront(edges, key_type, E, graph.vertices(), V * V, max_rounds)
    edges.unpersist()
    h = (
        res.state.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("centrality"))
    )
    cent = F.coalesce(F.col("centrality"), F.lit(0.0))
    if round_dp is not None:
        cent = F.round(cent, round_dp)
    out = graph.vertices().join(h, "vid", "left").select("vid", cent.alias("centrality"))
    return CentralityResult(centrality=out, rounds=res.iterations, converged=res.converged)


def degree_assortativity(graph: Graph) -> DataFrame:
    """One-row (n_stubs, assortativity) — Pearson correlation of
    (deg(u), deg(v)) over the ordered stub pairs of the undirected simple
    graph (Newman's r; -1 disassortative hubs-to-leaves, +1 assortative).

    Pure Catalyst: one degree agg + two broadcast-size joins + ONE final
    aggregate. All six moment sums are exact integers (degrees are ints),
    so the closing float expression is bit-portable: the only doubles are
    a fixed arithmetic tree over identical integers. NULL when undefined
    (degree variance 0, e.g. regular graphs)."""
    und = symmetrize(graph.edges)
    deg = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("src", "v")
    )
    stubs = (
        und.join(deg.select(F.col("v").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dy")), "dst")
    )
    agg = stubs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    # moment sums stay exact longs; the combining products move to double
    # FIRST (n·sxy overflows long loudly under ANSI at ~10^12 stubs) — the
    # SQL oracle mirrors the same casts, so the float tree is identical
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    varx = n * F.col("sxx").cast("double") - sx * sx
    vary = n * F.col("syy").cast("double") - sy * sy
    r = F.when((varx > 0) & (vary > 0), num / (F.sqrt(varx) * F.sqrt(vary)))
    return agg.select(F.col("n").alias("n_stubs"), F.round(r, 6).alias("assortativity"))


@dataclass
class HitsResult:
    scores: DataFrame  # (vid: long, authority: double, hub: double)
    iterations: int
    converged: bool


def hits(
    graph: Graph,
    max_iters: int = 50,
    tol: float | None = 1e-8,
    directed: bool = True,
    round_dp: int | None = None,
) -> HitsResult:
    """Kleinberg HITS hubs & authorities (sequential half-steps,
    L1-normalized): a_i = norm(Aᵀ h_{i-1}), h_i = norm(A a_i). Not shipped
    by the reference (README.md:67, applications WIP); the classic
    link-analysis companion to PageRank on the same directed graph.

    One ``bsp_loop`` superstep evaluates BOTH half-steps in a single plan
    (one checkpoint job): each half-step is the usual carrier-row
    union-agg fold, and each L1 normalizer is a broadcast 1-row aggregate
    crossJoined back in — no driver action, no Window. The intermediate
    authority frame is referenced twice (hub messages + carrier); its agg
    exchange is identical in both branches so Catalyst's ReuseExchange
    materializes it once. Convergence statistic: Σ_v |Δa| + |Δh| observed
    on the checkpoint job (zero extra jobs); ``tol=None`` runs exactly
    ``max_iters`` rounds (the oracle convention).

    ``round_dp``: optional decimal rounding of the outputs (cross-engine
    double-compare convention; None = raw)."""
    spark = graph.spark
    V = graph.num_vertices
    edges = graph.edges.select("src", "dst") if directed else symmetrize(graph.edges)
    edges, key_type, E = cache_superstep_edges(edges, V)
    nil = F.lit(None).cast("double")

    def init() -> DataFrame:
        one = F.lit(1.0)
        return graph.vertices().select(
            "vid", one.alias("a"), one.alias("h"), F.lit(0.0).alias("da")
        )

    def _norm_fold(msgs: DataFrame, carrier: DataFrame, val_out: str) -> DataFrame:
        """Union-agg carrier fold + in-plan L1 normalization of sum(val)."""
        raw = msgs.unionByName(carrier).groupBy("vid").agg(
            F.sum("val").alias("raw"),
            *[
                F.max(c).alias(c)
                for c in carrier.columns
                if c not in ("vid", "val")
            ],
        )
        tot = raw.agg(F.sum("raw").alias("_tot"))
        keep = [c for c in raw.columns if c != "raw"]
        newv = F.when(F.col("_tot") > 0, F.col("raw") / F.col("_tot")).otherwise(0.0)
        return raw.crossJoin(F.broadcast(tot)).select(*keep, newv.alias(val_out))

    def step(state: DataFrame, it: int) -> DataFrame:
        st = maybe_broadcast(state.select(F.col("vid").cast(key_type).alias("u"), "a", "h"), V)
        # authority half-step: fold h over IN-edges, carry old a/h for the delta
        amsgs = edges.join(st, edges["src"] == st["u"]).select(
            F.col("dst").cast("long").alias("vid"),
            st["h"].alias("val"),
            nil.alias("old_a"),
            nil.alias("old_h"),
        )
        acarrier = state.select(
            "vid", F.lit(0.0).alias("val"), F.col("a").alias("old_a"), F.col("h").alias("old_h")
        )
        a_new = _norm_fold(amsgs, acarrier, "a")
        # hub half-step: fold the NEW a over OUT-edges (broadcast/shuffle_hash
        # hinted like the state side — without it Catalyst picks sort-merge
        # and re-sorts the persisted E-row side every superstep)
        an = maybe_broadcast(
            a_new.select(F.col("vid").cast(key_type).alias("w"), F.col("a").alias("aval")), V
        )
        hmsgs = edges.join(an, edges["dst"] == an["w"]).select(
            F.col("src").cast("long").alias("vid"),
            F.col("aval").alias("val"),
            nil.alias("a"),
            nil.alias("old_a"),
            nil.alias("old_h"),
        )
        hcarrier = a_new.select("vid", F.lit(0.0).alias("val"), "a", "old_a", "old_h")
        out = _norm_fold(hmsgs, hcarrier, "h")
        da = F.abs(F.col("a") - F.col("old_a")) + F.abs(F.col("h") - F.col("old_h"))
        return out.select("vid", "a", "h", da.alias("da"))

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum("da"),
        done=(lambda d: d < tol) if tol is not None else (lambda d: False),
        restore=lambda df: df,
        max_iters=max_iters,
        edges_per_iter=2 * E,
        metric_kind="delta",
    )
    edges.unpersist()
    a_out, h_out = F.col("a"), F.col("h")
    if round_dp is not None:
        a_out, h_out = F.round(a_out, round_dp), F.round(h_out, round_dp)
    scores = res.state.select("vid", a_out.alias("authority"), h_out.alias("hub"))
    return HitsResult(scores=scores, iterations=res.iterations, converged=res.converged)


def harmonic_centrality_hll(
    graph: Graph,
    m: int = 64,
    directed: bool = False,
    max_rounds: int = 200,
) -> CentralityResult:
    """HyperBall: approximate H(v) at any scale (V·m sketch rows).

    Per round: one E-row sketch merge (the HyperANF superstep) + one V-row
    job that estimates every ball and folds it into the accumulator — all
    state linear in V. Stops at the exact register fixpoint (monotone rho
    mass), i.e. when every ball stops growing."""
    res, _, acc = _hll_balls(graph, m, directed, max_rounds, "harmonic_centrality_hll")
    out = acc.select("vid", F.col("acc").alias("centrality"))
    return CentralityResult(centrality=out, rounds=res.iterations, converged=res.converged)
