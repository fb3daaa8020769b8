"""k-core decomposition (coreness per vertex) by batch peeling.

Beyond the reference's two apps but squarely in its domain (link-graph
structure mining; e.g. "dependency backbone" extraction). Semantics over
the undirected simple graph: coreness(v) = largest k such that v belongs
to a subgraph where every vertex has degree ≥ k.

Batch peeling, exact and deterministic:

    k = 0; alive = all vertices
    repeat:
        peel = alive vertices with alive-degree < k+1... actually:
        while some alive vertex has degree < k: remove ALL of them at
        once (their coreness is their current k-1 bucket) — batch
        cascades within the same k; when stable, k += 1.

Each peel round is one degree aggregation + one anti-join — no per-vertex
Python. Rounds = O(max_coreness + cascade depth); each is a bounded
shuffle over the shrinking alive-edge set, which we re-checkpoint so plan
depth stays O(1) (same discipline as the BSP loops).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import (
    Graph,
    maybe_broadcast,
    sized_partitions,
    symmetrize,
)
from hoshizora_spark.graph.csr import build_csr_blocks
from hoshizora_spark.runtime.gas import DfEdges, KeyedKernel, run_kernel


def _hindex_agg(es) -> Column:
    """H-index over a (c desc, cnt)-sorted entry list: the max k with
    ≥ k entries of value ≥ k — cum += cnt; best = max(best, min(c, cum)).
    One O(distinct values) array fold, shared by ``HIndexKernel`` and
    ``k_truss``."""
    return F.aggregate(
        es,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(0).cast("long").alias("best")
        ),
        lambda acc, e: F.struct(
            (acc["cum"] + e["cnt"]).alias("cum"),
            F.greatest(acc["best"], F.least(e["c"], acc["cum"] + e["cnt"])).alias("best"),
        ),
        lambda acc: acc["best"],
    )


@dataclass
class KCoreResult:
    coreness: DataFrame  # (vid: long, coreness: long) over the full domain
    max_core: int
    rounds: int
    converged: bool  # False when max_rounds cut the run short
    wall_ms_per_round: list[float] | None = None
    changed_per_round: list[int] | None = None


def k_core(graph: Graph, max_rounds: int = 10_000) -> KCoreResult:
    spark = graph.spark
    # simple undirected: dedup + no loops; staged so the count and the
    # checkpoint read one execution of the distinct
    sym = symmetrize(graph.edges).persist()
    n_part = sized_partitions(spark, sym.count())
    edges = sym.repartition(n_part, "src").localCheckpoint(eager=True)
    sym.unpersist()

    # isolated / not-yet-peeled vertices end with coreness 0 by default
    result = graph.vertices().select("vid", F.lit(0).cast("long").alias("coreness"))
    result = result.localCheckpoint(eager=True)

    k = 1
    rounds = 0
    converged = False
    while rounds < max_rounds:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.count()
        if alive == 0:
            converged = True
            break
        peel = deg.filter(F.col("deg") < k).select("src")
        n_peel = peel.count()
        rounds += 1
        if n_peel == 0:
            # everyone alive has degree >= k: they are at least k-core
            upd = deg.select("src", F.lit(k).cast("long").alias("c"))
            result = (
                result.join(upd, result.vid == upd.src, "left")
                .select("vid", F.coalesce("c", "coreness").alias("coreness"))
                .localCheckpoint(eager=True)
            )
            k += 1
            continue
        # remove peeled vertices and their edges; cascade stays at this k.
        # Broadcast gate = the measured 200k driver-serialization ceiling
        # (maybe_broadcast); a multi-million-row peel wave goes through a
        # shuffle anti-join instead of stalling the driver.
        peel_b = maybe_broadcast(peel, n_peel)
        edges = (
            edges.join(peel_b.withColumnRenamed("src", "p"), edges.src == F.col("p"), "left_anti")
        )
        peel_dst_b = maybe_broadcast(peel.withColumnRenamed("src", "p"), n_peel)
        edges = edges.join(peel_dst_b, edges.dst == F.col("p"), "left_anti")
        edges = edges.localCheckpoint(eager=True)
    return KCoreResult(coreness=result, max_core=k - 1, rounds=rounds, converged=converged)


class HIndexKernel(KeyedKernel):
    """Keyed GAS form of the h-index iteration: state = current h; per-edge
    key = the gathered src h; the fold counts h values per dst (the
    (dst, c) histogram) and ``_hindex_agg`` turns the (c desc)-sorted
    entries into the new h. h0 = degree over ``sym`` (the init hook);
    degree-0 vertices get an empty entry list, which folds to 0 == their
    h0 forever."""

    def __init__(self, sym: DataFrame) -> None:
        self.deg = sym.groupBy(F.col("src").cast("long").alias("vid")).agg(
            F.count(F.lit(1)).alias("h")
        )

    def init(self, vertices):
        return vertices.join(self.deg, "vid", "left").select(
            "vid", F.coalesce("h", F.lit(0)).cast("long").alias("val")
        )

    def scatter_key(self, src_vals):
        return src_vals  # identity: the message IS the h value

    def entry(self, key, cnt):
        return F.struct(key.alias("c"), cnt.alias("cnt"))

    def aggregate(self, entries):
        return F.sort_array(F.collect_list(entries), asc=False)

    def apply_expr(self, vid, prev, acc):
        return _hindex_agg(acc)


def _hindex(graph, sym, edges, max_rounds) -> KCoreResult:
    res = run_kernel(graph, HIndexKernel(sym), edges, max_iters=max_rounds)
    coreness = res.state.select("vid", F.col("val").alias("coreness"))
    mx = coreness.agg(F.max("coreness")).first()[0]
    return KCoreResult(
        coreness=coreness,
        max_core=int(mx or 0),
        rounds=res.iterations,
        converged=res.converged,
        wall_ms_per_round=res.wall_ms,
        changed_per_round=res.stats,
    )


def k_core_hindex(graph: Graph, max_rounds: int = 200) -> KCoreResult:
    """Coreness via synchronous h-index iteration — the at-scale path.

    h(v) starts at degree(v); each round h(v) := H-index of its neighbors'
    current h values (max k such that ≥ k neighbors have h ≥ k). The
    fixpoint is exactly the coreness (Lü et al., Nat. Commun. 2016), and
    values decrease monotonically, so rounds scale with how fast the
    h-operator contracts (diameter-ish) — NOT with max coreness + cascade
    count like peeling. On a 100 TB graph that is tens of rounds of one
    shuffle each instead of thousands of sequential peel jobs.

    Plan per round (all Catalyst-native, ``HIndexKernel`` on ``df_step``):
      1. neighbor values: sym-edges ⋈ state(src). Deliberately NOT also
         joined against state(dst) to clip values (a semantically-free
         optimization): a third reference to the checkpointed state in one
         plan makes Catalyst analysis time grow ~2.6× PER ROUND (measured:
         flat 0.8 s/round without it, 110 s/round by round 21 with it —
         see CLAUDE.md gotcha).
      2. groupBy(dst, c).count — partial+final hash agg, so a hot vertex
         receives at most (num_partitions × distinct neighbor h values)
         rows; distinct h values are bounded by the global distinct-degree
         count (O(√E) on power-law graphs), not by degree.
      3. per-vid fold over the histogram entries sorted by c desc, with the
         apply folded in (carrier row): cum += cnt; h_new = max(min(c,
         cum)) — an O(distinct values) array aggregate, never an
         O(degree) window.
    """
    ef = DfEdges.cache(symmetrize(graph.edges), graph.num_vertices)
    return _hindex(graph, ef.edges, ef, max_rounds)


def k_core_hindex_csr(graph: Graph, max_rounds: int = 200) -> KCoreResult:
    """The same kernel on CSR blocks — h values identical to
    ``k_core_hindex``, round-for-round. A hot vertex's fan-in is bounded
    at num_blocks × distinct h values (O(√E) on power-law graphs)."""
    sym_graph = Graph(edges=symmetrize(graph.edges), num_vertices=graph.num_vertices)
    return _hindex(graph, sym_graph.edges, build_csr_blocks(sym_graph), max_rounds)
