"""PageRank with the reference's exact semantics, Spark-first.

Semantics replicated from /root/reference/src/hoshizora/app/pagerank.h:9-51
(see SURVEY.md §2.4):

  * init rank = 1.0 per vertex (pagerank.h:17-20 — NOT 1/N)
  * message per out-edge = rank(src) / out_degree(src) (pagerank.h:22-24);
    multi-edges each carry a message (from_edge_list keeps duplicates,
    core/graph.h:457-479)
  * new rank = 0.85 * Σ in-messages + 0.15 / N (pagerank.h:38-41);
    zero-in-degree vertices get exactly 0.15/N (zero = 0.0, pagerank.h:31)
  * NO dangling-vertex mass redistribution — mass leaks at sinks
  * isolated ids in the dense domain exist and converge to 0.15/N

The reference runs a fixed ``num_iters`` (default 50, pybind.cpp:14); the
target rule adds convergence ``max|Δrank| ≤ tol``. Both are supported.

One kernel (``PageRankKernel``), two physical engines (runtime/gas.py
``run_kernel``):

* ``pagerank``       — DataFrame engine: ranks ⋈ edges → one union-carrier
  hash agg on dst → apply-project. Broadcasts the rank side when V is
  small so the persisted edge table never re-shuffles.
* ``pagerank_csr``   — CSR-block engine: numpy gather-scatter + per-block
  partial fold inside ``applyInPandas``; the only big exchange per
  superstep carries ≤ num_blocks rows per distinct dst (inherent skew
  mitigation for hot vertices).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph
from hoshizora_spark.graph.csr import CsrBlocks, build_csr_blocks
from hoshizora_spark.runtime.checkpoint import CheckpointManager
from hoshizora_spark.runtime.gas import DfEdges, VectorKernel, dense_sources, run_kernel
from hoshizora_spark.runtime.superstep import LoopResult

DAMPING = 0.85
JUMP = 0.15


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vid: long, rank: double)
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)
    edges_processed_per_iter: int = 0
    wall_ms_per_iter: list[float] = field(default_factory=list)


class PageRankKernel(VectorKernel):
    """GAS form of app/pagerank.h:9-51 (runtime/gas.py)."""

    combine = "sum"

    def __init__(self, num_vertices: int) -> None:
        self.base = JUMP / num_vertices

    def init_expr(self, vid):
        return F.lit(1.0)  # pagerank.h:17-20 (NOT 1/N)

    def scatter_gather(self, src_vals, weights):
        return src_vals * weights  # rank/out_deg per edge entry (pagerank.h:22-24)

    def apply_expr(self, vid, prev, acc):
        return F.lit(DAMPING) * F.coalesce(acc, F.lit(0.0)) + F.lit(self.base)


class PersonalizedPageRankKernel(PageRankKernel):
    """Teleport-set kernel: random jumps land uniformly on ``sources``
    instead of the whole domain. Only init and the apply constant differ:

        init rank = 1[v in S]           (mass starts at the seeds)
        new rank  = 0.85·Σ msgs + 0.15·1[v in S]/|S|

    Seeds are embedded as an ``isin`` literal list — fine for the typical
    "related to this seed set" query (tens..thousands of seeds); the CSR
    path caps it well before the literal-expression plan-blowup regime
    (the IVF-centroid / block-routing trap class)."""

    MAX_SEEDS = 10_000

    def __init__(self, sources: list[int]) -> None:
        self.base = JUMP / len(sources)
        self.src_set = sources

    def init_expr(self, vid):
        return F.when(vid.isin(self.src_set), F.lit(1.0)).otherwise(F.lit(0.0))

    def apply_expr(self, vid, prev, acc):
        jump = F.when(vid.isin(self.src_set), F.lit(self.base)).otherwise(F.lit(0.0))
        return F.lit(DAMPING) * F.coalesce(acc, F.lit(0.0)) + jump


def _weighted_edges(graph: Graph, weight_col: str | None = None) -> DataFrame:
    """(src, dst, w) — one row per distinct edge.

    Unweighted (reference semantics): w = multiplicity / out_degree.
    Weighted (``weight_col`` on the edge frame, the analogue of the
    reference's ``e_props``): w = Σ edge weights / Σ src's out-weights —
    rank flows proportionally to edge weight.
    """
    if weight_col is None:
        mult = graph.edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("mult"))
        deg = graph.out_degrees  # counts multi-edges, matching CSR degree
        return mult.join(deg, "src").select(
            "src", "dst", (F.col("mult") / F.col("out_deg")).alias("w")
        )
    mw = graph.edges.groupBy("src", "dst").agg(F.sum(weight_col).alias("mw"))
    tot = graph.edges.groupBy("src").agg(F.sum(weight_col).alias("tot"))
    return mw.join(tot, "src").select(
        "src", "dst", (F.col("mw") / F.col("tot")).alias("w")
    )


def _empty(graph: Graph) -> PageRankResult:
    return PageRankResult(ranks=graph.vertices().withColumn("rank", F.lit(0.0)),
                          iterations=0, converged=True)


def _result(res: LoopResult, num_edges: int) -> PageRankResult:
    return PageRankResult(
        ranks=res.state.select("vid", F.col("val").alias("rank")),
        iterations=res.iterations,
        converged=res.converged,
        deltas=res.stats,
        edges_processed_per_iter=num_edges,
        wall_ms_per_iter=res.wall_ms,
    )


def pagerank(
    graph: Graph,
    tol: float | None = 1e-6,
    max_iters: int = 200,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    broadcast_vertices: int = 200_000,
    salt_hot_degree: int | None = None,
    num_salts: int = 16,
    hot_keys_df: DataFrame | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """DataFrame-engine path.

    ``broadcast_vertices``: if V is at or below this, the rank table is
    broadcast into the message join so the (persisted, pre-partitioned)
    edge side never re-shuffles; the only exchange per superstep is the
    partial+final message aggregation. Above it (cluster scale) the join
    falls back to shuffle-hash on the co-partitioned ``src`` key.

    ``salt_hot_degree``: explicit skew salting for the shuffle-join regime
    (north_rule "salting for high-degree skew"). Out-degrees above this
    mark a src as hot; its rank row is replicated ``num_salts`` ways and
    its edges spread uniformly over the replicas (runtime/skew.py). Only
    engaged when the broadcast fast path is off — a broadcast join has no
    skewed exchange to salt.

    ``hot_keys_df``: externally-derived hot set (one ``src`` column),
    overriding the internal degree scan — the bridge from the LIVE
    streaming degree histogram (``streaming_degrees_windowed`` sink →
    ``hot_keys_from_degrees``) to the snapshot run's salting decisions.
    Same shuffle-regime gate as ``salt_hot_degree``.
    """
    V = graph.num_vertices
    if V == 0:
        return _empty(graph)
    hot = None
    if V > broadcast_vertices and (salt_hot_degree is not None or hot_keys_df is not None):
        if hot_keys_df is not None:
            hot = hot_keys_df.select("src").persist()
        else:
            from hoshizora_spark.runtime.skew import hot_keys

            hot = hot_keys(graph.edges, "src", salt_hot_degree).persist()
        hot.count()
    # Persist the static side once; every superstep reuses it. On a cluster this
    # is the analogue of the reference's one-time CSR build (core/graph.h:439-547).
    ef = DfEdges.cache(
        _weighted_edges(graph, weight_col), V, broadcast_vertices, hot, num_salts
    )
    res = run_kernel(
        graph,
        PageRankKernel(V),
        ef,
        tol=tol,
        max_iters=max_iters,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        resume=resume,
    )
    return _result(res, ef.num_edges)


def pagerank_csr(
    graph: Graph,
    csr: CsrBlocks | None = None,
    tol: float | None = 1e-6,
    max_iters: int = 200,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    weight_col: str | None = None,
) -> PageRankResult:
    """CSR-block engine path — same kernel, hoshizora-style execution.

    ``weight_col``: edge-weight column (reference ``e_props``); the CSR
    build stores src-normalized real weights so the weighted fixed point
    matches ``pagerank(..., weight_col=...)`` exactly. Ignored when a
    pre-built ``csr`` is passed (its weights are already baked in).
    """
    V = graph.num_vertices
    if V == 0:
        return _empty(graph)
    if csr is None:
        csr = build_csr_blocks(graph, weight_col=weight_col)
    res = run_kernel(
        graph,
        PageRankKernel(V),
        csr,
        tol=tol,
        max_iters=max_iters,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        resume=resume,
    )
    return _result(res, csr.num_edges)


def personalized_pagerank(
    graph: Graph,
    sources: list[int],
    tol: float | None = 1e-6,
    max_iters: int = 200,
) -> PageRankResult:
    """Teleport-set PageRank (``PersonalizedPageRankKernel``) on the
    DataFrame engine — the standard "related files to this seed set" query
    on a dependency graph. Mass leaks at sinks exactly like the base
    semantics (§2.4 #5)."""
    V = graph.num_vertices
    if V == 0 or not sources:
        return _empty(graph)
    # out-of-domain seeds would silently inflate |S| (base = 0.15/|S|)
    # while never receiving teleport mass — every rank biases low
    kernel = PersonalizedPageRankKernel(dense_sources(sources, V, "personalized_pagerank"))
    ef = DfEdges.cache(_weighted_edges(graph), V)
    res = run_kernel(graph, kernel, ef, tol=tol, max_iters=max_iters)
    return _result(res, ef.num_edges)


def personalized_pagerank_csr(
    graph: Graph,
    sources: list[int],
    csr: CsrBlocks | None = None,
    tol: float | None = 1e-6,
    max_iters: int = 200,
) -> PageRankResult:
    """Teleport-set PageRank on the CSR engine — same kernel and fixed
    point as ``personalized_pagerank``. Seed sets larger than
    ``PersonalizedPageRankKernel.MAX_SEEDS`` should use the DataFrame
    path."""
    V = graph.num_vertices
    if V == 0 or not sources:
        return _empty(graph)
    src_set = dense_sources(sources, V, "personalized_pagerank_csr")
    if len(src_set) > PersonalizedPageRankKernel.MAX_SEEDS:
        raise ValueError(
            f"{len(src_set)} seeds would embed as plan literals; use "
            "personalized_pagerank (DataFrame path) for large seed sets"
        )
    if csr is None:
        csr = build_csr_blocks(graph)
    res = run_kernel(
        graph, PersonalizedPageRankKernel(src_set), csr, tol=tol, max_iters=max_iters
    )
    return _result(res, csr.num_edges)


def top_k(ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k vertices by rank, deterministic order (rank desc, vid asc).

    orderBy+limit compiles to TakeOrderedAndProject — a per-partition heap
    followed by a driver merge, no shuffle-everything-to-one-partition
    (which a global Window would do).
    """
    return ranks.orderBy(F.col("rank").desc(), F.col("vid").asc()).limit(k)
