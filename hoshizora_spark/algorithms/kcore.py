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
    cache_superstep_edges,
    maybe_broadcast,
    sized_partitions,
    symmetrize,
)


def _hindex_agg(es) -> Column:
    """H-index over a (c desc, cnt)-sorted entry list: the max k with
    ≥ k entries of value ≥ k — cum += cnt; best = max(best, min(c, cum)).
    One O(distinct values) array fold, shared verbatim by the DF and CSR
    paths so their h values are identical by construction."""
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
    wall_ms_per_round: list[float] | None = None
    changed_per_round: list[int] | None = None


def k_core(graph: Graph, max_rounds: int = 10_000) -> KCoreResult:
    spark = graph.spark
    sym = symmetrize(graph.edges)  # simple undirected: dedup + no loops
    n_part = sized_partitions(spark, sym.count())
    edges = sym.repartition(n_part, "src").localCheckpoint(eager=True)

    # isolated / not-yet-peeled vertices end with coreness 0 by default
    result = graph.vertices().select("vid", F.lit(0).cast("long").alias("coreness"))
    result = result.localCheckpoint(eager=True)

    k = 1
    rounds = 0
    while rounds < max_rounds:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.count()
        if alive == 0:
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
        peel_b = maybe_broadcast(peel, n_peel, 200_000)
        edges = (
            edges.join(peel_b.withColumnRenamed("src", "p"), edges.src == F.col("p"), "left_anti")
        )
        peel_dst_b = maybe_broadcast(peel.withColumnRenamed("src", "p"), n_peel, 200_000)
        edges = edges.join(peel_dst_b, edges.dst == F.col("p"), "left_anti")
        edges = edges.localCheckpoint(eager=True)
    return KCoreResult(coreness=result, max_core=k - 1, rounds=rounds)


def k_core_hindex(
    graph: Graph, max_rounds: int = 200, broadcast_vertices: int = 200_000
) -> KCoreResult:
    """Coreness via synchronous h-index iteration — the at-scale path.

    h(v) starts at degree(v); each round h(v) := H-index of its neighbors'
    current h values (max k such that ≥ k neighbors have h ≥ k). The
    fixpoint is exactly the coreness (Lü et al., Nat. Commun. 2016), and
    values decrease monotonically, so rounds scale with how fast the
    h-operator contracts (diameter-ish) — NOT with max coreness + cascade
    count like peeling. On a 100 TB graph that is tens of rounds of one
    shuffle each instead of thousands of sequential peel jobs.

    Plan per round (all Catalyst-native):
      1. neighbor values: sym-edges ⋈ state(src). Deliberately NOT also
         joined against state(dst) to clip values (a semantically-free
         optimization): a third reference to the checkpointed state in one
         plan makes Catalyst analysis time grow ~2.6× PER ROUND (measured:
         flat 0.8 s/round without it, 110 s/round by round 21 with it —
         see CLAUDE.md gotcha). Two references (the message join + the
         apply join) are safe.
      2. groupBy(vid, c).count — partial+final hash agg, so a hot vertex
         receives at most (num_partitions × distinct neighbor h values)
         rows; distinct h values are bounded by the global distinct-degree
         count (O(√E) on power-law graphs), not by degree.
      3. per-vid fold over the histogram entries sorted by c desc:
         cum += cnt; h_new = max(min(c, cum)) — an O(distinct values)
         array aggregate, never an O(degree) window.
    """
    spark = graph.spark
    V = graph.num_vertices
    sym = symmetrize(graph.edges)
    E = sym.count()
    # int-compacted + src-sorted per-round scan (see cache_superstep_edges)
    sym, key_type = cache_superstep_edges(spark, sym, V, E)

    deg = sym.groupBy(F.col("src").cast("long").alias("vid")).agg(
        F.count(F.lit(1)).alias("h")
    )

    def init() -> DataFrame:
        return graph.vertices().join(deg, "vid", "left").select(
            "vid", F.coalesce("h", F.lit(0)).cast("long").alias("h")
        )

    def step(state: DataFrame, it: int) -> DataFrame:
        st_src = maybe_broadcast(
            state.select(F.col("vid").cast(key_type).alias("src"), F.col("h").alias("hs")),
            V, broadcast_vertices,
        )
        nbr = sym.join(st_src, "src").select(
            F.col("dst").cast("long").alias("vid"), F.col("hs").alias("c")
        )
        hist = nbr.groupBy("vid", "c").agg(F.count(F.lit(1)).alias("cnt"))
        # fold the apply join INTO the histogram collapse: histogram rows
        # union a NULL-entry carrier row per vertex (collect_list skips
        # NULLs, so the carrier adds no histogram entry), and ONE
        # groupBy(vid) yields both the sorted entry list and old h. This
        # removes the apply join AND the state's second plan reference
        # (the lineage-stats trap class in CLAUDE.md), one fewer driver
        # job per round. Degree-0 vertices: empty entry list -> fold
        # yields 0 == their h at init and forever (same as the old
        # left-join-miss coalesce).
        entries = (
            hist.select("vid", F.struct("c", "cnt").alias("e"), F.lit(None).cast("long").alias("old"))
            .unionByName(
                state.select(
                    "vid",
                    F.lit(None).cast("struct<c:bigint,cnt:bigint>").alias("e"),
                    F.col("h").alias("old"),
                )
            )
            .groupBy("vid")
            .agg(
                F.sort_array(F.collect_list("e"), asc=False).alias("es"),
                F.max("old").alias("old_h"),
            )
        )
        return entries.select("vid", _hindex_agg("es").alias("h"), "old_h")

    from hoshizora_spark.runtime.superstep import bsp_loop

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum((F.col("h") != F.col("old_h")).cast("long")),
        done=lambda changed: changed == 0,
        restore=lambda df: df.select("vid", "h"),
        max_iters=max_rounds,
        edges_per_iter=E,
        metric_kind="changed",
    )
    sym.unpersist()
    coreness = res.state.select("vid", F.col("h").cast("long").alias("coreness"))
    mx = coreness.agg(F.max("coreness")).first()[0]
    return KCoreResult(
        coreness=coreness,
        max_core=int(mx or 0),
        rounds=res.iterations,
        wall_ms_per_round=res.wall_ms,
        changed_per_round=[int(c) for c in res.stats],
    )


class HIndexKernel:
    """Keyed GAS form of the h-index superstep (runtime/gas.py
    KeyedVectorKernel): state = current h (long); per-edge key = the
    gathered src h; the fold counts h values per dst — exactly the
    (dst, c) histogram the DF path builds with groupBy(vid, c)."""

    state_type = "long"

    def init_expr(self, vid):  # unused: h0 = degree, joined in init()
        return F.lit(0)

    def scatter_key(self, src_vals):
        return src_vals  # identity: the message IS the h value


def k_core_hindex_csr(graph: Graph, max_rounds: int = 200) -> KCoreResult:
    """Coreness via h-index iteration on the CSR fast path — h values
    identical to ``k_core_hindex``, round-for-round.

    The symmetrized simple graph is built into CSR blocks once; each round
    runs the keyed gather-scatter (per-block (dst, h) run-length counts
    through Arrow) + a (dst, h) hash agg, then the SAME ``_hindex_agg``
    fold with the apply folded in (NULL-entry carrier row per vertex
    carries old h + block ownership; collect_list skips NULLs, so
    degree-0 vertices fold to 0 == their init h). One Spark job per round;
    a hot vertex's fan-in is bounded at num_blocks × distinct h values —
    O(√E) on power-law graphs — the same built-in skew bound as the other
    CSR folds."""
    from hoshizora_spark.graph.csr import build_csr_blocks
    from hoshizora_spark.runtime.gas import gas_keyed_counts
    from hoshizora_spark.runtime.superstep import bsp_loop

    spark = graph.spark
    V = graph.num_vertices
    sym_graph = Graph(edges=symmetrize(graph.edges), num_vertices=V)
    csr = build_csr_blocks(sym_graph)
    kernel = HIndexKernel()

    deg = sym_graph.edges.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("h")
    )

    def init() -> DataFrame:
        return graph.vertices().join(deg, "vid", "left").select(
            "vid",
            F.coalesce("h", F.lit(0)).cast("long").alias("val"),
            csr.block_id_of(F.col("vid")).alias("block_id"),
        )

    def step(state: DataFrame, it: int) -> DataFrame:
        hist = gas_keyed_counts(csr, state, kernel)  # (dst, key=c, cnt)
        entries = hist.select(
            F.col("dst").alias("vid"),
            F.struct(F.col("key").alias("c"), F.col("cnt")).alias("e"),
            F.lit(None).cast("long").alias("old"),
            F.lit(None).cast("int").alias("bid"),
        )
        carrier = state.select(
            "vid",
            F.lit(None).cast("struct<c:bigint,cnt:bigint>").alias("e"),
            F.col("val").alias("old"),
            F.col("block_id").alias("bid"),
        )
        agg = entries.unionByName(carrier).groupBy("vid").agg(
            F.sort_array(F.collect_list("e"), asc=False).alias("es"),
            F.max("old").alias("old_val"),
            F.max("bid").alias("block_id"),
        )
        return agg.select(
            "vid", "block_id", _hindex_agg("es").alias("val"), "old_val"
        )

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum((F.col("val") != F.col("old_val")).cast("long")),
        done=lambda changed: changed == 0,
        restore=lambda df: df.select("vid", "val", "block_id"),
        max_iters=max_rounds,
        edges_per_iter=csr.num_edges,
        metric_kind="changed",
    )
    coreness = res.state.select("vid", F.col("val").cast("long").alias("coreness"))
    mx = coreness.agg(F.max("coreness")).first()[0]
    return KCoreResult(
        coreness=coreness,
        max_core=int(mx or 0),
        rounds=res.iterations,
        wall_ms_per_round=res.wall_ms,
        changed_per_round=[int(c) for c in res.stats],
    )
