"""Synchronous label propagation clustering with deterministic tiebreaks.

Generalizes the reference's clustering kernel: per-vertex adopt the
best-scoring neighbor label with a min-id tiebreak
(/root/reference/src/hoshizora/app/clustering_louvain.h:62-75). Here the
score is neighbor-label frequency (classic LPA); ties broken by MIN label,
rounds are synchronous, and a fixed round cap keeps 2-cycles deterministic —
all so output is exactly reproducible across parallelism levels (north_rule
exact-match requirement).

Plan per round: one shuffle (groupBy(dst, label).count) + one partial
ordering agg (max_by via struct max) + a left join. All Catalyst-native.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import (
    Graph,
    cache_superstep_edges,
    maybe_broadcast,
    symmetrize,
)
from hoshizora_spark.runtime.checkpoint import CheckpointManager
from hoshizora_spark.runtime.superstep import bsp_loop


@dataclass
class LabelPropResult:
    labels: DataFrame  # (vid: long, label: long)
    rounds: int
    converged: bool
    changed_per_round: list[int] = field(default_factory=list)
    wall_ms_per_round: list[float] = field(default_factory=list)


def label_propagation(
    graph: Graph,
    max_rounds: int = 20,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    broadcast_vertices: int = 200_000,
) -> LabelPropResult:
    spark = graph.spark
    V = graph.num_vertices
    sym = symmetrize(graph.edges)
    # int-compacted + src-sorted per-superstep scan (see cache_superstep_edges)
    sym, key_type = cache_superstep_edges(spark, sym, V, sym.count())

    def step(labels: DataFrame, it: int) -> DataFrame:
        # count neighbor labels arriving at each dst
        lbl_src = maybe_broadcast(
            labels.select(F.col("vid").cast(key_type).alias("src"), "label"),
            V,
            broadcast_vertices,
        )
        freq = sym.join(lbl_src, "src").groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # most frequent label, ties -> min label: max over (cnt, -label) —
        # with the apply join folded in: frequency rows union a NULL-top
        # carrier row per vertex (max skips NULLs, so an isolated vertex
        # folds to NULL top -> keeps its own label), ONE groupBy(vid)
        # yields both the argmax and the old label. One fewer driver job +
        # join per round (BENCH.md f attack).
        cand = freq.select(
            F.col("dst").cast("long").alias("vid"),  # back to the domain type
            F.struct(F.col("cnt"), (-F.col("label")).alias("neg_label")).alias("top"),
            F.lit(None).cast("long").alias("old"),
        )
        carrier = labels.select(
            "vid",
            F.lit(None).cast("struct<cnt:bigint,neg_label:bigint>").alias("top"),
            F.col("label").alias("old"),
        )
        agg = cand.unionByName(carrier).groupBy("vid").agg(
            F.max("top").alias("top"), F.max("old").alias("old_label")
        )
        return agg.select(
            "vid",
            F.coalesce(-F.col("top.neg_label"), F.col("old_label")).alias("label"),
            "old_label",
        )

    res = bsp_loop(
        spark,
        init=lambda: graph.vertices().withColumn("label", F.col("vid")),
        step=step,
        stat_expr=F.sum((F.col("label") != F.col("old_label")).cast("long")),
        done=lambda changed: changed == 0,
        restore=lambda df: df.select("vid", "label"),
        max_iters=max_rounds,
        checkpoint=checkpoint,
        resume=resume,
        metric_kind="changed",
    )
    sym.unpersist()
    return LabelPropResult(
        labels=res.state,
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=[int(c) for c in res.stats],
        wall_ms_per_round=res.wall_ms,
    )


class LabelPropKernel:
    """Keyed GAS form of the LPA superstep (runtime/gas.py KeyedVectorKernel):
    state = current label (long); per-edge key = the gathered src label;
    the fold counts labels per dst — the pair-typed accumulator the
    reference reaches with composite kernel state (clustering_louvain.h:62-75)."""

    state_type = "long"

    def init_expr(self, vid):
        return vid

    def scatter_key(self, src_vals):
        return src_vals  # identity: the message IS the label


def label_propagation_csr(
    graph: Graph,
    max_rounds: int = 20,
) -> LabelPropResult:
    """CSR-block path for LPA — bit-identical labels to the DF path.

    The symmetrized simple graph is built into CSR blocks once; each round
    runs the keyed gather-scatter (per-block (dst, label) run-length
    counts through Arrow) + a (dst, label) hash agg + the same
    (cnt desc, label asc) argmax as the DF path. Hot-vertex fan-in is
    bounded at num_blocks × distinct labels per dst.
    """
    from hoshizora_spark.graph.csr import build_csr_blocks
    from hoshizora_spark.runtime.gas import gas_keyed_counts, init_state

    spark = graph.spark
    V = graph.num_vertices
    sym_graph = Graph(edges=symmetrize(graph.edges), num_vertices=V)
    csr = build_csr_blocks(sym_graph)
    kernel = LabelPropKernel()

    def step(state: DataFrame, it: int) -> DataFrame:
        # same union-agg fold as the DF path: the (cnt desc, label asc)
        # argmax, old label, and block ownership all come out of ONE
        # groupBy(vid) — no broadcast-collect job, no apply join.
        freq = gas_keyed_counts(csr, state, kernel)
        cand = freq.select(
            F.col("dst").alias("vid"),
            F.struct(F.col("cnt"), (-F.col("key")).alias("neg_label")).alias("top"),
            F.lit(None).cast("long").alias("old"),
            F.lit(None).cast("int").alias("bid"),
        )
        carrier = state.select(
            "vid",
            F.lit(None).cast("struct<cnt:bigint,neg_label:bigint>").alias("top"),
            F.col("val").alias("old"),
            F.col("block_id").alias("bid"),
        )
        agg = cand.unionByName(carrier).groupBy("vid").agg(
            F.max("top").alias("top"),
            F.max("old").alias("old_val"),
            F.max("bid").alias("block_id"),
        )
        return agg.select(
            "vid",
            "block_id",
            F.coalesce(-F.col("top.neg_label"), F.col("old_val")).alias("val"),
            "old_val",
        )

    res = bsp_loop(
        spark,
        init=lambda: init_state(spark, csr, kernel),
        step=step,
        stat_expr=F.sum((F.col("val") != F.col("old_val")).cast("long")),
        done=lambda changed: changed == 0,
        restore=lambda df: df.select("vid", "val", "block_id"),
        max_iters=max_rounds,
        edges_per_iter=csr.num_edges,
        metric_kind="changed",
    )
    return LabelPropResult(
        labels=res.state.select("vid", F.col("val").alias("label")),
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=[int(c) for c in res.stats],
        wall_ms_per_round=res.wall_ms,
    )
