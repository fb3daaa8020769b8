"""Connected components via min-label propagation + pointer jumping.

The two ingredients exist in the reference: min-id label selection
(/root/reference/src/hoshizora/app/clustering_louvain.h:70) and
pointer-jumping label smoothing ``label[i] = label[label[i]]``
(/root/reference/src/hoshizora/app/apps.h:100-110). Output contract:
component label = min vertex id in the component (exact match).

Per round (SURVEY.md §2.3 A2):
  1. propagate: label'[v] = min(label[v], min over undirected neighbors' labels)
     — one shuffle (groupBy(dst).min) over the symmetrized edge set
  2. pointer-jump: label''[v] = label'[label'[v]] — one self-join;
     halves the remaining path length, so rounds ≈ O(log diameter)
  3. converge when no label changed (scalar action)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import (
    BROADCAST_ROWS,
    Graph,
    cache_superstep_edges,
    maybe_broadcast,
    symmetrize,
)
from hoshizora_spark.graph.csr import build_csr_blocks
from hoshizora_spark.runtime.checkpoint import CheckpointManager
from hoshizora_spark.runtime.gas import VectorKernel, run_kernel
from hoshizora_spark.runtime.superstep import bsp_loop


@dataclass
class ComponentsResult:
    labels: DataFrame  # (vid: long, label: long)
    rounds: int
    converged: bool
    changed_per_round: list[int] = field(default_factory=list)
    wall_ms_per_round: list[float] = field(default_factory=list)


def connected_components(
    graph: Graph,
    max_rounds: int = 50,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> ComponentsResult:
    spark = graph.spark
    V = graph.num_vertices
    sym = symmetrize(graph.edges)
    # int-compacted + src-sorted per-superstep scan (see cache_superstep_edges)
    sym, key_type = cache_superstep_edges(spark, sym, V, sym.count())

    def step(labels: DataFrame, it: int) -> DataFrame:
        # 1. min neighbor label flowing along every (undirected) edge into
        #    dst, folded WITH the apply: per-edge label messages union a
        #    carrier row per vertex whose m is the vertex's OWN label — one
        #    groupBy(vid).min() is then exactly least(own, min_neighbors),
        #    covering isolated vertices and replacing the old
        #    { agg + broadcast-collect job + left join } (one fewer driver
        #    job per superstep; BENCH.md f attack).
        lbl_src = maybe_broadcast(
            labels.select(F.col("vid").cast(key_type).alias("src"), "label"),
            V,
            BROADCAST_ROWS,
        )
        msgs = sym.join(lbl_src, "src").select(
            F.col("dst").cast("long").alias("vid"),  # back to the domain type
            F.col("label").alias("m"),
            F.lit(None).cast("long").alias("old"),
        )
        carrier = labels.select(
            "vid", F.col("label").alias("m"), F.col("label").alias("old")
        )
        prop = msgs.unionByName(carrier).groupBy("vid").agg(
            F.min("m").alias("plabel"), F.max("old").alias("old_label")
        )
        # 2. pointer jumping: label[v] <- label[label[v]]  (apps.h:100-110)
        hop = maybe_broadcast(
            prop.select(F.col("vid").alias("jvid"), F.col("plabel").alias("jlabel")),
            V,
            BROADCAST_ROWS,
        )
        return prop.join(hop, prop.plabel == hop.jvid, "left").select(
            "vid",
            F.coalesce(F.col("jlabel"), F.col("plabel")).alias("label"),
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
    return ComponentsResult(
        labels=res.state,
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=[int(c) for c in res.stats],
        wall_ms_per_round=res.wall_ms,
    )


class MinLabelKernel(VectorKernel):
    """GAS form of min-label propagation (runtime/gas.py, combine='min').

    Labels ride as float64 — exact for vertex ids < 2^53, far above the
    10^12-file domain. Pointer jumping is not a per-edge message, so this
    kernel runs plain propagation: O(diameter) rounds instead of
    O(log d) — use ``connected_components`` when diameter is large.
    """

    combine = "min"

    def init_expr(self, vid):
        return vid.cast("double")

    def scatter_gather(self, src_vals, weights):
        return src_vals  # the label itself; weights unused

    def apply_expr(self, vid, prev, acc):
        return F.least(prev, F.coalesce(acc, prev))


def connected_components_csr(
    graph: Graph,
    max_rounds: int = 100,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> ComponentsResult:
    """CSR-block engine running ``MinLabelKernel``: same labels."""
    sym_graph = Graph(edges=symmetrize(graph.edges), num_vertices=graph.num_vertices)
    res = run_kernel(
        graph,
        MinLabelKernel(),
        build_csr_blocks(sym_graph),
        max_iters=max_rounds,
        checkpoint=checkpoint,
        resume=resume,
    )
    return ComponentsResult(
        labels=res.state.select("vid", F.col("val").cast("long").alias("label")),
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=res.stats,
        wall_ms_per_round=res.wall_ms,
    )
