"""Synchronous label propagation clustering with deterministic tiebreaks.

Generalizes the reference's clustering kernel: per-vertex adopt the
best-scoring neighbor label with a min-id tiebreak
(/root/reference/src/hoshizora/app/clustering_louvain.h:62-75). Here the
score is neighbor-label frequency (classic LPA); ties broken by MIN label,
rounds are synchronous, and a fixed round cap keeps 2-cycles deterministic —
all so output is exactly reproducible across parallelism levels (north_rule
exact-match requirement).

One keyed kernel (``LabelPropKernel``) runs on both engines
(runtime/gas.py ``run_kernel``). Plan per round: one shuffle
(groupBy(dst, label).count) + one partial ordering agg (max_by via struct
max) with the apply folded in. All Catalyst-native on the DataFrame
engine; on CSR blocks the counts come from a per-block numpy fold.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph, symmetrize
from hoshizora_spark.graph.csr import build_csr_blocks
from hoshizora_spark.runtime.checkpoint import CheckpointManager
from hoshizora_spark.runtime.gas import DfEdges, KeyedKernel, run_kernel


@dataclass
class LabelPropResult:
    labels: DataFrame  # (vid: long, label: long)
    rounds: int
    converged: bool
    changed_per_round: list[int] = field(default_factory=list)
    wall_ms_per_round: list[float] = field(default_factory=list)


class LabelPropKernel(KeyedKernel):
    """Keyed GAS form of LPA: state = current label; per-edge key = the
    gathered src label; the fold counts labels per dst and keeps the most
    frequent one, ties → min label: max over (cnt, -label). An isolated
    vertex folds to NULL and keeps its own label."""

    def init_expr(self, vid):
        return vid

    def scatter_key(self, src_vals):
        return src_vals  # identity: the message IS the label

    def entry(self, key, cnt):
        return F.struct(cnt.alias("cnt"), (-key).alias("neg_label"))

    def aggregate(self, entries):
        return F.max(entries)

    def apply_expr(self, vid, prev, acc):
        return F.coalesce(-acc["neg_label"], prev)


def _lpa(graph, edges, max_rounds, **kw) -> LabelPropResult:
    res = run_kernel(graph, LabelPropKernel(), edges, max_iters=max_rounds, **kw)
    return LabelPropResult(
        labels=res.state.select("vid", F.col("val").alias("label")),
        rounds=res.iterations,
        converged=res.converged,
        changed_per_round=res.stats,
        wall_ms_per_round=res.wall_ms,
    )


def label_propagation(
    graph: Graph,
    max_rounds: int = 20,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> LabelPropResult:
    edges = DfEdges.cache(symmetrize(graph.edges), graph.num_vertices)
    return _lpa(graph, edges, max_rounds, checkpoint=checkpoint, resume=resume)


def label_propagation_csr(
    graph: Graph,
    max_rounds: int = 20,
) -> LabelPropResult:
    """CSR-block engine: same kernel, bit-identical labels. Hot-vertex
    fan-in is bounded at num_blocks × distinct labels per dst."""
    sym_graph = Graph(edges=symmetrize(graph.edges), num_vertices=graph.num_vertices)
    return _lpa(graph, build_csr_blocks(sym_graph), max_rounds)
