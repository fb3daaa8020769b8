"""Strongly connected components: forward-backward coloring with trim.

Not shipped by the reference (README.md:67, applications WIP); the
canonical directed-graph decomposition for web/link graphs (the Broder
"bowtie" analysis is an SCC computation). Algorithm: the Pregel-style
coloring method (Orzan's coloring SCC / the FW-BW-Trim family used by
multistep SCC systems), expressed as three BSP fixpoints per outer round
— every inner superstep is the same one-job carrier fold as the rest of
the engine:

  outer round over the unassigned subgraph:
    1. TRIM   — one pass: vertices with zero in- or out-degree inside the
       active subgraph are singleton SCCs (scc = vid). Purely
       accelerative; repeated outer rounds trim chains progressively.
    2. COLOR  — forward max-id propagation to fixpoint:
       color(v) = max vid that reaches v. A color class c is non-empty
       only if color(c) = c (a higher vid reaching c would overwrite the
       whole class), so every non-empty class root is its own class
       member, and c is the MAX vid of the SCC it anchors.
    3. MARK   — backward reachability from every class root
       simultaneously, restricted to same-color edges (colors are frozen
       at the forward fixpoint, so the restriction is ONE precomputed
       edge filter, not a per-superstep comparison): marked vertices both
       reach and are reached by their root -> SCC(root). COLOR and MARK
       are one max kernel (``MaxReachKernel``) run by ``run_kernel`` on
       different start states and edge views.
    4. EXTRACT — marked vertices get scc = color; at minimum the globally
       max active vid extracts each round, so the outer loop terminates.

Output contract: scc label = MAX vertex id in the component (the class
root). All per-vertex state is V-row, all message folds are E-row hash
aggs with broadcast/shuffle_hash-hinted state sides; nothing driver-side
grows with the graph (the outer loop collects one scalar per round).
If an inner fixpoint hits ``max_inner`` its colors or marks are partial,
so the result reports ``converged=False``.
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
)
from hoshizora_spark.runtime.checkpoint import cut_lineage
from hoshizora_spark.runtime.gas import DfEdges, VectorKernel, run_kernel


@dataclass
class SccResult:
    labels: DataFrame  # (vid: long, scc: long) — scc = max vid in the SCC
    outer_rounds: int
    converged: bool
    extracted_per_round: list[int] = field(default_factory=list)


class MaxReachKernel(VectorKernel):
    """Max-value propagation to the exact fixpoint from a given start
    frame (the init hook): COLOR starts from (vid, vid) over the core,
    MARK from (vid, color == vid) and runs on reversed same-color edges."""

    combine = "max"
    state_type = "long"

    def __init__(self, start: DataFrame) -> None:
        self.start = start

    def init(self, vertices):
        return self.start

    def scatter_gather(self, src_vals, weights):
        return src_vals

    def apply_expr(self, vid, prev, acc):
        return F.greatest(prev, acc)  # greatest skips a NULL acc


def strongly_connected_components(
    graph: Graph,
    max_outer: int = 64,
    max_inner: int = 256,
) -> SccResult:
    V = graph.num_vertices
    base = graph.edges.select("src", "dst").distinct()
    labels = cut_lineage(
        graph.vertices().select("vid", F.lit(None).cast("long").alias("scc"))
    )
    extracted_per_round: list[int] = []
    converged = False
    inner_converged = True
    outer = 0
    for outer in range(1, max_outer + 1):
        active = labels.filter(F.col("scc").isNull()).select("vid")
        remaining = active.count()
        if remaining == 0:
            converged = True
            break
        act_b = maybe_broadcast(active, remaining, BROADCAST_ROWS)
        edges = (
            base.join(act_b.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(act_b.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        edges, key_type, E = cache_superstep_edges(edges, V)
        if E == 0:
            edges.unpersist()
            # no edges left: every remaining vertex is a singleton SCC
            labels = cut_lineage(
                labels.select("vid", F.coalesce("scc", "vid").alias("scc"))
            )
            extracted_per_round.append(remaining)
            converged = True
            break

        # 1. TRIM (one pass): zero in- or out-degree in the active subgraph
        outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
        indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("id"))
        both = (
            active.join(
                maybe_broadcast(
                    outdeg.select(F.col("src").cast("long").alias("vid")),
                    remaining,
                    BROADCAST_ROWS,
                ),
                "vid",
                "left_semi",
            )
            .join(
                maybe_broadcast(
                    indeg.select(F.col("dst").cast("long").alias("vid")),
                    remaining,
                    BROADCAST_ROWS,
                ),
                "vid",
                "left_semi",
            )
        )
        core = cut_lineage(both)  # active vertices with in>=1 AND out>=1
        n_core = core.count()
        n_trim = remaining - n_core
        if n_core == 0:
            labels = cut_lineage(
                labels.select("vid", F.coalesce("scc", "vid").alias("scc"))
            )
            extracted_per_round.append(remaining)
            edges.unpersist()
            converged = True
            break
        core_b = maybe_broadcast(core, n_core, BROADCAST_ROWS)
        cedges = edges.join(
            core_b.select(F.col("vid").cast(key_type).alias("src")), "src", "left_semi"
        ).join(core_b.select(F.col("vid").cast(key_type).alias("dst")), "dst", "left_semi")

        # 2. COLOR: forward max-id propagation to fixpoint
        cres = run_kernel(
            graph,
            MaxReachKernel(core.select("vid", F.col("vid").alias("val"))),
            DfEdges(cedges.persist(), key_type, n_core, E),
            max_iters=max_inner,
        )
        color = cres.state  # (vid, val=color)

        # 3. MARK: backward OR-propagation from class roots over SAME-COLOR
        #    edges (colors frozen -> one precomputed filter; the inner
        #    color joins also restrict the edges to the core)
        col_b = maybe_broadcast(color, n_core, BROADCAST_ROWS)
        back = (
            edges.join(
                col_b.select(F.col("vid").cast(key_type).alias("src"), F.col("val").alias("cs")),
                "src",
            )
            .join(
                col_b.select(F.col("vid").cast(key_type).alias("dst"), F.col("val").alias("cd")),
                "dst",
            )
            .filter(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        roots = color.select("vid", (F.col("val") == F.col("vid")).cast("long").alias("val"))
        mres = run_kernel(
            graph,
            MaxReachKernel(roots),
            DfEdges(back.persist(), key_type, n_core, E),
            max_iters=max_inner,
        )
        inner_converged = inner_converged and cres.converged and mres.converged

        # 4. EXTRACT: marked vertices join their root's SCC
        found = (
            mres.state.filter(F.col("val") == 1)
            .join(color.withColumnRenamed("val", "c"), "vid")
            .select("vid", F.col("c").alias("new_scc"))
        )
        trimmed = active.join(core, "vid", "left_anti").select(
            "vid", F.col("vid").alias("new_scc")
        )
        upd = maybe_broadcast(
            found.unionByName(trimmed), remaining, BROADCAST_ROWS
        )
        labels = cut_lineage(
            labels.join(upd, "vid", "left").select(
                "vid", F.coalesce("scc", "new_scc").alias("scc")
            )
        )
        n_found = found.count()
        extracted_per_round.append(n_found + n_trim)
        edges.unpersist()
    return SccResult(
        labels=labels,
        outer_rounds=outer,
        converged=converged and inner_converged,
        extracted_per_round=extracted_per_round,
    )
