"""Minimum spanning forest: synchronous Borůvka over contracting
component graphs.

Not shipped by the reference (README.md:67, applications WIP); the
classic Pregel/GraphX workload (Borůvka 1926; the distributed hook +
pointer-jump formulation). Total order is (w, a, b) — lexicographic on
weight then canonical endpoint ids — so the forest is UNIQUE regardless
of weight ties and the engine's Borůvka must equal the oracle's Kruskal
edge-for-edge (a genuine cross-algorithm check; tests/test_msf.py).

Round over the live component multigraph (edges whose endpoints are in
different components):

  1. every component selects its minimum incident (w, a, b, other-comp)
     — one union + one min-struct aggregate, no Window
  2. hook: parent(c) = other-comp of the selected edge. Under a total
     order every cycle of the hook map is a mutual 2-cycle; the smaller
     id of each pair becomes its own root
  3. pointer-jump parent = parent(parent) to the root (the hook table is
     component-sized and halves every round; ``pointer_jump`` runs
     log2(chain length) hops, one job each)
  4. relabel: vertices map comp -> root (one broadcast/shuffle-hash
     join), live edges re-endpoint and drop intra-component rows — the
     live table CONTRACTS geometrically, so round r processes only the
     surviving cross-edges, and selected edges keep their ORIGINAL
     (a, b) ids for the output

Rounds are O(log V); each is a fixed number of joins/aggregates over a
shrinking frame, every intermediate lineage-cut (CLAUDE.md: stats-clean
cuts keep per-round Catalyst analysis flat). At 10^12-edge scale the
dominant cost is round 1's min-aggregate over E rows — a single
map-side-combinable shuffle keyed by component.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph, maybe_broadcast
from hoshizora_spark.runtime.checkpoint import cut_lineage
from hoshizora_spark.runtime.jump import pointer_jump


@dataclass
class MsfResult:
    edges: DataFrame  # (a: long, b: long, w: double) — the forest, a < b
    components: DataFrame  # (vid: long, comp: long) — root labels
    rounds: int
    converged: bool


def minimum_spanning_forest(
    graph: Graph,
    weight_col: str | None = None,
    max_rounds: int = 64,
) -> MsfResult:
    """Borůvka MSF of the undirected simple view of ``graph``. Parallel
    / reverse duplicate edges collapse to their minimum weight;
    ``weight_col=None`` means unit weights (the forest is then a
    deterministic spanning forest under the (1, a, b) order)."""
    spark = graph.spark
    V = graph.num_vertices
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    und = (
        graph.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    live = cut_lineage(
        und.select(F.col("a").alias("ca"), F.col("b").alias("cb"), "w", "a", "b")
    )
    comp = cut_lineage(graph.vertices().select("vid", F.col("vid").alias("c")))
    picked: list[DataFrame] = []
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        if live.limit(1).count() == 0:
            converged = True
            break
        rounds += 1
        cand = live.select(
            F.col("ca").alias("cu"),
            F.struct("w", "a", "b", F.col("cb").alias("cv")).alias("k"),
        ).unionByName(
            live.select(
                F.col("cb").alias("cu"),
                F.struct("w", "a", "b", F.col("ca").alias("cv")).alias("k"),
            )
        )
        sel = cut_lineage(cand.groupBy("cu").agg(F.min("k").alias("k")))
        picked.append(sel.select(F.col("k.a").alias("a"), F.col("k.b").alias("b"), F.col("k.w").alias("w")))
        # hook; under the total order every hook cycle is a mutual pair —
        # the smaller id roots itself
        partner = sel.select(F.col("cu").alias("pcu"), F.col("k.cv").alias("pcv"))
        par = cut_lineage(
            sel.select("cu", F.col("k.cv").alias("p"))
            .join(partner, F.col("p") == F.col("pcu"), "left")
            .select(
                "cu",
                F.when(
                    (F.col("pcv") == F.col("cu")) & (F.col("cu") < F.col("p")),
                    F.col("cu"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
        )
        par = pointer_jump(par, "cu", "p", V)
        root = maybe_broadcast(
            par.select(F.col("cu").alias("rc"), F.col("p").alias("rp")), V
        )
        comp = cut_lineage(
            comp.join(root, F.col("c") == F.col("rc"), "left").select(
                "vid", F.coalesce("rp", "c").alias("c")
            )
        )
        live = cut_lineage(
            live.join(root, F.col("ca") == F.col("rc"), "left")
            .select(
                F.coalesce("rp", "ca").alias("ca"), "cb", "w", "a", "b"
            )
            .join(root, F.col("cb") == F.col("rc"), "left")
            .select(
                "ca", F.coalesce("rp", "cb").alias("cb"), "w", "a", "b"
            )
            .filter(F.col("ca") != F.col("cb"))
        )
    if picked:
        forest = picked[0]
        for p in picked[1:]:
            forest = forest.unionByName(p)
        forest = forest.distinct()
    else:
        forest = und.select("a", "b", "w").limit(0)
    return MsfResult(
        edges=forest,
        components=comp.select("vid", F.col("c").alias("comp")),
        rounds=rounds,
        converged=converged,
    )
