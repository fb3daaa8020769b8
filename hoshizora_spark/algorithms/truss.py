"""k-truss decomposition via h-index iteration over a fixed triangle table.

Not shipped by the reference (README.md:67, applications WIP); the
standard cohesive-subgraph ladder one level denser than k-core. The
trussness t(e) of an edge is the largest k such that e survives in the
k-truss (the maximal subgraph where every edge closes ≥ k−2 triangles
inside the subgraph); edges in no triangle have t = 2.

Algorithm — the local/asynchronous nucleus-decomposition fixpoint
(Sariyüce et al., "Local algorithms for hierarchical dense subgraph
discovery", VLDB'18), run synchronously:

    t_0(e)   = support(e) + 2
    t_i+1(e) = 2 + H over e's triangles T of (min t_i(other two) − 2)

where H is the h-index. Values decrease monotonically to exactly the
trussness (same convergence argument as the k-core h-index iteration in
kcore.py; verified against a peeling oracle in tests/test_truss.py).
Why this shape at 100 TB: triangle ENUMERATION happens once (the
degree-ordered O(E^1.5) join from triangles.py), then every round is a
fixed join + two hash aggs over the 3·#triangles incidence table —
peeling instead runs a data-dependent number of sequential cascades.

Plan per round (all Catalyst-native, ONE reference to the checkpointed
state — the ≥3-reference Catalyst analysis trap in CLAUDE.md is real):

  1. member rows (one per triangle corner-pair) join state once on the
     canonical (a, b) edge key
  2. groupBy the triangle (x, y, z): array_sort of its three
     (t, a, b) structs; each member's "min of the other two" falls out
     of the sort — s[1].t for the minimum member, s[0].t for the rest
  3. explode back to 3 contribution rows, histogram per edge
     (groupBy(a, b, c).count — a hot edge receives at most
     partitions × distinct-c rows), union a NULL-entry carrier row per
     edge, ONE groupBy(a, b) folds h-index and carries old t: one job
     per round, like every other superstep in the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.algorithms.kcore import _hindex_agg
from hoshizora_spark.algorithms.triangles import triangle_triples
from hoshizora_spark.graph.core import Graph, maybe_broadcast
from hoshizora_spark.runtime.superstep import bsp_loop


@dataclass
class TrussResult:
    trussness: DataFrame  # (a: long, b: long, trussness: long), a < b
    rounds: int
    converged: bool


def k_truss(
    graph: Graph,
    max_rounds: int = 200,
) -> TrussResult:
    """Trussness per canonical undirected simple edge (a < b)."""
    spark = graph.spark

    und = (
        graph.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    tri = triangle_triples(graph)  # (x, y, z), eagerly checkpointed
    # member rows: the triangle key + each corner pair in canonical order
    members = tri.select(
        "x",
        "y",
        "z",
        F.explode(
            F.array(
                F.struct(
                    F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
                ),
                F.struct(
                    F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
                ),
                F.struct(
                    F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
                ),
            )
        ).alias("e"),
    ).select("x", "y", "z", F.col("e.a").alias("a"), F.col("e.b").alias("b"))
    members = members.persist()
    n_members = members.count()  # materialize for the loop; 3 x #triangles
    n_tri_edges = n_members // 3 if n_members else 0

    if n_members == 0:
        # triangle-free graph: every edge has trussness 2
        return TrussResult(
            trussness=und.select("a", "b", F.lit(2).cast("long").alias("trussness")),
            rounds=0,
            converged=True,
        )

    support = members.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))

    def init() -> DataFrame:
        return support.select("a", "b", (F.col("sup") + 2).cast("long").alias("t"))

    entry_type = "struct<c:bigint,cnt:bigint>"

    def step(state: DataFrame, it: int) -> DataFrame:
        st = maybe_broadcast(state.select("a", "b", "t"), n_tri_edges)
        per_tri = (
            members.join(st, ["a", "b"])
            .groupBy("x", "y", "z")
            .agg(F.array_sort(F.collect_list(F.struct("t", "a", "b"))).alias("s"))
        )
        s = F.col("s")
        contrib = per_tri.select(
            F.explode(
                F.array(
                    F.struct(
                        s[0]["a"].alias("a"), s[0]["b"].alias("b"),
                        (s[1]["t"] - 2).alias("c"),
                    ),
                    F.struct(
                        s[1]["a"].alias("a"), s[1]["b"].alias("b"),
                        (s[0]["t"] - 2).alias("c"),
                    ),
                    F.struct(
                        s[2]["a"].alias("a"), s[2]["b"].alias("b"),
                        (s[0]["t"] - 2).alias("c"),
                    ),
                )
            ).alias("e")
        ).select(F.col("e.a").alias("a"), F.col("e.b").alias("b"), F.col("e.c").alias("c"))
        hist = contrib.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("cnt"))
        entries = (
            hist.select(
                "a", "b",
                F.struct("c", "cnt").alias("e"),
                F.lit(None).cast("long").alias("old"),
            )
            .unionByName(
                state.select(
                    "a", "b",
                    F.lit(None).cast(entry_type).alias("e"),
                    F.col("t").alias("old"),
                )
            )
            .groupBy("a", "b")
            .agg(
                F.sort_array(F.collect_list("e"), asc=False).alias("es"),
                F.max("old").alias("old_t"),
            )
        )
        return entries.select(
            "a", "b", (_hindex_agg("es") + 2).cast("long").alias("t"), "old_t"
        )

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum((F.col("t") != F.col("old_t")).cast("long")),
        done=lambda changed: changed == 0,
        restore=lambda df: df.select("a", "b", "t"),
        max_iters=max_rounds,
        metric_kind="changed",
    )
    members.unpersist()
    trussness = (
        und.join(res.state, ["a", "b"], "left")
        .select("a", "b", F.coalesce("t", F.lit(2)).cast("long").alias("trussness"))
    )
    return TrussResult(
        trussness=trussness, rounds=res.iterations, converged=res.converged
    )
