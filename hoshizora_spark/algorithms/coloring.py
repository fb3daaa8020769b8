"""Greedy graph coloring: local-max priorities + smallest-missing-color,
synchronous rounds (Luby-style symmetry breaking, Jones–Plassmann order).

Not shipped by the reference (README.md:67, applications WIP); the
standard distributed scheduling/partition-conflict primitive, and — with
MIS — the second classic symmetry-breaking Pregel workload. Per round
over the undirected simple graph:

  1. uncolored vertices draw priority p = mix(vid, r, seed) (the
     deterministic walks.mix_sql integer mix; ties break by vid)
  2. v wins the round iff (p_v, v) beats every UNCOLORED neighbor's
     (p_u, u) — a vertex-local decision, so many non-adjacent vertices
     win concurrently and the expected round count is O(log V)
  3. each winner takes mex(colors of its already-colored neighbors):
     the smallest c >= 0 not used next door. mex(S) <= |S|, and |S| is
     bounded by the distinct colors used so far (chromatic-number-ish,
     NOT degree), so the candidate array stays tiny even on hubs.

Everything rides ONE carrier fold per round: uncolored neighbors send
(p, vid) structs, colored neighbors send their color, the carrier row
carries v's own priority; one groupBy(vid) takes max(neighbor-priority),
max(own) and collect_set(neighbor-colors) together — the same one-job
superstep shape as every other loop in the engine. Winner test and mex
are row-local expressions on the fold output (array_except over
sequence(0, |S|)). Colors are ints; the result is exactly replayable
(same (graph, seed) -> same coloring) and the DuckDB oracle re-runs
every round.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.algorithms.walks import MAX_SEED, mix_sql
from hoshizora_spark.graph.core import Graph, maybe_broadcast, symmetrize
from hoshizora_spark.runtime.checkpoint import cut_lineage
from hoshizora_spark.runtime.superstep import bsp_loop


@dataclass
class ColoringResult:
    colors: DataFrame  # (vid: long, color: int) over the dense domain
    rounds: int
    converged: bool


def greedy_coloring(
    graph: Graph,
    seed: int = 0,
    degree_order: bool = False,
    max_rounds: int = 200,
) -> ColoringResult:
    """Deterministic proper coloring of the undirected simple graph;
    isolated vertices take color 0 in round 0.

    ``degree_order=True`` is Jones-Plassmann largest-degree-first:
    priority becomes (degree, mix, vid), so hubs resolve early and the
    greedy order approximates Welsh-Powell. Measured on the 1M-vertex
    power-law probe (BENCH.md round 5): **10 colors vs 15** for random
    priorities at a comparable round count (52 vs 50 — degree gradients
    serialize their own chains, so rounds do NOT collapse; the win is
    coloring QUALITY). Costs one static degree join per round (broadcast
    under ``BROADCAST_ROWS``). Both modes are exactly replayable;
    the succession-graph oracle pins the default mode."""
    if not (0 <= seed <= MAX_SEED):
        raise ValueError(f"seed must be in [0, {MAX_SEED}] (overflow-safe mix bound)")
    spark = graph.spark
    V = graph.num_vertices
    sym = symmetrize(graph.edges).persist()
    degv = (
        cut_lineage(
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .withColumnRenamed("src", "vid")
        )
        if degree_order
        else None
    )

    prio_t = "struct<d:bigint,p:bigint,vid:bigint>"

    def init() -> DataFrame:
        return graph.vertices().select("vid", F.lit(-1).cast("int").alias("color"))

    def step(state: DataFrame, it: int) -> DataFrame:
        # two live references to the checkpointed state (colored-color
        # messages + the final update join); the uncolored-priority
        # projection is lineage-cut so it doesn't count as a third
        unc = state.filter(F.col("color") == -1).select(
            "vid", F.expr(mix_sql("vid", it, seed)).alias("p")
        )
        if degv is not None:
            unc = unc.join(maybe_broadcast(degv, V), "vid", "left").select(
                "vid", F.coalesce("d", F.lit(0)).alias("d"), "p"
            )
        else:
            unc = unc.select("vid", F.lit(0).cast("long").alias("d"), "p")
        pri = cut_lineage(unc)
        pri_b = maybe_broadcast(pri.select(F.col("vid").alias("src"), "d", "p"), V)
        colored_b = maybe_broadcast(
            state.filter(F.col("color") >= 0).select(
                F.col("vid").alias("src"), F.col("color").alias("c")
            ),
            V,
        )
        unc_msgs = sym.join(pri_b, "src").select(
            F.col("dst").alias("vid"),
            F.struct("d", "p", F.col("src").alias("vid")).alias("m"),
            F.lit(None).cast(prio_t).alias("own"),
            F.lit(None).cast("int").alias("c"),
        )
        col_msgs = sym.join(colored_b, "src").select(
            F.col("dst").alias("vid"),
            F.lit(None).cast(prio_t).alias("m"),
            F.lit(None).cast(prio_t).alias("own"),
            "c",
        )
        carrier = pri.select(
            "vid",
            F.lit(None).cast(prio_t).alias("m"),
            F.struct("d", "p", "vid").alias("own"),
            F.lit(None).cast("int").alias("c"),
        )
        fold = (
            unc_msgs.unionByName(col_msgs)
            .unionByName(carrier)
            .groupBy("vid")
            .agg(
                F.max("m").alias("nbr"),
                F.max("own").alias("own"),
                F.collect_set("c").alias("used"),
            )
        )
        win = fold.filter(
            F.col("own").isNotNull()
            & (F.col("nbr").isNull() | (F.col("own") > F.col("nbr")))
        ).select(
            "vid",
            # mex(used): smallest int in 0..|used| not already next door
            F.array_min(
                F.array_except(
                    F.sequence(F.lit(0), F.size("used")), F.col("used")
                )
            ).alias("newc"),
        )
        win_b = maybe_broadcast(win, V)
        return state.join(win_b, "vid", "left").select(
            "vid",
            F.when(F.col("color") >= 0, F.col("color"))
            .otherwise(F.coalesce("newc", F.lit(-1)))
            .alias("color"),
        )

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum((F.col("color") == -1).cast("long")),
        done=lambda uncolored: uncolored == 0,
        restore=lambda df: df.select("vid", "color"),
        max_iters=max_rounds,
        metric_kind="changed",
    )
    sym.unpersist()
    return ColoringResult(
        colors=res.state.select("vid", "color"),
        rounds=res.iterations,
        converged=res.converged,
    )
