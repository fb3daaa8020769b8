"""Maximal independent set: synchronous Luby rounds with seeded-mix
priorities.

Not shipped by the reference (README.md:67, applications WIP); the
classic symmetry-breaking primitive (Luby, SIAM J. Comput. 1986) behind
distributed coloring/scheduling, and a textbook Pregel workload. The
sandbox mandate is reproducibility, so per-round priorities come from
the deterministic integer mix shared with the walk sampler
(walks.mix_sql) instead of an RNG — the same (graph, seed) always
returns the same MIS, and the DuckDB oracle replays every round.

Round r over the undirected simple graph:

  1. active vertices draw priority p = mix(vid, r, seed); ties (mix
     collisions) break by vid, so (p, vid) is a strict total order
  2. v joins the MIS iff (p_v, v) beats every ACTIVE neighbor's (p_u, u)
     — computed as one carrier-fold: neighbor messages union a carrier
     row with v's own priority, one groupBy(vid) takes both maxes
     (receivers without a carrier row are inactive and drop out free)
  3. active neighbors of new members become removed
  4. stop when no vertex is active (expected O(log V) rounds)

State is (vid, st) with 0 = active, 1 = in MIS, 2 = removed. The round
touches the checkpointed state 3 ways (priority projection, removal
filter, status update), so the priority projection is lineage-cut first
(CLAUDE.md: a third reference compounds Catalyst analysis geometrically;
two are safe). Messages fold E-row -> V-row with the same
broadcast/shuffle-hash-hinted one-exchange shape as every other
superstep in the engine.
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
class MisResult:
    members: DataFrame  # (vid: long, in_mis: int) over the dense domain
    rounds: int
    converged: bool


def maximal_independent_set(
    graph: Graph,
    seed: int = 0,
    max_rounds: int = 100,
) -> MisResult:
    if not (0 <= seed <= MAX_SEED):
        raise ValueError(f"seed must be in [0, {MAX_SEED}] (overflow-safe mix bound)")
    spark = graph.spark
    V = graph.num_vertices
    sym = (
        symmetrize(graph.edges)
        .filter(F.col("src") != F.col("dst"))
        .persist()
    )

    def init() -> DataFrame:
        return graph.vertices().select("vid", F.lit(0).alias("st"))

    def step(state: DataFrame, it: int) -> DataFrame:
        pri = cut_lineage(
            state.filter(F.col("st") == 0).select(
                "vid", F.expr(mix_sql("vid", it, seed)).alias("p")
            )
        )
        pri_b = maybe_broadcast(pri.select(F.col("vid").alias("src"), "p"), V)
        msgs = sym.join(pri_b, "src").select(
            F.col("dst").alias("vid"),
            F.struct("p", F.col("src").alias("vid")).alias("m"),
            F.lit(None).cast("struct<p:bigint,vid:bigint>").alias("own"),
        )
        carrier = pri.select(
            "vid",
            F.lit(None).cast("struct<p:bigint,vid:bigint>").alias("m"),
            F.struct("p", "vid").alias("own"),
        )
        fold = (
            msgs.unionByName(carrier)
            .groupBy("vid")
            .agg(F.max("m").alias("nbr"), F.max("own").alias("own"))
        )
        mis = cut_lineage(
            fold.filter(
                F.col("own").isNotNull()
                & (F.col("nbr").isNull() | (F.col("own") > F.col("nbr")))
            ).select("vid")
        )
        mis_b = maybe_broadcast(mis.select(F.col("vid").alias("src")), V)
        rem = sym.join(mis_b, "src").select(F.col("dst").alias("vid")).distinct()
        upd = (
            mis.select("vid", F.lit(1).alias("u"))
            .unionByName(rem.select("vid", F.lit(2).alias("u")))
            .groupBy("vid")
            .agg(F.min("u").alias("u"))  # MIS and removed never collide; min is belt+braces
        )
        upd_b = maybe_broadcast(upd, V)
        return state.join(upd_b, "vid", "left").select(
            "vid",
            F.when(F.col("st") != 0, F.col("st"))
            .otherwise(F.coalesce("u", F.lit(0)))
            .alias("st"),
        )

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum((F.col("st") == 0).cast("long")),
        done=lambda active: active == 0,
        restore=lambda df: df.select("vid", "st"),
        max_iters=max_rounds,
        metric_kind="changed",
    )
    sym.unpersist()
    members = res.state.select(
        "vid", (F.col("st") == 1).cast("int").alias("in_mis")
    )
    return MisResult(members=members, rounds=res.iterations, converged=res.converged)
