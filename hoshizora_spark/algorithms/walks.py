"""Deterministic random-walk corpus generation (DeepWalk-style sampling).

Not shipped by the reference (README.md:67, applications WIP); the
standard graph -> training-sequences bridge (DeepWalk/node2vec corpus:
walks become "sentences" for embedding training). The sandbox mandate is
reproducibility, so the sampler is a seeded integer mix, not an RNG —
the same (graph, seed) always emits the same corpus, and the whole walk
is expressible in ANSI SQL (the DuckDB oracle replays it exactly).

Plan shape (scale-first):

  1. Index each vertex's out-edges 0..deg-1 with a PARTITIONED window
     (row_number over src, ordered by dst) — per-source work, never a
     global sort. Duplicate (src, dst) multi-edges keep their
     multiplicity, so sampling is edge-frequency-proportional, and the
     idx -> dst mapping is deterministic even under tie reordering
     (equal dsts are interchangeable). The indexed table is persisted
     for the loop (built once; on a cluster you'd bucket it by
     (src, idx) so every step's probe join is co-located).
  2. Walkers: ``walks_per_vertex`` rows per start vertex,
     walk_id = vid * walks_per_vertex + k.
  3. Each step: join state to the degree table on cur (V-row build side,
     broadcast below the threshold), pick
     idx = mix(walk_id, step, seed) mod deg, then join indexed edges on
     BOTH (cur, idx) — the composite key spreads a hub's walkers across
     its whole degree range, so the E-row join cannot skew on hubs.
     Walkers at a dead end (no out-edges) terminate; directed DeepWalk
     convention.
  4. Lineage is cut every step (the state re-plans from a flat RDD), so
     step plans don't compound.

The mix is overflow-safe int64 arithmetic identical in BOTH engines
(Spark runs ANSI mode — a silent-wrap hash would throw):

  x   = (walk_id mod 2147483647 + 1) * 2654435761
        + (step + seed * 10007 + 1) * 2246822519
  h   = x XOR (x >> 33)
  idx = h mod deg

with the documented bounds seed <= 10_000 and walk_length <= 1_000
keeping x < 2^63 (max ~5.7e18 + 2.3e17). Knuth/xxhash-style
multiply-xor-shift — decorrelates consecutive steps well enough for
corpus sampling; it is NOT a cryptographic or statistical-quality RNG.
Only the XOR spelling differs per dialect (Spark ``a ^ b`` vs DuckDB
``xor(a, b)`` — DuckDB's ``^`` is exponentiation), so the formula is
emitted by one generator, ``walk_pick_sql(dialect=...)``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph, maybe_broadcast
from hoshizora_spark.runtime.checkpoint import cut_lineage

MAX_SEED = 10_000
MAX_WALK_LENGTH = 1_000


def mix_sql(entity: str, step: int, seed: int, dialect: str = "spark") -> str:
    """The multiply-xor-shift mix as SQL over an integer column
    ``entity`` — the same integer ops in both dialects (only the XOR
    spelling differs). Non-negative, < 2^63; shared by the walk sampler
    here and the Luby MIS priorities (mis.py)."""
    x = (
        f"((({entity}) % 2147483647 + 1) * 2654435761"
        f" + ({step} + {seed} * 10007 + 1) * 2246822519)"
    )
    if dialect == "spark":
        return f"(({x}) ^ (shiftright({x}, 33)))"
    if dialect == "duckdb":
        return f"xor(({x}), (({x}) >> 33))"
    raise ValueError(f"unknown dialect {dialect!r}")


def walk_pick_sql(
    step: int,
    seed: int,
    walk_id: str = "walk_id",
    deg: str = "deg",
    dialect: str = "spark",
) -> str:
    """The sampler as SQL over columns ``walk_id`` and ``deg``."""
    h = mix_sql(walk_id, step, seed, dialect)
    if dialect == "spark":
        return f"pmod({h}, ({deg}))"
    return f"({h} % ({deg}))"


@dataclass
class WalkResult:
    corpus: DataFrame  # (walk_id: long, step: int, vid: long)
    walk_length: int
    walks_per_vertex: int
    seed: int


def random_walks(
    graph: Graph,
    walk_length: int = 8,
    walks_per_vertex: int = 2,
    seed: int = 0,
) -> WalkResult:
    """Deterministic uniform out-edge walks from every vertex.

    Returns the exploded corpus (walk_id, step, vid): step 0 is the
    start vertex; a walk at a dead end stops emitting (directed
    DeepWalk convention), so walks have ragged lengths up to
    ``walk_length``+1 rows. Each step's state is materialized by the
    lineage cut, so the returned corpus frame is cheap to consume.
    """
    if not (0 <= seed <= MAX_SEED):
        raise ValueError(f"seed must be in [0, {MAX_SEED}] (overflow-safe mix bound)")
    if not (1 <= walk_length <= MAX_WALK_LENGTH):
        raise ValueError(f"walk_length must be in [1, {MAX_WALK_LENGTH}]")
    spark = graph.spark
    V = graph.num_vertices

    w = Window.partitionBy("src").orderBy("dst")
    indexed = (
        graph.edges.select("src", "dst")
        .withColumn("idx", F.row_number().over(w) - F.lit(1))
        .persist()
    )
    deg = graph.out_degrees.select(
        F.col("src").alias("cur"), F.col("out_deg").alias("deg")
    )
    deg_b = maybe_broadcast(deg, V)

    state = cut_lineage(
        graph.vertices()
        .crossJoin(spark.range(walks_per_vertex).select(F.col("id").alias("k")))
        .select(
            (F.col("vid") * walks_per_vertex + F.col("k")).alias("walk_id"),
            F.col("vid").alias("cur"),
        )
    )
    steps = [state.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("vid"))]
    for t in range(1, walk_length + 1):
        picked = state.join(deg_b, "cur", "inner").select(
            "walk_id",
            "cur",
            F.expr(walk_pick_sql(t, seed)).cast("int").alias("pick"),
        )
        state = cut_lineage(
            picked.join(
                indexed,
                (picked["cur"] == indexed["src"]) & (picked["pick"] == indexed["idx"]),
            ).select("walk_id", F.col("dst").alias("cur"))
        )
        steps.append(
            state.select("walk_id", F.lit(t).alias("step"), F.col("cur").alias("vid"))
        )
    indexed.unpersist()
    corpus = steps[0]
    for s in steps[1:]:
        corpus = corpus.unionByName(s)
    return WalkResult(
        corpus=corpus,
        walk_length=walk_length,
        walks_per_vertex=walks_per_vertex,
        seed=seed,
    )


def walks_as_sentences(result: WalkResult) -> DataFrame:
    """(walk_id: long, path: array<long>) — the corpus rolled up into
    step-ordered sequences (array_sort on (step, vid) structs keeps the
    roll-up shuffle-deterministic without a window)."""
    return result.corpus.groupBy("walk_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("step", "vid"))),
            lambda s: s["vid"],
        ).alias("path")
    )
