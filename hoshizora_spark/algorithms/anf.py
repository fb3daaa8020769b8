"""Neighborhood function N(h) + effective diameter (ANF / HyperANF), and
the loop pieces the reachability family shares.

Not shipped by the reference (README.md:67 lists applications as WIP) but
a flagship link-graph analytic: N(h) = number of (u, v) pairs with
dist(u, v) ≤ h; the effective diameter is the smallest h where N(h) ≥
q·N(∞) (q = 0.9 classically). Both variants are one monotone (vid, key)
union loop (``_union_loop``: state' = state ∪ neighbors' state, one
``groupBy(vid, key)`` with the monoid — the one-job carrier fold of
BENCH.md round 4):

* ``neighborhood_function`` — EXACT. Per-vertex reachability bitsets,
  stored sparse as (vid, pos, word) rows folded with ``bit_or`` (missing
  words are zero — the monoid's identity, so the state frame only carries
  reached words). N(h) rides the checkpoint job as
  ``sum(bit_count(word))`` — zero extra actions. State is
  Θ(Σ_v |reach(v)|/64) rows and therefore O(V²/64) at the fixpoint:
  verification-scale by design, hard-capped at ``MAX_EXACT_VERTICES``
  with the HLL variant as the scale path.

* ``neighborhood_function_hll`` — HyperLogLog ball sketches (the HyperANF
  of Boldi-Rosa-Vigna, WWW'11), state (vid, reg, rho) = V·m rows at ANY
  graph size, folded with ``max``. ``_hll_balls`` is the one loop that
  HyperANF and HyperBall (``harmonic_centrality_hll``) share. Register
  init is pure Catalyst: reg = xxhash64 mod m, and rho = 1 + trailing
  zeros of a second hash via ``length(bin(t & -t))`` — an integer/string
  expression, bit-deterministic everywhere (no floating log2). Relative
  error ≈ 1.04/√m per sketch; estimates use the standard small-range
  linear-counting correction.

Every loop of the family converges by monotonicity: its statistic (total
popcount, total rho mass, reached pair count) strictly increases until
the union fixpoint, so the first repeat is exact convergence
(``_until_repeat``) — no tolerance.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import (
    Graph,
    cache_superstep_edges,
    maybe_broadcast,
    symmetrize,
)
from hoshizora_spark.runtime.checkpoint import cut_lineage
from hoshizora_spark.runtime.superstep import LoopResult, bsp_loop

MAX_EXACT_VERTICES = 16_384  # fixpoint state ≤ V²/64 ≈ 4.2M rows


@dataclass
class AnfResult:
    nf: DataFrame  # (h: int, n_pairs) — n_pairs long (exact) / double (hll)
    rounds: int
    converged: bool
    effective_diameter: int
    n_per_h: list[float] = field(default_factory=list)  # [N(0), N(1), ...]


def _edge_view(graph: Graph, directed: bool) -> DataFrame:
    """The simple (src, dst) graph a reachability loop walks, directed or
    symmetrized: self-loops and duplicate edges dropped (path counts σ
    need a simple graph; reachability and distances do not change)."""
    if not directed:
        return symmetrize(graph.edges)
    edges = graph.edges.select("src", "dst")
    return edges.filter(F.col("src") != F.col("dst")).distinct()


def _until_repeat() -> Callable[[float], bool]:
    """``done`` for a monotone statistic: stop the first time it repeats."""
    last: list[float | None] = [None]

    def done(s: float) -> bool:
        repeated = s == last[0]
        last[0] = s
        return repeated

    return done


def _union_loop(
    graph: Graph,
    directed: bool,
    max_rounds: int,
    init: Callable[[], DataFrame],
    agg: Callable[[str], Column],
    bound: int,
    **stat,
) -> LoopResult:
    """Run a monotone union over (vid, key, val) state rows to its fixpoint.
    Each superstep every state row travels its out-edges, and ONE
    ``groupBy(vid, key)`` folds messages and state with ``agg`` over val:
    absent rows are the monoid's identity, so the state is its own carrier
    and the agg is both merge and apply. ``bound`` is the state's
    worst-case row count (growth is monotone toward it);
    ``stat``/``stat_expr`` is the monotone statistic the loop stops on
    when it repeats."""
    V = graph.num_vertices
    edges, key_type, E = cache_superstep_edges(_edge_view(graph, directed), V)

    def step(state: DataFrame, it: int) -> DataFrame:
        _, key, val = state.columns
        st = maybe_broadcast(
            state.select(F.col("vid").cast(key_type).alias("src"), key, val), bound
        )
        msgs = edges.join(st, "src").select(F.col("dst").cast("long").alias("vid"), key, val)
        return msgs.unionByName(state).groupBy("vid", key).agg(agg(val).alias(val))

    res = bsp_loop(
        graph.spark,
        init=init,
        step=step,
        done=_until_repeat(),
        restore=lambda df: df,
        max_iters=max_rounds,
        edges_per_iter=E,
        metric_kind="changed",
        **stat,
    )
    edges.unpersist()
    return res


def _effective_diameter(n_per_h: list[float], q: float) -> int:
    target = q * n_per_h[-1]
    for h, n in enumerate(n_per_h):
        if n >= target:
            return h
    return len(n_per_h) - 1


def _anf_result(
    graph: Graph, sums: list[float], res: LoopResult, q: float, n_type: str
) -> AnfResult:
    # N(0) = V exactly (every ball holds its own vertex). The round that
    # confirmed the fixpoint repeats its predecessor — drop it so nf rows
    # are the distinct h ladder.
    kept = sums[:-1] if res.converged else sums
    n_per_h = [float(graph.num_vertices)] + [float(s) for s in kept]
    cast = int if n_type == "long" else float
    nf = graph.spark.createDataFrame(
        [(h, cast(n)) for h, n in enumerate(n_per_h)], schema=f"h int, n_pairs {n_type}"
    )
    return AnfResult(
        nf=nf,
        rounds=res.iterations,
        converged=res.converged,
        effective_diameter=_effective_diameter(n_per_h, q),
        n_per_h=n_per_h,
    )


def neighborhood_function(
    graph: Graph,
    directed: bool = False,
    max_rounds: int = 200,
    q: float = 0.9,
) -> AnfResult:
    """Exact N(h) by bitset union over the (un)directed graph.

    N(0) = V (every vertex reaches itself). Raises above
    ``MAX_EXACT_VERTICES`` — use ``neighborhood_function_hll`` there.
    """
    V = graph.num_vertices
    if V > MAX_EXACT_VERTICES:
        raise ValueError(
            f"neighborhood_function: exact bitsets are O(V^2/64) state; "
            f"V={V} > {MAX_EXACT_VERTICES}. Use neighborhood_function_hll."
        )
    W = (V + 63) // 64

    def init() -> DataFrame:
        return graph.vertices().select(
            "vid",
            (F.col("vid") / 64).cast("int").alias("pos"),
            # python F.shiftleft only takes a literal bit count; SQL's takes
            # a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(vid % 64 AS INT))").alias(
                "word"
            ),
        )

    popcount = F.sum(F.bit_count(F.col("word")))
    res = _union_loop(graph, directed, max_rounds, init, F.bit_or, V * W, stat_expr=popcount)
    return _anf_result(graph, res.stats, res, q, "long")


def _hll_registers(graph: Graph, m: int) -> DataFrame:
    """(vid, reg, rho): each vertex's own HLL register, the radius-0 ball.
    rho = 1 + trailing zeros of a second hash (capped at 49 by OR-ing bit
    48) as a pure integer/string expression: isolate the lowest set bit
    with ``t & -t``, then its log2 is ``length(bin(t)) - 1`` — exact, no
    floating point."""
    h1 = F.xxhash64(F.col("vid"), F.lit("anf_reg"))
    t = F.xxhash64(F.col("vid"), F.lit("anf_rho")).bitwiseOR(F.lit(1 << 48).cast("long"))
    return graph.vertices().select(
        "vid",
        F.pmod(h1, F.lit(m)).cast("int").alias("reg"),
        F.length(F.bin(t.bitwiseAND(-t))).cast("int").alias("rho"),
    )


def _hll_balls(
    graph: Graph, m: int, directed: bool, max_rounds: int, caller: str
) -> tuple[LoopResult, list[float], DataFrame]:
    """The HyperANF / HyperBall loop: HLL sketches of the balls B(v, h),
    max-merged to the register fixpoint. After each merge one job folds
    every ball estimate into the dense (vid, prev_est, acc) frame,
    acc += (|B(v,h)| − |B(v,h−1)|)/h, and observes N(h) = Σ_v |B(v, h)|
    and the register mass Σ rho. The mass is the loop's statistic: it
    repeats exactly at the fixpoint, where every estimate repeats and adds
    0 to acc. Returns the loop result, N(h) for rounds h ≥ 1, and acc."""
    if m < 16 or (m & (m - 1)) != 0:
        raise ValueError(f"{caller}: m must be a power of two >= 16, got {m}")
    V = graph.num_vertices
    m_f = float(m)
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))

    def balls(sketch: DataFrame) -> DataFrame:
        """(vid, est, mass): HLL estimate of |B(v, h)| and Σ rho per vertex.
        Absent registers contribute 2^0 = 1 to the harmonic sum and count
        as zeros."""
        per = sketch.groupBy("vid").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
            F.count(F.lit(1)).alias("p"),
            F.sum("rho").alias("mass"),
        )
        zeros = F.lit(m_f) - F.col("p")
        raw = F.lit(alpha * m_f * m_f) / (F.col("s") + zeros)
        est = F.when(
            (zeros > 0) & (raw <= 2.5 * m_f), F.lit(m_f) * F.log(F.lit(m_f) / zeros)
        ).otherwise(raw)
        return per.select("vid", est.alias("est"), "mass")

    acc = cut_lineage(
        balls(_hll_registers(graph, m)).select(
            "vid", F.col("est").alias("prev_est"), F.lit(0.0).alias("acc")
        )
    )
    sums: list[float] = []

    def fold(sketch: DataFrame) -> float:
        nonlocal acc
        h = len(sums) + 1
        obs = Observation()
        acc = cut_lineage(
            maybe_broadcast(acc, V)
            .join(balls(sketch), "vid")
            .observe(obs, F.sum("est").alias("n"), F.sum("mass").alias("mass"))
            .select(
                "vid",
                F.col("est").alias("prev_est"),
                (
                    F.col("acc")
                    + F.greatest(F.col("est") - F.col("prev_est"), F.lit(0.0))
                    / F.lit(float(h))
                ).alias("acc"),
            )
        )
        sums.append(float(obs.get["n"] or 0.0))
        return float(obs.get["mass"] or 0)

    res = _union_loop(
        graph, directed, max_rounds, lambda: _hll_registers(graph, m), F.max, V * m, stat=fold
    )
    return res, sums, acc


def neighborhood_function_hll(
    graph: Graph,
    m: int = 64,
    directed: bool = False,
    max_rounds: int = 200,
    q: float = 0.9,
) -> AnfResult:
    """HyperANF: approximate N(h) = Σ_v |B(v, h)| from per-vertex HLL
    sketches (``_hll_balls``). ``m`` must be a power of two ≥ 16; std error
    ≈ 1.04/√m per sketch. N(0) is reported as the known V, not estimated.
    """
    res, sums, _ = _hll_balls(graph, m, directed, max_rounds, "neighborhood_function_hll")
    return _anf_result(graph, sums, res, q, "double")
