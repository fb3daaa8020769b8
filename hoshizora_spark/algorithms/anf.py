"""Neighborhood function N(h) + effective diameter (ANF / HyperANF).

Not shipped by the reference (README.md:67 lists applications as WIP) but
a flagship link-graph analytic: N(h) = number of (u, v) pairs with
dist(u, v) ≤ h; the effective diameter is the smallest h where N(h) ≥
q·N(∞) (q = 0.9 classically). Two variants share one BSP shape
(state' = merge(state, ⋃ neighbors' state), a monotone-union fixpoint):

* ``neighborhood_function`` — EXACT. Per-vertex reachability bitsets,
  stored sparse as (vid, pos, word) rows (missing words are zero — absent
  rows are the identity of the bit_or monoid, so the state frame only
  carries reached words). Superstep = edge⋈state + carrier rows + ONE
  ``groupBy(vid, pos).agg(bit_or)`` (the one-job carrier fold, BENCH.md
  round 4); N(h) rides the checkpoint job as ``sum(bit_count(word))`` —
  zero extra actions. State is Θ(Σ_v |reach(v)|/64) rows and therefore
  O(V²/64) at the fixpoint: verification-scale by design, hard-capped at
  ``MAX_EXACT_VERTICES`` with the HLL variant as the scale path.

* ``neighborhood_function_hll`` — HyperLogLog sketches (the HyperANF of
  Boldi-Rosa-Vigna, WWW'11), state (vid, reg, rho) = V·m rows at ANY
  graph size. The max-merge is ``groupBy(vid, reg).agg(max(rho))`` — the
  same one-job carrier fold — and the per-round cardinality estimate is
  one extra aggregate job (the documented ``stat``-callable path of
  bsp_loop). Register init is pure Catalyst: reg = xxhash64 mod m, and
  rho = 1 + trailing zeros of a second hash via ``length(bin(t & -t))``
  — an integer/string expression, bit-deterministic everywhere (no
  floating log2). Relative error ≈ 1.04/√m per sketch; estimates use the
  standard small-range linear-counting correction.

Both converge by monotonicity: the observed statistic (total popcount /
total rho mass) is strictly increasing until the union fixpoint, so
"unchanged" is exact convergence — no tolerance.
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
from hoshizora_spark.runtime.superstep import bsp_loop

MAX_EXACT_VERTICES = 16_384  # fixpoint state ≤ V²/64 ≈ 4.2M rows


@dataclass
class AnfResult:
    nf: DataFrame  # (h: int, n_pairs) — n_pairs long (exact) / double (hll)
    rounds: int
    converged: bool
    effective_diameter: int
    n_per_h: list[float] = field(default_factory=list)  # [N(0), N(1), ...]


def _effective_diameter(n_per_h: list[float], q: float) -> int:
    target = q * n_per_h[-1]
    for h, n in enumerate(n_per_h):
        if n >= target:
            return h
    return len(n_per_h) - 1


def _edge_view(graph: Graph, directed: bool) -> DataFrame:
    return graph.edges.select("src", "dst") if directed else symmetrize(graph.edges)


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
    spark = graph.spark
    V = graph.num_vertices
    if V > MAX_EXACT_VERTICES:
        raise ValueError(
            f"neighborhood_function: exact bitsets are O(V^2/64) state; "
            f"V={V} > {MAX_EXACT_VERTICES}. Use neighborhood_function_hll."
        )
    edges, key_type, E = cache_superstep_edges(_edge_view(graph, directed), V)
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

    def step(state: DataFrame, it: int) -> DataFrame:
        st_src = maybe_broadcast(
            state.select(F.col("vid").cast(key_type).alias("src"), "pos", "word"),
            V * W,  # worst-case row bound (monotone growth toward it)
        )
        msgs = edges.join(st_src, "src").select(
            F.col("dst").cast("long").alias("vid"), "pos", "word"
        )
        # absent (vid, pos) rows are bit_or's identity — the carrier is the
        # state itself, and the ONE groupBy is both merge and apply
        return msgs.unionByName(state).groupBy("vid", "pos").agg(
            F.bit_or("word").alias("word")
        )

    prev: dict[str, float | None] = {"n": None}

    def done(n: float) -> bool:
        if prev["n"] is not None and n == prev["n"]:
            return True
        prev["n"] = n
        return False

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=F.sum(F.bit_count(F.col("word"))),
        done=done,
        restore=lambda df: df,
        max_iters=max_rounds,
        edges_per_iter=E,
        metric_kind="changed",
    )
    edges.unpersist()
    n_per_h = [float(V)] + [float(s) for s in res.stats]
    # the final round's stat equals its predecessor (that is what stopped
    # the loop) — drop the duplicate so nf rows are the distinct h ladder
    if len(n_per_h) >= 2 and n_per_h[-1] == n_per_h[-2]:
        n_per_h = n_per_h[:-1]
    nf = spark.createDataFrame(
        [(h, int(n)) for h, n in enumerate(n_per_h)], schema="h int, n_pairs long"
    )
    return AnfResult(
        nf=nf,
        rounds=res.iterations,
        converged=res.converged,
        effective_diameter=_effective_diameter(n_per_h, q),
        n_per_h=n_per_h,
    )


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _rho_expr(h2):
    """1 + count of trailing zeros of ``h2`` (capped at 49 by OR-ing bit
    48) as a pure integer/string Catalyst expression: isolate the lowest
    set bit with ``t & -t``, then its log2 is ``length(bin(t)) - 1`` —
    exact, no floating point."""
    t = h2.bitwiseOR(F.lit(1 << 48).cast("long"))
    low = t.bitwiseAND(-t)
    return F.length(F.bin(low)).cast("int")


def neighborhood_function_hll(
    graph: Graph,
    m: int = 64,
    directed: bool = False,
    max_rounds: int = 200,
    q: float = 0.9,
) -> AnfResult:
    """HyperANF: approximate N(h) with per-vertex HLL sketches.

    State is exactly V·m (vid, reg, rho) rows at any scale (registers a
    vertex never received stay absent — max's identity). Deterministic:
    register index and rho come from xxhash64 of the vertex id, no RNG.
    ``m`` must be a power of two ≥ 16; std error ≈ 1.04/√m per sketch.
    """
    if m < 16 or (m & (m - 1)) != 0:
        raise ValueError(f"neighborhood_function_hll: m must be a power of two >= 16, got {m}")
    spark = graph.spark
    V = graph.num_vertices
    edges, key_type, E = cache_superstep_edges(_edge_view(graph, directed), V)
    m_f = float(m)
    alpha = _alpha(m)

    def init() -> DataFrame:
        h1 = F.xxhash64(F.col("vid"), F.lit("anf_reg"))
        h2 = F.xxhash64(F.col("vid"), F.lit("anf_rho"))
        return graph.vertices().select(
            "vid",
            F.pmod(h1, F.lit(m)).cast("int").alias("reg"),
            _rho_expr(h2).alias("rho"),
        )

    def step(state: DataFrame, it: int) -> DataFrame:
        st_src = maybe_broadcast(
            state.select(F.col("vid").cast(key_type).alias("src"), "reg", "rho"), V * m
        )
        msgs = edges.join(st_src, "src").select(
            F.col("dst").cast("long").alias("vid"), "reg", "rho"
        )
        return msgs.unionByName(state).groupBy("vid", "reg").agg(
            F.max("rho").alias("rho")
        )

    def estimate(state: DataFrame) -> float:
        """Σ_v HLL estimate — one aggregate job per superstep (the
        documented ``stat``-callable path). Absent registers contribute
        2^0 = 1 to the harmonic sum and count as zeros."""
        per = state.groupBy("vid").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
            F.count(F.lit(1)).alias("p"),
        )
        zeros = F.lit(m_f) - F.col("p")
        raw = F.lit(alpha * m_f * m_f) / (F.col("s") + zeros)
        est = F.when(
            (zeros > 0) & (raw <= 2.5 * m_f), F.lit(m_f) * F.log(F.lit(m_f) / zeros)
        ).otherwise(raw)
        row = per.select(F.sum(est)).first()
        return float(row[0]) if row and row[0] is not None else 0.0

    prev: dict[str, float | None] = {"n": None}

    def done(n: float) -> bool:
        if prev["n"] is not None and n == prev["n"]:
            return True
        prev["n"] = n
        return False

    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat=estimate,
        done=done,
        restore=lambda df: df,
        max_iters=max_rounds,
        edges_per_iter=E,
        metric_kind="delta",
    )
    edges.unpersist()
    # N(0): every sketch holds exactly its own vertex; with the linear-
    # counting correction that estimates ~V, but report the true V (known)
    n_per_h = [float(V)] + [float(s) for s in res.stats]
    if len(n_per_h) >= 2 and n_per_h[-1] == n_per_h[-2]:
        n_per_h = n_per_h[:-1]
    nf = spark.createDataFrame(
        [(h, float(n)) for h, n in enumerate(n_per_h)], schema="h int, n_pairs double"
    )
    return AnfResult(
        nf=nf,
        rounds=res.iterations,
        converged=res.converged,
        effective_diameter=_effective_diameter(n_per_h, q),
        n_per_h=n_per_h,
    )
