"""Vectorized Gather-Apply-Scatter over CSR blocks (the Kernel extension point).

The reference's only user extension surface is the ``Kernel`` virtual class
(/root/reference/src/hoshizora/core/kernel.h:7-29): per-vertex ``init``,
per-out-edge ``scatter``, per-in-edge ``gather``, per-dst monoid
``zero``+``sum``, per-vertex ``apply`` — executed scalar, one virtual call
per element (bulksync_gas_executor.h:179-235). Here the same protocol is
**vectorized**: each hook takes/returns numpy arrays over one CSR block's
Arrow batch, so Python runs a handful of numpy kernels per block per
superstep instead of per-element calls — the SIMD execution the reference
aspired to (core/colle.h:17 "TODO: SIMD-aware").

Execution of one superstep (2 exchanges total, vs the reference's 5
barriers — scatter/gather fuse into one numpy pass, sum is split into an
in-block partial fold + a final shuffle agg):

  1. route state rows to their owning block (``block_id_of``)
  2. groupBy(block_id) → ``applyInPandas`` (CSR arrays come from the
     worker-cached sidecar, graph/csr.py — only state rows cross Arrow):
       gather src values per edge (np.repeat over CSR offsets),
       msgs = kernel.scatter_gather(src_vals, weights),
       per-block partial fold by dst (np.bincount / ufunc.at)
       → (dst, acc) rows, ≤ distinct-dst-per-block of them
  3. final fold + apply, fused: the block partials union a NULL-acc
     carrier row per vertex (old state + block ownership riding along),
     one groupBy(dst).agg(sum|min|max, max(old), max(bid)) folds across
     blocks AND replaces the old broadcast apply join — the whole
     superstep is ONE Spark job. [the only big shuffle; partial folding
     bounds any hot vertex's fan-in at num_blocks rows — built-in skew
     mitigation, no salting needed on this path]
  4. apply: a Column expression over (old_val, acc) on the agg output

The per-block partial fold is the distributed replacement for the
reference's ``forward_indices`` static permutation (graph.h:354-388): the
exchange delivers messages pre-grouped by dst, Spark's shuffle plays the
role of the permutation.

The same kernel also compiles to a pure-DataFrame superstep (``df_step``:
edges ⋈ state, message Column, one union-carrier groupBy). A
``KeyedKernel`` (per-(dst, key) count maps — label propagation, h-index)
differs only in its message: the counted (dst, key) entries instead of a
per-edge scalar. Both kinds share one carrier fold on both engines, and
``run_kernel`` drives either engine through ``bsp_loop`` — an algorithm is
"prepare the edge view + build the kernel + run".
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import (
    BROADCAST_ROWS,
    Graph,
    cache_superstep_edges,
    maybe_broadcast,
)
from hoshizora_spark.graph.csr import CsrBlocks
from hoshizora_spark.runtime.checkpoint import CheckpointManager
from hoshizora_spark.runtime.jump import jump
from hoshizora_spark.runtime.skew import salted_join_edges_state
from hoshizora_spark.runtime.superstep import LoopResult, bsp_loop

_COMBINES = {"sum": F.sum, "min": F.min, "max": F.max}


class VectorKernel:
    """Scalar-monoid GAS kernel. Mirrors core/kernel.h.

    The per-edge message ``scatter_gather`` is plain arithmetic, so the same
    method body runs on both engines: numpy arrays over a CSR block's
    dst-sorted edges (``gas_step``) and Catalyst Columns over the joined
    edge rows (``df_step``). ``init_expr`` / ``apply_expr`` are Column
    expressions used by both; ``sends`` prunes the DF engine's join.

    Parity note — ``gather``'s ``prev_val`` (kernel.h:17-18): the reference
    hands gather the edge's *previous-superstep* EData from a persistent
    per-edge buffer (bulksync_gas_executor.h keeps E-sized arrays across
    supersteps). Neither reference app reads it (pagerank.h / apps.h both
    return a function of ``curr_val`` only), so this protocol does not
    allocate per-edge state. A kernel that genuinely needs it expresses the
    edge buffer as BSP state — carry (edge_id, eval) rows in the loop state
    frame (E rows instead of V) and join them into the superstep — which is
    the only retry-safe distributed form: worker-resident edge buffers
    would silently reset whenever Spark recomputes a task.
    """

    combine: str  # 'sum' | 'min' | 'max' — the zero+sum monoid
    state_type = "double"  # Spark type of the vertex state column
    jumps = False  # one pointer-jump hop (runtime/jump.py) after each fold

    def init(self, vertices: DataFrame) -> DataFrame:
        """Iteration-0 (vid, val) frame over ``vertices`` (vid: long) —
        kernel.h:12 ``init``. Defaults to ``init_expr`` per vertex; a kernel
        whose start state is not a function of vid alone (k-core's h0 =
        degree, SCC's core-only domain) overrides this hook."""
        return vertices.select(
            "vid", self.init_expr(F.col("vid")).cast(self.state_type).alias("val")
        )

    def init_expr(self, vid: Column) -> Column:
        """Iteration-0 state of one vertex."""
        raise NotImplementedError

    def scatter_gather(self, src_vals, weights):
        """Per-edge message from gathered src state (kernel.h:14-18
        ``scatter``+``gather`` fused — both are per-edge maps)."""
        raise NotImplementedError

    def apply_expr(self, vid: Column, prev: Column, acc: Column) -> Column:
        """New state from (prev, folded acc); acc is NULL when no message
        arrived (kernel.h:20-26 ``zero``/``apply``)."""
        raise NotImplementedError

    def sends(self, src_val: Column) -> Column | None:
        """Predicate on src state for edges worth joining on the DF engine
        (None = every edge sends). Pure pruning: a dropped message must not
        change the fold's result."""
        return None

    def aggregate(self, msgs: Column) -> Column:
        """Per-vertex fold of the messages (NULL when none arrived)."""
        return _COMBINES[self.combine](msgs)

    def __getstate__(self):
        # the numpy hooks ship to Python workers with their kernel; frames
        # the init hook reads stay on the driver
        return {k: v for k, v in vars(self).items() if not isinstance(v, DataFrame)}


class KeyedKernel(VectorKernel):
    """GAS kernel whose per-dst accumulator is a (key → count) map — the
    struct-valued fold the scalar sum/min/max monoid can't express.

    This is the generalization the reference reaches with pair-typed state
    + a side-band ``changed`` flag in its kernel ``sum``
    (clustering_louvain.h:62-75). ``scatter_key`` maps gathered src states
    to a per-edge integer key (numpy on CSR blocks, a Column on the DF
    engine); both engines count edges per (dst, key), turn each count into
    an ``entry`` and fold a vertex's entries with ``aggregate``; ``apply_expr``
    reads the folded value. The run stops at the exact fixpoint.
    """

    combine = "count"  # per (dst, key); not a numeric sum → exact fixpoint
    state_type = "long"

    def scatter_key(self, src_vals):
        """Per-edge key from gathered src state."""
        raise NotImplementedError

    def entry(self, key: Column, cnt: Column) -> Column:
        """One per-(dst, key) entry from the key and its edge count."""
        raise NotImplementedError

    def aggregate(self, entries: Column) -> Column:
        """Per-vertex fold of the entries (NULL / empty when none arrived)."""
        raise NotImplementedError


def _partial_fold(combine: str, msgs_sorted: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Linear per-dst fold over dst-sorted messages (np.*.reduceat).

    The sort happened ONCE at block-build time (the forward permutation,
    reference graph.h:354-388); per superstep this is a single O(E) pass.
    """
    if len(msgs_sorted) == 0:
        return msgs_sorted
    if combine == "sum":
        return np.add.reduceat(msgs_sorted, starts)
    if combine == "min":
        return np.minimum.reduceat(msgs_sorted, starts)
    if combine == "max":
        return np.maximum.reduceat(msgs_sorted, starts)
    raise ValueError(f"unknown combine {combine!r}")


def gas_partial_messages(
    csr: CsrBlocks, state: DataFrame, kernel: VectorKernel
) -> DataFrame:
    """(dst, acc) per block — steps 1-2 above, BEFORE the final cross-block
    fold (≤ num_blocks rows per distinct dst).

    ``state`` must be (vid: long, val: state_type, block_id: int) covering
    every vertex — ``block_id`` is assigned once by ``init_state`` and
    carried through every superstep (vertex→block ownership is static, so
    re-deriving it per superstep would be O(V·num_blocks) wasted work).
    Only state rows travel through the exchange; the CSR arrays are loaded
    from the sidecar store and cached inside each reused Python worker
    (graph/csr.py load_block) — the static-adjacency property of the
    reference's execution model.
    """
    path = csr.path
    combine = kernel.combine
    scatter_gather = kernel.scatter_gather

    def run_block(key, state_pdf: pd.DataFrame) -> pd.DataFrame:
        from hoshizora_spark.graph.csr import load_block

        lo, hi, _off, _idx, _w, src_sorted, w_sorted, uniq_dst, starts = load_block(
            path, int(key[0])
        )
        vals = np.zeros(hi - lo, dtype=np.float64)
        vids = state_pdf["vid"].to_numpy(np.int64)
        vals[vids - lo] = state_pdf["val"].to_numpy(np.float64)
        # gather per edge in dst-sorted order: one cache-friendly fancy
        # index into the block-local state slice (the scatter+forward-
        # permutation of the reference, fused)
        msgs = scatter_gather(vals[src_sorted], w_sorted)
        acc = _partial_fold(combine, msgs, starts)
        return pd.DataFrame({"dst": uniq_dst, "acc": acc})

    return state.groupby("block_id").applyInPandas(
        run_block, schema="dst long, acc double"
    )


def gas_messages(csr: CsrBlocks, state: DataFrame, kernel: VectorKernel) -> DataFrame:
    """(dst, acc) after the full fold — steps 1-3 above."""
    partial = gas_partial_messages(csr, state, kernel)
    return partial.groupBy("dst").agg(kernel.aggregate(F.col("acc")).alias("acc"))


def gas_keyed_counts(csr: CsrBlocks, state: DataFrame, kernel: KeyedKernel) -> DataFrame:
    """(dst, key, cnt) after the full fold — the keyed analogue of
    ``gas_messages``. Per block: gather src states in dst-sorted order,
    map to keys, run-length-encode consecutive (dst, key) runs after an
    in-block lexsort — O(E log E) numpy per block, emitting at most
    distinct-(dst, key)-per-block rows into the exchange. A hot vertex's
    fan-in is bounded at num_blocks × distinct keys, the same built-in
    skew bound as the scalar path."""
    path = csr.path
    scatter_key = kernel.scatter_key

    def run_block(key, state_pdf: pd.DataFrame) -> pd.DataFrame:
        from hoshizora_spark.graph.csr import load_block

        lo, hi, _off, _idx, _w, src_sorted, _w_sorted, uniq_dst, starts = load_block(
            path, int(key[0])
        )
        n_edges = len(src_sorted)
        if n_edges == 0:
            return pd.DataFrame({"dst": [], "key": [], "cnt": []}).astype(
                {"dst": np.int64, "key": np.int64, "cnt": np.int64}
            )
        vals = np.zeros(hi - lo, dtype=np.int64)
        vids = state_pdf["vid"].to_numpy(np.int64)
        vals[vids - lo] = state_pdf["val"].to_numpy(np.int64)
        keys = scatter_key(vals[src_sorted])
        seg_lens = np.diff(np.r_[starts, n_edges])
        dst_idx = np.repeat(np.arange(len(uniq_dst), dtype=np.int64), seg_lens)
        order = np.lexsort((keys, dst_idx))
        kd, kl = dst_idx[order], keys[order]
        head = np.r_[True, (kd[1:] != kd[:-1]) | (kl[1:] != kl[:-1])]
        idx = np.flatnonzero(head)
        cnt = np.diff(np.r_[idx, n_edges])
        return pd.DataFrame(
            {"dst": uniq_dst[kd[idx]], "key": kl[idx], "cnt": cnt.astype(np.int64)}
        )

    partial = state.groupby("block_id").applyInPandas(
        run_block, schema="dst long, key long, cnt long"
    )
    return partial.groupBy("dst", "key").agg(F.sum("cnt").alias("cnt"))


def dst_route_table(csr: CsrBlocks, edges: DataFrame) -> DataFrame:
    """(block_id, vid) — the blocks in which each vertex appears as a dst.

    The GraphX-style vertex routing table: CSR blocks partition by *src*
    range, so a fold whose per-edge term reads dst-side state (the
    clustering gain's ``q_dst``, clustering_louvain.h:44-60) must replicate
    that state into every block holding an in-edge of the vertex. Built
    once per block build (one distinct over E rows); per-superstep cost is
    then one join of the V-row state against this ≤min(E, V·B)-row table —
    the distributed stand-in for the reference's shared-memory read of
    ``v_data[dst]`` in ``gather``.
    """
    return (
        edges.select(
            csr.block_id_of(F.col("src")).alias("block_id"),
            F.col("dst").alias("vid"),
        )
        .distinct()
    )


def gas_gain_argmax(
    csr: CsrBlocks,
    q: DataFrame,
    dst_route: DataFrame,
    c2m: float,
    threshold: float,
) -> DataFrame:
    """(dst, gain, src) — per-dst argmax over in-edges of the modularity
    gain ``2·(w/c2m − q_src·q_dst)``, keeping only gains strictly above
    ``threshold``; ties broken toward the smallest src. This is the
    reference clustering kernel's gather+sum on the CSR fast path
    (clustering_louvain.h:44-75: gather computes the gain, sum is a strict
    ``>`` fold in CSC src-ascending order ⇒ max gain, ties → smallest src).

    ``q``: (vid, q) for every vertex. Blocks must be built with raw
    weights (``normalize_weights=False``). Arithmetic matches the
    DataFrame path bit-for-bit: same driver-computed ``c2m`` literal, same
    IEEE double ops, and the final cross-block merge is the identical
    ``max(struct(gain, -src))`` aggregate. Per-block partials bound a hot
    vertex's fan-in at num_blocks rows, like every other CSR fold here.
    """
    path = csr.path
    src_side = q.select(
        "vid",
        F.col("q").alias("val"),
        csr.block_id_of(F.col("vid")).alias("block_id"),
        F.lit(0).alias("role"),
    )
    dst_side = q.join(dst_route, "vid").select(
        "vid", F.col("q").alias("val"), "block_id", F.lit(1).alias("role")
    )
    both = src_side.unionByName(dst_side)

    def run_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from hoshizora_spark.graph.csr import load_block

        lo, hi, _off, _idx, _w, src_sorted, w_sorted, uniq_dst, starts = load_block(
            path, int(key[0])
        )
        empty = pd.DataFrame(
            {
                "dst": np.zeros(0, np.int64),
                "gain": np.zeros(0, np.float64),
                "src": np.zeros(0, np.int64),
            }
        )
        n_edges = len(src_sorted)
        if n_edges == 0:
            return empty
        role = pdf["role"].to_numpy(np.int32)
        vids = pdf["vid"].to_numpy(np.int64)
        qv = pdf["val"].to_numpy(np.float64)
        is_src = role == 0
        vals = np.zeros(hi - lo, dtype=np.float64)
        vals[vids[is_src] - lo] = qv[is_src]
        dvid, dq = vids[~is_src], qv[~is_src]
        o = np.argsort(dvid)  # dst_route rows are distinct per block
        q_dst_u = dq[o][np.searchsorted(dvid[o], uniq_dst)]
        seg_lens = np.diff(np.r_[starts, n_edges])
        # same expression shape as the DF path: 2.0*(w/c2m - q_s*q_d)
        g = 2.0 * (w_sorted / c2m - vals[src_sorted] * np.repeat(q_dst_u, seg_lens))
        keep = g > threshold
        if not keep.any():
            return empty
        didx = np.repeat(np.arange(len(uniq_dst), dtype=np.int64), seg_lens)[keep]
        gk = g[keep]
        sk = src_sorted[keep].astype(np.int64) + lo
        # per-dst head after (dst, gain desc, src asc) ordering == the
        # reference's strict-'>' fold in src-ascending CSC order
        order = np.lexsort((sk, -gk, didx))
        dd, gg, ss = didx[order], gk[order], sk[order]
        head = np.r_[True, dd[1:] != dd[:-1]]
        return pd.DataFrame(
            {"dst": uniq_dst[dd[head]], "gain": gg[head], "src": ss[head]}
        )

    partial = both.groupby("block_id").applyInPandas(
        run_block, schema="dst long, gain double, src long"
    )
    top = partial.groupBy("dst").agg(
        F.max(F.struct(F.col("gain"), (-F.col("src")).alias("neg_src"))).alias("top")
    )
    return top.select(
        "dst",
        F.col("top.gain").alias("gain"),
        (-F.col("top.neg_src")).alias("src"),
    )


def _carrier_fold(msgs: DataFrame, state: DataFrame, kernel: VectorKernel) -> DataFrame:
    """Fold + apply, fused — the shared tail of every superstep on both
    engines: returns (vid, [block_id,] new_val, old_val).

    ``msgs`` is (vid, m): per-edge messages, per-block partials or keyed
    entries. They union a NULL-m carrier row per vertex (carrying old
    state, plus block ownership when ``state`` has a ``block_id``), and
    one groupBy(vid) computes ``kernel.aggregate`` (aggregates skip NULLs,
    so acc stays NULL when no message arrived) plus ``max(old)``/
    ``max(block_id)`` (exactly one non-null per vid). A superstep is then
    ONE Spark job: no broadcast-collect job, no apply join (the BENCH.md
    ``f + W/cores`` fixed-cost attack).
    """
    bid = ["block_id"] if "block_id" in state.columns else []
    msgs = msgs.select(
        "vid",
        "m",
        F.lit(None).cast(kernel.state_type).alias("old"),
        *[F.lit(None).cast("int").alias(c) for c in bid],
    )
    carrier = state.select(
        "vid",
        F.lit(None).cast(msgs.schema["m"].dataType).alias("m"),
        F.col("val").alias("old"),
        *bid,
    )
    folded = msgs.unionByName(carrier).groupBy("vid").agg(
        kernel.aggregate(F.col("m")).alias("acc"),
        F.max("old").alias("old_val"),
        *[F.max(c).alias(c) for c in bid],
    )
    return folded.select(
        "vid",
        *bid,
        kernel.apply_expr(F.col("vid"), F.col("old_val"), F.col("acc")).alias("new_val"),
        "old_val",
    )


def _keyed_entries(counts: DataFrame, kernel: KeyedKernel) -> DataFrame:
    """(dst, key, cnt) → (vid, m = entry): the keyed message on both engines."""
    return counts.select(
        F.col("dst").cast("long").alias("vid"),  # back to the domain type
        kernel.entry(F.col("key"), F.col("cnt")).alias("m"),
    )


def gas_step(csr: CsrBlocks, state: DataFrame, kernel: VectorKernel) -> DataFrame:
    """One CSR-engine superstep: returns (vid, block_id, new_val, old_val).

    State exchange → per-block numpy fold (scalar partials, or keyed
    (dst, key) counts summed across blocks) → ``_carrier_fold``.
    """
    if isinstance(kernel, KeyedKernel):
        msgs = _keyed_entries(gas_keyed_counts(csr, state, kernel), kernel)
    else:
        msgs = gas_partial_messages(csr, state, kernel).select(
            F.col("dst").alias("vid"), F.col("acc").alias("m")
        )
    return _carrier_fold(msgs, state, kernel)


def init_state(spark, csr: CsrBlocks, kernel: VectorKernel) -> DataFrame:
    """(vid, val, block_id) — block ownership computed once, here only."""
    vertices = spark.range(csr.num_vertices).select(F.col("id").alias("vid"))
    return kernel.init(vertices).withColumn("block_id", csr.block_id_of(F.col("vid")))


@dataclass
class DfEdges:
    """The DataFrame engine's static edge operand: the cached (src, dst[, w])
    view a kernel's supersteps scan, in ``cache_superstep_edges`` layout.

    ``hot``: an optional persisted (src) frame of skewed sources; when set,
    the state join is the salted one (runtime/skew.py) instead of the
    broadcast / shuffle-hash join.
    """

    edges: DataFrame
    key_type: str  # 'int' | 'long' — cast the state's vid to this to join
    num_vertices: int
    num_edges: int
    broadcast_vertices: int = BROADCAST_ROWS
    hot: DataFrame | None = None
    num_salts: int = 16

    @staticmethod
    def cache(
        edges: DataFrame,
        num_vertices: int,
        broadcast_vertices: int = BROADCAST_ROWS,
        hot: DataFrame | None = None,
        num_salts: int = 16,
    ) -> "DfEdges":
        cached, key_type, E = cache_superstep_edges(edges, num_vertices)
        return DfEdges(cached, key_type, num_vertices, E, broadcast_vertices, hot, num_salts)

    def unpersist(self) -> None:
        self.edges.unpersist()
        if self.hot is not None:
            self.hot.unpersist()


def df_step(ef: DfEdges, state: DataFrame, kernel: VectorKernel) -> DataFrame:
    """One DataFrame-engine superstep: returns (vid, new_val, old_val).

    The same kernel as ``gas_step``, compiled to Catalyst: one
    edges ⋈ state→src join, then either ``scatter_gather`` on Columns as the
    per-edge message or, for a ``KeyedKernel``, a groupBy(dst, key) count
    whose entries are the message; ``_carrier_fold`` does the rest.
    """
    st = state.select(F.col("vid").cast(ef.key_type).alias("src"), F.col("val").alias("sv"))
    if ef.hot is not None:
        joined = salted_join_edges_state(ef.edges, st, "src", ef.hot, ef.num_salts)
    else:
        joined = ef.edges.join(maybe_broadcast(st, ef.num_vertices, ef.broadcast_vertices), "src")
    send = kernel.sends(F.col("sv"))
    if send is not None:
        joined = joined.filter(send)
    if isinstance(kernel, KeyedKernel):
        key = kernel.scatter_key(F.col("sv")).alias("key")
        counts = joined.groupBy("dst", key).agg(F.count(F.lit(1)).alias("cnt"))
        return _carrier_fold(_keyed_entries(counts, kernel), state, kernel)
    w = F.col("w") if "w" in ef.edges.columns else F.lit(1.0)
    msgs = joined.select(
        F.col("dst").cast("long").alias("vid"),  # back to the domain type
        kernel.scatter_gather(F.col("sv"), w).alias("m"),
    )
    return _carrier_fold(msgs, state, kernel)


def dense_sources(sources: list[int], num_vertices: int, what: str) -> list[int]:
    """Sorted distinct seed ids; raises if any lies outside ``0..V-1``."""
    src_set = sorted({int(s) for s in sources})
    bad = [s for s in src_set if s < 0 or s >= num_vertices]
    if bad:
        raise ValueError(
            f"{what} sources outside vertex domain 0..{num_vertices - 1}: {bad}"
        )
    return src_set


def run_kernel(
    graph: Graph,
    kernel: VectorKernel,
    edges: DfEdges | CsrBlocks,
    *,
    tol: float | None = None,
    max_iters: int,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
) -> LoopResult:
    """Run ``kernel`` to convergence on either engine; state starts from
    ``kernel.init`` and comes back as (vid, val). ``edges`` picks the
    engine: ``DfEdges`` → ``df_step`` (released after the loop),
    ``CsrBlocks`` → ``gas_step``. A kernel with ``jumps`` set gets one
    pointer-jump hop on the folded labels every superstep.

    The convergence statistic follows the fold: a sum converges
    numerically (max|Δ| ≤ ``tol``; ``tol=None`` runs ``max_iters``), while
    min/max and keyed folds stop at the exact fixpoint (no vertex changed;
    ``tol`` is unused).
    """
    spark = graph.spark
    csr = isinstance(edges, CsrBlocks)

    def init() -> DataFrame:
        return init_state(spark, edges, kernel) if csr else kernel.init(graph.vertices())

    def step(state: DataFrame, it: int) -> DataFrame:
        nxt = gas_step(edges, state, kernel) if csr else df_step(edges, state, kernel)
        return jump(nxt, "vid", "new_val", graph.num_vertices) if kernel.jumps else nxt

    new, old = F.col("new_val"), F.col("old_val")
    if kernel.combine == "sum":
        kind, stat_expr = "delta", F.max(F.abs(new - old))
    else:
        kind, stat_expr = "changed", F.sum((new != old).cast("long"))

    def done(s: float) -> bool:
        return s == 0 if kind == "changed" else tol is not None and s <= tol

    keep = ("block_id",) if csr else ()
    res = bsp_loop(
        spark,
        init=init,
        step=step,
        stat_expr=stat_expr,
        done=done,
        restore=lambda df: df.select("vid", new.alias("val"), *keep),
        max_iters=max_iters,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        resume=resume,
        edges_per_iter=edges.num_edges,
        metric_kind=kind,
    )
    if not csr:
        edges.unpersist()
    if kind == "changed":
        res.stats = [int(c) for c in res.stats]
    res.state = res.state.select("vid", "val")
    return res
