"""Louvain-style modularity clustering with graph coarsening (reference app #2).

Replicates the structure of the reference's ``clustering`` driver
(/root/reference/src/hoshizora/app/apps.h:42-175) and its one-superstep
best-gain kernel (/root/reference/src/hoshizora/app/clustering_louvain.h:11-86):

  per level, on the coarse weighted graph (M = ORIGINAL edge count, fixed):
    q(v)        = (e_ii(v) + Σ_out w + Σ_in w) / (2M)          (scatter, l.28-42)
    gain(s,d)   = 2·(w(s,d)/(2M) − q(s)·q(d))                  (gather, l.44-60)
    best(d)     = argmax over in-edges by gain, gain > threshold,
                  ties → smallest src (CSC fold order with strict '>', l.62-75)
    label(d)    = min(best_src, d), else d                     (sum, l.70)
  then (driver, apps.h:80-167):
    pointer-jump labels to fixpoint                            (l.100-110)
    pack surviving labels dense, in ascending label order      (l.113-123)
    coarsen: intra-cluster weight → e_ii, inter → summed edge weight
    repeat while num_clusters > num_clusters_hint and anything moved

Two deliberate divergences from reference *implementation* (not output
contract — the reference ships no tests or goldens, README.md:66):
  * apps.h:125-162 re-counts every coarse edge as weight 1 on deeper
    levels, discarding accumulated weights (and resets e_ii); we sum true
    weights — standard Louvain coarsening.
  * the reference puns packed/original id spaces in its relabel loop
    (apps.h:81-98); we keep an explicit (orig_vid → coarse_id) assignment.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph, maybe_broadcast
from hoshizora_spark.graph.ids import assign_dense_ids
from hoshizora_spark.runtime.checkpoint import cut_lineage
from hoshizora_spark.runtime.jump import pointer_jump


@dataclass
class ClusteringResult:
    assign: DataFrame  # (vid: long, cluster: long) — dense 0..k-1
    num_clusters: int
    levels: int
    clusters_per_level: list[int] = field(default_factory=list)


def _strength_q(
    edges_w: DataFrame, vprops: DataFrame, m_all: int, num_coarse: int
) -> DataFrame:
    """(cid, q) — strength/2M per coarse vertex (clustering_louvain.h:28-42):
    q = (e_ii + Σ_out w + Σ_in w) / (2M). Shared by the DF and CSR paths so
    their gain arithmetic starts from identical doubles."""
    outw = edges_w.groupBy("src").agg(F.sum("w").alias("ow"))
    inw = edges_w.groupBy("dst").agg(F.sum("w").alias("iw"))
    q = (
        vprops.join(outw, vprops.cid == outw.src, "left")
        .join(inw, vprops.cid == inw.dst, "left")
        .select(
            "cid",
            (
                (F.col("e_ii") + F.coalesce("ow", F.lit(0.0)) + F.coalesce("iw", F.lit(0.0)))
                / F.lit(2.0 * m_all)
            ).alias("q"),
        )
    )
    # localCheckpoint before the multi-reference fan-out: q is read 2×
    # downstream (q_src/q_dst) on top of edges_w's 2 reads here — without
    # the cut, per-level Catalyst analysis grows superlinearly across
    # levels (the ≥3-references trap in CLAUDE.md; measured: level 6's
    # superstep went from <1 s to minutes on g6_powerlaw).
    q = cut_lineage(q)
    return maybe_broadcast(q, num_coarse)


def _moves_from_best(best: DataFrame, vprops: DataFrame, num_coarse: int) -> DataFrame:
    """Common tail: (cid, adopt) ⋈ all vertices → (cid, new_label, moved)."""
    best = maybe_broadcast(best, num_coarse)
    return vprops.select("cid").join(best, "cid", "left").select(
        "cid",
        F.coalesce(F.col("adopt"), F.col("cid")).alias("new_label"),
        F.col("adopt").isNotNull().alias("moved"),
    )


def _best_moves(
    edges_w: DataFrame, vprops: DataFrame, m_all: int, threshold: float, num_coarse: int
) -> DataFrame:
    """(cid, new_label, moved) per coarse vertex — the one-superstep GAS pass."""
    q = _strength_q(edges_w, vprops, m_all, num_coarse)
    qs = q.select(F.col("cid").alias("src"), F.col("q").alias("q_src"))
    qd = q.select(F.col("cid").alias("dst"), F.col("q").alias("q_dst"))
    gains = (
        edges_w.join(qs, "src")
        .join(qd, "dst")
        .select(
            "src",
            "dst",
            (
                F.lit(2.0)
                * (F.col("w") / F.lit(2.0 * m_all) - F.col("q_src") * F.col("q_dst"))
            ).alias("gain"),
        )
    )
    # fold over in-edges: strict '>' with CSC (src-ascending) order means
    # max gain wins, equal gains keep the smallest src (kernel sum, l.62-75)
    best = (
        gains.filter(F.col("gain") > F.lit(threshold))
        .groupBy("dst")
        .agg(F.max(F.struct(F.col("gain"), (-F.col("src")).alias("neg_src"))).alias("top"))
        .select(
            F.col("dst").alias("cid"),
            F.least(-F.col("top.neg_src"), F.col("dst")).alias("adopt"),
        )
    )
    return _moves_from_best(best, vprops, num_coarse)


def _best_moves_csr(
    edges_w: DataFrame,
    vprops: DataFrame,
    m_all: int,
    threshold: float,
    num_coarse: int,
) -> DataFrame:
    """CSR fast-path twin of ``_best_moves``: the per-edge gain + per-dst
    argmax fold run inside numpy over raw-weight CSR blocks
    (runtime/gas.gas_gain_argmax), instead of the join+groupBy plan. Same
    q frame, same driver-side ``2M`` literal, same final
    ``max(struct(gain, -src))`` merge — bit-identical labels by design
    (asserted by test_clustering_csr_bitmatches_df_path)."""
    from hoshizora_spark.graph.core import Graph
    from hoshizora_spark.graph.csr import build_csr_blocks
    from hoshizora_spark.runtime.gas import dst_route_table, gas_gain_argmax

    cg = Graph(edges=edges_w, num_vertices=num_coarse)
    csr = build_csr_blocks(cg, weight_col="w", normalize_weights=False)
    # materialized: route is edges_w's 2nd-4th read this level (build +
    # outw/inw in _strength_q) — cut the plan here, same ≥3-references
    # discipline as _strength_q's q checkpoint
    route = cut_lineage(dst_route_table(csr, edges_w))
    q = _strength_q(edges_w, vprops, m_all, num_coarse).select("cid", "q")
    top = gas_gain_argmax(
        csr, q.select(F.col("cid").alias("vid"), "q"), route, 2.0 * m_all, threshold
    )
    best = top.select(
        F.col("dst").alias("cid"),
        F.least(F.col("src"), F.col("dst")).alias("adopt"),
    )
    return _moves_from_best(best, vprops, num_coarse)


def clustering(
    graph: Graph,
    num_clusters_hint: int = 100,
    threshold: float = 3e-5,
    max_levels: int = 20,
    use_csr: bool = False,
) -> ClusteringResult:
    """Defaults mirror pybind (/root/reference/src/hoshizora/pybind.cpp:15-21).

    ``use_csr=True`` runs each level's best-move superstep through the
    CSR-block numpy fold (``_best_moves_csr``) — the same fast path the
    iterative algorithms use; labels are bit-identical to the DF path."""
    spark = graph.spark
    V = graph.num_vertices
    m_all = graph.edges.count()  # graph.num_all_edges = num_edges (apps.h:71)
    if V == 0 or m_all == 0:
        return ClusteringResult(
            assign=graph.vertices().withColumn("cluster", F.col("vid")),
            num_clusters=V,
            levels=0,
        )

    # level-0 coarse graph: weight 1 per distinct out-edge (apps.h:58-66 uses
    # an unordered_map per src, so multi-edges collapse to weight 1), e_ii=0
    assign = graph.vertices().select(F.col("vid"), F.col("vid").alias("coarse"))
    assign = cut_lineage(assign)
    edges_w = (
        graph.edges.filter(F.col("src") != F.col("dst"))
        .distinct()
        .select("src", "dst", F.lit(1.0).alias("w"))
    )
    vprops = graph.vertices().select(
        F.col("vid").alias("cid"), F.lit(0.0).alias("e_ii")
    )
    num_coarse = V
    edges_w = cut_lineage(edges_w)
    vprops = cut_lineage(vprops)

    levels = 0
    sizes: list[int] = []
    step = _best_moves_csr if use_csr else _best_moves
    while True:
        moves = step(edges_w, vprops, m_all, threshold, num_coarse)
        moves = cut_lineage(moves)
        any_moved = moves.filter(F.col("moved")).count() > 0
        labels = pointer_jump(moves.select("cid", "new_label"), "cid", "new_label", num_coarse)

        # dense pack in ascending label order (apps.h:113-123 std::map scan);
        # assign_dense_ids is the scalable range-partitioned pack, not a
        # single-partition global window
        packed = assign_dense_ids(
            labels.select(F.col("new_label").alias("lbl")), ["lbl"], id_col="packed"
        )
        new_k = packed.count()
        packed = maybe_broadcast(packed, new_k)
        cmap = labels.join(packed, labels.new_label == packed.lbl).select(
            F.col("cid"), F.col("packed")
        )
        # cmap is referenced 4× below (assign remap, cs, cd, carried):
        # checkpoint the projection so each reference is a leaf, not a
        # re-analyzed join plan (≥3-references trap, CLAUDE.md)
        cmap = cut_lineage(cmap)
        cmap = maybe_broadcast(cmap, num_coarse)
        assign = cut_lineage(
            assign.join(cmap, assign.coarse == cmap.cid)
            .select("vid", F.col("packed").alias("coarse"))
        )
        levels += 1
        sizes.append(new_k)

        # new_k == num_coarse ⇒ the label map was a bijection ⇒ every vertex
        # was its own root ⇒ labels were identity and the coarse graph is
        # unchanged — every further level recomputes the exact same moves.
        # Breaking here is output-identical (fixpoint) and avoids spinning
        # max_levels no-op rounds (measured: 20 × ~8 s on a graph whose
        # best-move is always min(src,dst)=dst).
        if (
            not (new_k > num_clusters_hint and any_moved)
            or new_k == num_coarse
            or levels >= max_levels
        ):
            num_coarse = new_k
            break

        # coarsen (true-weight variant; see module docstring)
        cs = cmap.select(F.col("cid").alias("src"), F.col("packed").alias("c_src"))
        cd = cmap.select(F.col("cid").alias("dst"), F.col("packed").alias("c_dst"))
        rolled = (
            edges_w.join(cs, "src")
            .join(cd, "dst")
            .groupBy("c_src", "c_dst")
            .agg(F.sum("w").alias("w"))
        )
        intra = rolled.filter(F.col("c_src") == F.col("c_dst")).select(
            F.col("c_src").alias("cid"), F.col("w").alias("intra_w")
        )
        carried = (
            vprops.join(cmap, "cid")
            .groupBy("packed")
            .agg(F.sum("e_ii").alias("old_eii"))
            .select(F.col("packed").alias("cid"), "old_eii")
        )
        new_vprops = (
            carried.join(intra, "cid", "left")
            .select(
                "cid",
                (F.coalesce("intra_w", F.lit(0.0)) + F.col("old_eii")).alias("e_ii"),
            )
        )
        edges_w = cut_lineage(
            rolled.filter(F.col("c_src") != F.col("c_dst"))
            .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"), "w")
        )
        vprops = cut_lineage(new_vprops)
        num_coarse = new_k

    return ClusteringResult(
        assign=assign.select("vid", F.col("coarse").alias("cluster")),
        num_clusters=num_coarse,
        levels=levels,
        clusters_per_level=sizes,
    )
