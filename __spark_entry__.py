"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: PageRank over the supplier co-occurrence graph
at sf0.001, top-10 most-central suppliers.

``queries()`` / ``oracle_sql()`` — one entry per operator from SURVEY.md §2
plus the training-pipeline tier (dedup/similarity/multimodal/text). Every
query carries a full DuckDB value-hash oracle: iterative algorithms run a
FIXED operator count matched by chained MATERIALIZED CTEs (stationary at
their fixpoint, so early exits are safe); hash-based ops use portable
sha256-derived hashes; LSH ops are verified against the exact SQL, which
doubles as a recall gate.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _edges_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-occurrence: suppliers sharing an order (canonical src<dst)."""
    li = _lineitem(spark, sf_dir).select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )


def _graph_cooccur(spark: SparkSession, sf_dir: str):
    from hoshizora_spark import Graph

    return Graph.from_edges(_edges_cooccur(spark, sf_dir))


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top-10 suppliers by PageRank centrality (sf0.001)."""
    from hoshizora_spark import pagerank, top_k

    g = _graph_cooccur(spark, "/root/testdata/sf0.001")
    res = pagerank(g, tol=1e-6, max_iters=200)
    return top_k(res.ranks, 10).select("vid", F.round("rank", 9).alias("rank"))


# ---------------------------------------------------------------- queries


def q_edge_extract_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    return li.select(
        F.col("l_partkey").alias("src"), (F.col("l_suppkey") + 1000000).alias("dst")
    ).distinct()


def q_edge_extract_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges_cooccur(spark, sf_dir)


def q_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import symmetrize

    edges = _edges_cooccur(spark, sf_dir)
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("degree"))
    return deg.orderBy(F.col("degree").desc(), F.col("vid").asc()).limit(20)


def q_dense_id_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-level check of dense-ID assignment: V distinct keys -> ids 0..V-1."""
    from hoshizora_spark.graph.ids import assign_dense_ids

    edges = _edges_cooccur(spark, sf_dir)
    verts = edges.select(F.col("src").alias("key")).union(
        edges.select(F.col("dst").alias("key"))
    )
    ids = assign_dense_ids(verts, ["key"], id_col="vid")
    return ids.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.min("vid").alias("min_vid"),
        F.max("vid").alias("max_vid"),
        F.count_distinct("vid").alias("n_distinct_vids"),
    )


def q_triangle_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import Graph, triangle_total

    g = Graph.from_edges(_edges_cooccur(spark, sf_dir))
    n = triangle_total(g)
    return spark.createDataFrame([(n,)], schema="triangles long")


def q_triangle_total_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite graph must have zero triangles — structural invariant."""
    from hoshizora_spark import Graph, triangle_total

    g = Graph.from_edges(q_edge_extract_bipartite(spark, sf_dir))
    n = triangle_total(g)
    return spark.createDataFrame([(n,)], schema="triangles long")


def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex over the supplier
    co-occurrence graph (full dense domain): lcc = 2T/(d(d−1)), 0 below
    degree 2. Exact-integer T and d make the double division bit-portable."""
    from hoshizora_spark import Graph, clustering_coefficients

    g = Graph.from_edges(_edges_cooccur(spark, sf_dir))
    return clustering_coefficients(g)


def q_connected_components_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import Graph, connected_components

    edges = _edges_cooccur(spark, sf_dir).filter((F.col("src") < 200) & (F.col("dst") < 200))
    g = Graph.from_edges(edges)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    res = connected_components(g)
    return res.labels.join(present, "vid").select("vid", "label")


PR_ITERS = 30  # fixed iteration count pinned identically in Spark + oracle


def q_pagerank_fixed30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run for exactly PR_ITERS supersteps (tol off) so the DuckDB
    chained-CTE oracle computes the identical deterministic value — the
    full rows+schema+hash check the tol-converged variant can't get."""
    from hoshizora_spark import pagerank

    g = _graph_cooccur(spark, sf_dir)
    res = pagerank(g, tol=None, max_iters=PR_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_personalized_pagerank_fixed30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Teleport-set PageRank (seeds 1,2,3), fixed PR_ITERS supersteps —
    same chained-CTE oracle discipline as pagerank_fixed30."""
    from hoshizora_spark import personalized_pagerank

    g = _graph_cooccur(spark, sf_dir)
    res = personalized_pagerank(g, sources=[1, 2, 3], tol=None, max_iters=PR_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_personalized_pagerank_csr_fixed30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Teleport-set PageRank through the CSR GAS path — the seed init and
    jump term ride the fused apply expression (one-job superstep); gated by
    the same chained-CTE oracle as the DF path."""
    from hoshizora_spark import personalized_pagerank_csr

    g = _graph_cooccur(spark, sf_dir)
    res = personalized_pagerank_csr(g, sources=[1, 2, 3], tol=None, max_iters=PR_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_label_propagation_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync LPA, 10 rounds — matched round-for-round by a chained-CTE
    oracle (early fixpoint exit is safe: the operator is stationary there)."""
    from hoshizora_spark import Graph, label_propagation

    edges = _edges_cooccur(spark, sf_dir).filter((F.col("src") < 200) & (F.col("dst") < 200))
    g = Graph.from_edges(edges)
    res = label_propagation(g, max_rounds=10)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return res.labels.join(present, "vid").select("vid", "label")


def _edges_cooccur_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted co-occurrence: w = number of shared (order, lineitem) pairings
    per supplier pair — the ``e_props`` analogue (reference core/graph.h:74)."""
    li = _lineitem(spark, sf_dir).select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


def q_smoothed_pagerank_fixed20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE BSP state (the reference kernel's gather ``prev_val`` hook,
    kernel.h:17-18) under the value-hash oracle: 20 supersteps of
    exponentially smoothed per-edge messages (beta=0.5), rank read at the
    end. The loop state is E rows, not V rows — the documented pattern for
    kernels that need the previous superstep's edge value."""
    from hoshizora_spark import smoothed_pagerank

    g = _graph_cooccur(spark, sf_dir)
    res = smoothed_pagerank(g, beta=0.5, tol=None, max_iters=20)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_pagerank_csr_fixed30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSR-block GAS engine itself under the value-hash oracle: same
    fixed-30 PageRank, executed through per-block numpy gather + partial
    fold (runtime/gas.py) instead of the DataFrame join plan."""
    from hoshizora_spark import pagerank_csr

    g = _graph_cooccur(spark, sf_dir)
    res = pagerank_csr(g, tol=None, max_iters=PR_ITERS)
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_pagerank_weighted_fixed30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (rank flows ∝ edge weight) — reference e_props
    semantics, fixed 30 supersteps, weighted chained-CTE oracle."""
    from hoshizora_spark import Graph, pagerank

    ew = _edges_cooccur_w(spark, sf_dir)
    g = Graph.from_edges(ew, extra_cols=("w",))
    res = pagerank(g, tol=None, max_iters=PR_ITERS, weight_col="w")
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_pagerank_weighted_csr_fixed30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank through CSR blocks built with src-normalized real
    weights (build_csr_blocks weight_col) — same oracle as the DF path."""
    from hoshizora_spark import Graph, pagerank_csr

    ew = _edges_cooccur_w(spark, sf_dir)
    g = Graph.from_edges(ew, extra_cols=("w",))
    res = pagerank_csr(g, tol=None, max_iters=PR_ITERS, weight_col="w")
    return res.ranks.select("vid", F.round("rank", 6).alias("rank"))


def q_label_propagation_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA through the keyed CSR fold (per-block (dst,label) run-length
    counts) — bit-identical labels to the DF path, same 10-round oracle."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.labelprop import label_propagation_csr

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    res = label_propagation_csr(g, max_rounds=10)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return res.labels.join(present, "vid").select("vid", "label")


def q_bfs_distances_csr_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS through the min-monoid CSR fold — same fixed-round relax oracle."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.bfs import bfs_distances_csr

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    res = bfs_distances_csr(g, sources=[1], directed=False)
    return res.distances.join(present, "vid").select("vid", "dist")


def q_clustering_modularity_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain-style clustering with every level's best-move superstep on
    the CSR gain-argmax fold (gas_gain_argmax) — bit-identical labels to
    the DF plan, so the same unrolled-driver-loop oracle gates it."""
    from hoshizora_spark import Graph, clustering

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    return clustering(g, num_clusters_hint=10, use_csr=True).assign


# ------------------------------------------------- text / similarity ops


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents + deterministic exact copies (doc_id<3 → +2000000) and
    near-copies (doc_id<5 → +1000000, ' extra token tail' appended) so the
    dedup operators have positives to find. Same construction in SQL."""
    d = _docs(spark, sf_dir)
    exact = d.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extra token tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    return d.unionByName(exact).unionByName(near)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import text

    return text.exact_dedup(_docs_aug(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import text

    return text.token_counts(_docs(spark, sf_dir))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import text

    return text.quality_scores(_docs(spark, sf_dir))


def q_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import text

    return text.lang_scores(_docs(spark, sf_dir))


def q_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import text

    return text.jaccard_pairs(_docs_aug(spark, sf_dir), threshold=0.5)


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified with exact Jaccard. The verify step
    guarantees output ⊆ exact pairs; the oracle is the exact-Jaccard SQL,
    so the check fails exactly when LSH recall drops below 1.0 on this
    corpus — a real end-to-end recall gate, not a rows-only count."""
    from hoshizora_spark import text

    return text.minhash_near_dups(_docs_aug(spark, sf_dir), threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit SimHash (sha256-prefix token hash) — bit-exact
    DuckDB oracle; the xxhash64 fast path keeps its pytest coverage."""
    from hoshizora_spark import text

    return text.simhash_sha60(_docs(spark, sf_dir))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries_df, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN re-ranked with exact cosine. With 24 planes / 12
    bands the candidate set recovers the exact top-5 on this corpus (checked
    at sf0.001 and sf0.01), so the exact-cosine SQL doubles as the oracle —
    the check IS the recall gate."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ann_lsh_topk(emb, queries_df, k=5, num_planes=24, bands=12)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe == n_centroids: every cell is probed, so the
    result degrades exactly to brute-force top-k REGARDLESS of where the
    k-means cells land — the exact-cosine SQL is the oracle, and any
    assignment/probe bug surfaces as a hash mismatch. (Recall < 1 configs
    are exercised in pytest on a clustered fixture where nprobe=1 is
    lossless by construction.)"""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        emb, queries_df, k=5, n_centroids=8, nprobe=8, iters=2
    )


def q_ivf_topk_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-driver-collect IVF probe path (similarity.ivf_topk_distributed):
    query→cell assignment rides the same broadcast-centroid mapInPandas the
    corpus uses, candidates come from a join on cell. Run at nprobe ==
    n_centroids it degrades exactly to brute-force top-k, so the exact-cosine
    SQL is the oracle (same contract as q_ivf_topk; pytest additionally pins
    pair-for-pair equality with the driver-side path at nprobe < n_centroids)."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk_distributed(
        emb, queries_df, k=5, n_centroids=8, nprobe=8, iters=2
    )


def q_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup: LSH candidates → exact-cosine verify
    (no crossJoin in the plan). The all-pairs SQL is the oracle, so the
    check gates recall = 1.0 at these settings (verified at sf0.001 and
    sf0.01; per-bit blocking because the 0.35 threshold is a wide net —
    see similarity.cosine_near_dup_lsh docstring for the economics)."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_near_dup_lsh(
        emb, threshold=0.35, num_planes=24, bands=24
    )


def q_bfs_distances_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected hop distances from supplier 1 over the src<200 subgraph —
    fixed-round relax CTE oracle (stationary at fixpoint)."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.bfs import bfs_distances

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    res = bfs_distances(g, sources=[1], directed=False)
    return res.distances.join(present, "vid").select("vid", "dist")


def q_sssp_distances_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (Bellman-Ford BSP, algorithms/sssp.py) from
    supplier 1 over the src<200 undirected subgraph; deterministic integer
    weight w = (src + 2·dst) % 5 + 1 per directed edge, shared by both
    directions. Fixed-round relax CTE oracle (stationary at fixpoint)."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.sssp import sssp_distances

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    we = edges.withColumn(
        "weight", ((F.col("src") + 2 * F.col("dst")) % 5 + 1).cast("double")
    )
    g = Graph.from_edges(we, extra_cols=("weight",))
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    res = sssp_distances(g, sources=[1], directed=False)
    return res.distances.join(present, "vid").select("vid", "dist")


def q_sssp_distances_csr_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR-block GAS variant of q_sssp_distances_small (min-monoid kernel
    over raw edge weights) — same oracle, bit-identical distances."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.sssp import sssp_distances_csr

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    we = edges.withColumn(
        "weight", ((F.col("src") + 2 * F.col("dst")) % 5 + 1).cast("double")
    )
    g = Graph.from_edges(we, extra_cols=("weight",))
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    res = sssp_distances_csr(g, sources=[1], directed=False)
    return res.distances.join(present, "vid").select("vid", "dist")


_ANF_H = 10  # fixed ladder length; stationary past convergence (~3 rounds)


def q_anf_exact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighborhood function N(h) over the src<200 undirected
    subgraph (bitset-union BSP, algorithms/anf.py) — (h, n_pairs) ladder
    padded to a fixed h=0..10 so it aligns with the fixed-round
    reachability CTE oracle (both stationary at the fixpoint)."""
    from hoshizora_spark import Graph, neighborhood_function

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    res = neighborhood_function(g, directed=False)
    ladder = res.n_per_h + [res.n_per_h[-1]] * (_ANF_H + 1 - len(res.n_per_h))
    return spark.createDataFrame(
        [(h, int(n)) for h, n in enumerate(ladder[: _ANF_H + 1])],
        schema="h int, n_pairs long",
    )


def q_harmonic_centrality_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality H(v) = Σ 1/d(u,v) over the src<200
    undirected subgraph (all-pairs BSP, algorithms/centrality.py), dense
    domain, round-6 per the double-sum oracle convention."""
    from hoshizora_spark import Graph, harmonic_centrality

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    res = harmonic_centrality(g, directed=False, round_dp=6)
    return res.centrality


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's degree assortativity r over the full supplier co-occurrence
    graph — exact-integer moment sums, double combine (identical cast tree
    in the SQL oracle), round-5."""
    from hoshizora_spark import Graph, degree_assortativity

    g = Graph.from_edges(_edges_cooccur(spark, sf_dir))
    return degree_assortativity(g)


def q_hits_fixed20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS, 20 fixed sequential half-step rounds (a from
    h_prev, h from new a, L1-normalized each half-step) over the directed
    src<dst supplier co-occurrence graph; round-6 per the double-sum
    oracle convention."""
    from hoshizora_spark import Graph, hits

    g = Graph.from_edges(_edges_cooccur(spark, sf_dir))
    return hits(g, max_iters=20, tol=None, round_dp=6).scores


def _edges_succession(spark: SparkSession, sf_dir: str, mod: int = 100) -> DataFrame:
    """Directed order-succession edges: supplier of lineitem i -> supplier
    of lineitem i+1 within an order, sparsified to l_orderkey % mod = 0.
    mod=100 (97 vertices / 263 edges at sf0.01) is a rich bowtie with
    cycles, unlike the src<dst co-occurrence DAG; mod=20 (1442 edges,
    3321 triangles) carries a 2..6 truss ladder."""
    li = _lineitem(spark, sf_dir).select("l_orderkey", "l_linenumber", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1)
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .filter(F.col("a.l_orderkey") % mod == 0)
        .select(
            F.col("a.l_suppkey").cast("long").alias("src"),
            F.col("b.l_suppkey").cast("long").alias("dst"),
        )
        .distinct()
    )


def _succession_sql(mod: int = 100) -> str:
    return f"""
      SELECT DISTINCT CAST(a.l_suppkey AS BIGINT) AS src,
                      CAST(b.l_suppkey AS BIGINT) AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND b.l_linenumber = a.l_linenumber + 1
       AND a.l_suppkey <> b.l_suppkey
      WHERE a.l_orderkey % {mod} = 0
    """


_SUCCESSION_SQL = _succession_sql(100)


def q_scc_succession(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components over the directed order-succession
    graph (supplier of lineitem i -> supplier of lineitem i+1 within an
    order, sparsified to l_orderkey % 100 = 0 so the SCC structure is a
    rich bowtie: a ~70-vertex core plus singleton tendrils at sf0.01).
    Engine: FW-BW coloring (scc.py); oracle: exact doubling-ladder
    transitive closure — scc(u) = max v with u<->v mutual reachability,
    the same max-vid label contract."""
    from hoshizora_spark import Graph, strongly_connected_components

    edges = _edges_succession(spark, sf_dir)
    g = Graph.from_edges(edges)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    res = strongly_connected_components(g)
    return res.labels.join(present, "vid").select("vid", "scc")


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard / Adamic–Adar candidate scores over the
    (undirected view of the) succession graph: every non-adjacent pair
    sharing ≥1 neighbor. One wedge join + one aggregation, no windows."""
    from hoshizora_spark import Graph, link_prediction

    g = Graph.from_edges(_edges_succession(spark, sf_dir))
    return link_prediction(g)


WALKS_LENGTH = 8
WALKS_PER_VERTEX = 2
WALKS_SEED = 1


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style corpus over the succession graph:
    2 walks per vertex, 8 steps, seeded integer-mix sampler (walks.py) —
    the DuckDB oracle replays the identical mix arithmetic step by step."""
    from hoshizora_spark import Graph, random_walks

    g = Graph.from_edges(_edges_succession(spark, sf_dir))
    res = random_walks(
        g,
        walk_length=WALKS_LENGTH,
        walks_per_vertex=WALKS_PER_VERTEX,
        seed=WALKS_SEED,
    )
    return res.corpus


def _walks_fixed_sql(
    walk_length: int = WALKS_LENGTH,
    walks_per_vertex: int = WALKS_PER_VERTEX,
    seed: int = WALKS_SEED,
) -> str:
    """Exact replay of walks.py: indexed out-edges, per-step mix pick,
    dead-end termination — one materialized CTE per step."""
    from hoshizora_spark.algorithms.walks import walk_pick_sql

    ctes = [
        f"de AS MATERIALIZED ({_SUCCESSION_SQL})",
        """ie AS MATERIALIZED (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
          FROM de)""",
        "dg AS MATERIALIZED (SELECT src AS cur, COUNT(*) AS deg FROM de GROUP BY src)",
        """vx AS MATERIALIZED (
          SELECT unnest(range(0, (SELECT MAX(GREATEST(src, dst)) + 1 FROM de)))
            AS vid)""",
        f"""s0 AS MATERIALIZED (
          SELECT CAST(vid * {walks_per_vertex} + k AS BIGINT) AS walk_id,
                 CAST(vid AS BIGINT) AS cur
          FROM vx, (SELECT unnest(range(0, {walks_per_vertex})) AS k))""",
    ]
    selects = ["SELECT walk_id, CAST(0 AS INT) AS step, cur AS vid FROM s0"]
    for t in range(1, walk_length + 1):
        pick = walk_pick_sql(t, seed, walk_id="s.walk_id", deg="dg.deg", dialect="duckdb")
        ctes.append(
            f"""s{t} AS MATERIALIZED (
              SELECT s.walk_id, ie.dst AS cur
              FROM s{t - 1} s
              JOIN dg ON dg.cur = s.cur
              JOIN ie ON ie.src = s.cur AND ie.idx = {pick})"""
        )
        selects.append(
            f"SELECT walk_id, CAST({t} AS INT) AS step, cur AS vid FROM s{t}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


MIS_SEED = 5
MIS_ORACLE_ROUNDS = 8  # Luby converges in 3 at sf0.01 / 4 at sf0.1; pads


def q_mis_succession(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set over the (undirected view of the)
    succession graph, deterministic seeded-mix priorities (mis.py).
    Output covers the full dense domain 0..V-1; isolated ids join the
    set in round 0 on both sides. The oracle replays each round:
    priority draw -> local-max test -> member/removed update."""
    from hoshizora_spark import Graph, maximal_independent_set

    g = Graph.from_edges(_edges_succession(spark, sf_dir))
    return maximal_independent_set(g, seed=MIS_SEED).members


def _mis_fixed_sql(rounds: int = MIS_ORACLE_ROUNDS, seed: int = MIS_SEED) -> str:
    """Exact replay of mis.py: per round, active vertices draw
    p = mix(vid, r, seed) (the walks.mix_sql integer mix, DuckDB
    dialect); v joins the MIS iff (p_v, v) beats every active
    neighbor's (p_u, u); active neighbors of members become removed.
    Rounds past convergence are no-ops (empty active set)."""
    from hoshizora_spark.algorithms.walks import mix_sql

    parts = [
        f"de AS MATERIALIZED ({_SUCCESSION_SQL})",
        """und AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM de WHERE src <> dst
          UNION SELECT dst, src FROM de WHERE src <> dst)""",
        """s0 AS MATERIALIZED (
          SELECT CAST(unnest(range(0,
                   (SELECT MAX(GREATEST(src, dst)) + 1 FROM de))) AS BIGINT)
                   AS vid,
                 0 AS st)""",
    ]
    for r in range(rounds):
        mix = mix_sql("vid", r, seed, dialect="duckdb")
        parts.append(
            f"""p{r} AS MATERIALIZED (
              SELECT vid, {mix} AS p FROM s{r} WHERE st = 0)"""
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
              SELECT s.vid FROM p{r} s
              WHERE NOT EXISTS (
                SELECT 1 FROM und e JOIN p{r} t ON t.vid = e.b
                WHERE e.a = s.vid
                  AND (t.p > s.p OR (t.p = s.p AND t.vid > s.vid))))"""
        )
        parts.append(
            f"""s{r + 1} AS MATERIALIZED (
              SELECT s.vid,
                     CASE WHEN s.st <> 0 THEN s.st
                          WHEN s.vid IN (SELECT vid FROM m{r}) THEN 1
                          WHEN EXISTS (
                            SELECT 1 FROM und e JOIN m{r} m ON m.vid = e.b
                            WHERE e.a = s.vid) THEN 2
                          ELSE 0 END AS st
              FROM s{r} s)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, CAST(st = 1 AS INT) AS in_mis FROM s{rounds}"
    )


DENSEST_ROUNDS = 8  # peeling converges in 5 at sf0.01 (eps=0.1); pads
DENSEST_EPS = 0.1


def q_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani 2(1+eps)-approx densest subgraph of the succession graph
    (densest.py, eps=0.1): peel deg <= 2(1+eps)*rho rounds, answer the
    earliest strictly-densest surviving S (a 44-vertex core, rho 2.955,
    at sf0.01). The oracle replays each round and selects the argmax
    round the same way (density DESC, round ASC)."""
    from hoshizora_spark import Graph, densest_subgraph

    g = Graph.from_edges(_edges_succession(spark, sf_dir))
    return densest_subgraph(g, eps=DENSEST_EPS).vertices


def _densest_fixed_sql(
    rounds: int = DENSEST_ROUNDS, eps: float = DENSEST_EPS
) -> str:
    """Exact replay of densest.py: survivors s{r}, live edges l{r},
    per-round scalar stats (n, m, rho) as one-row CTEs; the final answer
    joins the earliest max-density round's survivor set. Rounds after S
    empties carry rho = -1 and never win."""
    parts = [
        f"de AS MATERIALIZED ({_SUCCESSION_SQL})",
        """ed AS MATERIALIZED (
          SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM de WHERE src <> dst GROUP BY 1, 2)""",
        """s0 AS MATERIALIZED (
          SELECT CAST(unnest(range(0,
                   (SELECT MAX(GREATEST(src, dst)) + 1 FROM de))) AS BIGINT)
                   AS vid)""",
        "l0 AS MATERIALIZED (SELECT a, b FROM ed)",
    ]
    for r in range(rounds):
        parts.append(
            f"""t{r} AS MATERIALIZED (
              SELECT (SELECT COUNT(*) FROM s{r}) AS n,
                     (SELECT COUNT(*) FROM l{r}) AS m)"""
        )
        parts.append(
            f"""g{r} AS MATERIALIZED (
              SELECT vid, COUNT(*) AS deg FROM (
                SELECT a AS vid FROM l{r} UNION ALL SELECT b FROM l{r}
              ) GROUP BY vid)"""
        )
        parts.append(
            f"""s{r + 1} AS MATERIALIZED (
              SELECT s.vid FROM s{r} s LEFT JOIN g{r} g ON g.vid = s.vid
              WHERE COALESCE(g.deg, 0) >
                    2.0 * (1.0 + {eps}) * (SELECT m * 1.0 / n FROM t{r}))"""
        )
        parts.append(
            f"""l{r + 1} AS MATERIALIZED (
              SELECT l.a, l.b FROM l{r} l
              WHERE EXISTS (SELECT 1 FROM s{r + 1} s WHERE s.vid = l.a)
                AND EXISTS (SELECT 1 FROM s{r + 1} s WHERE s.vid = l.b))"""
        )
    stats = "\nUNION ALL ".join(
        f"SELECT {r} AS r, CASE WHEN n > 0 THEN m * 1.0 / n ELSE -1 END AS rho"
        f" FROM t{r}"
        for r in range(rounds)
    )
    svs = "\nUNION ALL ".join(
        f"SELECT {r} AS r, vid FROM s{r}" for r in range(rounds)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
        st AS MATERIALIZED ({stats}),
        bs AS MATERIALIZED (
          SELECT r, rho FROM st ORDER BY rho DESC, r ASC LIMIT 1),
        sv AS MATERIALIZED ({svs})
        SELECT sv.vid, bs.rho AS density
        FROM sv JOIN bs ON sv.r = bs.r"""
    )


MSF_ROUNDS = 6  # Borůvka converges in 3 at sf0.01; ceil(log2 V) = 7 bound
MSF_JUMPS = 7  # pointer-jump depth per round: 2^7 = 128 >= V at sf0.01
def _msf_weight_sql(dialect: str) -> str:
    """Deterministic per-edge weight: the shared integer mix over the
    canonical pair id, folded to [0, 100000) — identical arithmetic in
    both dialects."""
    from hoshizora_spark.algorithms.walks import mix_sql

    return f"CAST({mix_sql('(a * 1000003 + b)', 0, 0, dialect)} % 100000 AS DOUBLE)"


def q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest of the succession graph under
    deterministic mix weights (msf.py); the oracle replays hook +
    2-cycle break + pointer jumping round by round — and the engine is
    separately Kruskal-checked in tests/test_msf.py, so the two
    algorithms must agree edge-for-edge under the (w, a, b) order."""
    from hoshizora_spark import Graph, minimum_spanning_forest

    e = _edges_succession(spark, sf_dir)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .withColumn("w", F.expr(_msf_weight_sql("spark")))
    )
    g = Graph.from_edges(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w"),
        extra_cols=("w",),
    )
    return minimum_spanning_forest(g, weight_col="w").edges


def _msf_fixed_sql(rounds: int = MSF_ROUNDS, jumps: int = MSF_JUMPS) -> str:
    """Borůvka unrolled: per round every component takes MIN over the
    lexicographic [w, a, b, other-comp] list of its incident cross
    edges, hooks onto the other side, mutual pairs root at the smaller
    id, and pointer jumping relabels. Rounds past convergence are empty
    no-ops."""
    parts = [
        f"de AS MATERIALIZED ({_SUCCESSION_SQL})",
        f"""ed AS MATERIALIZED (
          SELECT a, b, {_msf_weight_sql('duckdb')} AS w FROM (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM de WHERE src <> dst GROUP BY 1, 2))""",
        """c0 AS MATERIALIZED (
          SELECT CAST(unnest(range(0,
                   (SELECT MAX(GREATEST(src, dst)) + 1 FROM de))) AS BIGINT)
                   AS vid,
                 CAST(unnest(range(0,
                   (SELECT MAX(GREATEST(src, dst)) + 1 FROM de))) AS BIGINT)
                   AS c)""",
    ]
    for r in range(rounds):
        parts.append(
            f"""l{r} AS MATERIALIZED (
              SELECT c1.c AS cu, c2.c AS cv, e.w, e.a, e.b
              FROM ed e JOIN c{r} c1 ON c1.vid = e.a
                        JOIN c{r} c2 ON c2.vid = e.b
              WHERE c1.c <> c2.c)"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (
              SELECT cu, MIN([w, CAST(a AS DOUBLE), CAST(b AS DOUBLE),
                              CAST(cv AS DOUBLE)]) AS k
              FROM (SELECT cu, cv, w, a, b FROM l{r}
                    UNION ALL SELECT cv, cu, w, a, b FROM l{r})
              GROUP BY cu)"""
        )
        parts.append(
            f"""h{r} AS MATERIALIZED (
              SELECT cu, CAST(k[4] AS BIGINT) AS p,
                     CAST(k[2] AS BIGINT) AS ea, CAST(k[3] AS BIGINT) AS eb,
                     CAST(k[1] AS DOUBLE) AS ew
              FROM s{r})"""
        )
        parts.append(
            f"""j{r}_0 AS MATERIALIZED (
              SELECT h1.cu,
                     CASE WHEN h2.p = h1.cu AND h1.cu < h1.p THEN h1.cu
                          ELSE h1.p END AS p
              FROM h{r} h1 LEFT JOIN h{r} h2 ON h2.cu = h1.p)"""
        )
        for k in range(1, jumps + 1):
            parts.append(
                f"""j{r}_{k} AS MATERIALIZED (
                  SELECT x.cu, COALESCE(y.p, x.p) AS p
                  FROM j{r}_{k - 1} x LEFT JOIN j{r}_{k - 1} y ON y.cu = x.p)"""
            )
        parts.append(
            f"""c{r + 1} AS MATERIALIZED (
              SELECT cm.vid, COALESCE(j.p, cm.c) AS c
              FROM c{r} cm LEFT JOIN j{r}_{jumps} j ON j.cu = cm.c)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT ea, eb, ew FROM h{r}" for r in range(rounds)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT DISTINCT ea AS a, eb AS b, ew AS w FROM ({union})"""
    )


COLORING_ROUNDS = 18  # greedy coloring converges in 13 at sf0.01; pads


def q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy coloring of the succession graph
    (coloring.py): local-max mix priority wins, winner takes
    mex(neighbor colors). 6 colors / 13 rounds at sf0.01; the oracle
    replays every round."""
    from hoshizora_spark import Graph, greedy_coloring

    g = Graph.from_edges(_edges_succession(spark, sf_dir))
    return greedy_coloring(g, seed=MIS_SEED).colors


def _coloring_fixed_sql(rounds: int = COLORING_ROUNDS, seed: int = 5) -> str:
    """Exact replay of coloring.py: per round, uncolored vertices draw
    p = mix(vid, r, seed); local (p, vid) maxima among uncolored
    neighbors win; each winner takes the smallest color not used by a
    colored neighbor (candidates 0..#distinct-neighbor-colors). Rounds
    past convergence are no-ops."""
    from hoshizora_spark.algorithms.walks import mix_sql

    parts = [
        f"de AS MATERIALIZED ({_SUCCESSION_SQL})",
        """und AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM de WHERE src <> dst
          UNION SELECT dst, src FROM de WHERE src <> dst)""",
        """s0 AS MATERIALIZED (
          SELECT CAST(unnest(range(0,
                   (SELECT MAX(GREATEST(src, dst)) + 1 FROM de))) AS BIGINT)
                   AS vid,
                 CAST(NULL AS BIGINT) AS color)""",
    ]
    for r in range(rounds):
        mix = mix_sql("vid", r, seed, dialect="duckdb")
        parts.append(
            f"""p{r} AS MATERIALIZED (
              SELECT vid, {mix} AS p FROM s{r} WHERE color IS NULL)"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
              SELECT s.vid FROM p{r} s
              WHERE NOT EXISTS (
                SELECT 1 FROM und e JOIN p{r} t ON t.vid = e.b
                WHERE e.a = s.vid
                  AND (t.p > s.p OR (t.p = s.p AND t.vid > s.vid))))"""
        )
        parts.append(
            f"""nc{r} AS MATERIALIZED (
              SELECT DISTINCT w.vid, s.color
              FROM w{r} w JOIN und e ON e.a = w.vid
              JOIN s{r} s ON s.vid = e.b
              WHERE s.color IS NOT NULL)"""
        )
        parts.append(
            f"""mx{r} AS MATERIALIZED (
              SELECT vid, MIN(cand) AS c FROM (
                SELECT w.vid,
                       unnest(range(0, COALESCE(n.cnt, 0) + 1)) AS cand
                FROM w{r} w LEFT JOIN (
                  SELECT vid, COUNT(*) AS cnt FROM nc{r} GROUP BY vid
                ) n ON n.vid = w.vid
              ) cd
              WHERE NOT EXISTS (
                SELECT 1 FROM nc{r} u
                WHERE u.vid = cd.vid AND u.color = cd.cand)
              GROUP BY vid)"""
        )
        parts.append(
            f"""s{r + 1} AS MATERIALIZED (
              SELECT s.vid, COALESCE(s.color, m.c) AS color
              FROM s{r} s LEFT JOIN mx{r} m ON m.vid = s.vid)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, CAST(color AS INT) AS color FROM s{rounds}"
    )


BETWEENNESS_LEVELS = 10  # undirected succession ecc is 7 at sf0.01; pads


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brandes betweenness (all sources, undirected, non-normalized
    halved contract) over the succession graph (betweenness.py). The
    oracle unrolls both phases: a 10-level multi-source BFS+sigma ladder,
    then the dependency recurrence back down the same ladder."""
    from hoshizora_spark import Graph, betweenness_centrality

    g = Graph.from_edges(_edges_succession(spark, sf_dir))
    return betweenness_centrality(g, round_dp=6).centrality


def _betweenness_fixed_sql(levels: int = BETWEENNESS_LEVELS) -> str:
    """Exact replay of betweenness.py: forward level h reaches each
    (source, vertex) pair once with the full shortest-path count (all
    predecessors sit one layer down), backward level h finalizes
    delta = sigma * SUM over successors of (1+delta)/sigma. Levels past
    the eccentricity are empty no-ops."""
    parts = [
        f"de AS MATERIALIZED ({_SUCCESSION_SQL})",
        """und AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM de WHERE src <> dst
          UNION SELECT dst, src FROM de WHERE src <> dst)""",
        """vx AS MATERIALIZED (
          SELECT CAST(unnest(range(0,
                   (SELECT MAX(GREATEST(src, dst)) + 1 FROM de))) AS BIGINT)
                   AS vid)""",
        "l0 AS MATERIALIZED (SELECT vid AS s, vid AS v, CAST(1 AS DOUBLE) AS sigma FROM vx)",
        "r0 AS MATERIALIZED (SELECT s, v FROM l0)",
    ]
    for h in range(1, levels + 1):
        parts.append(
            f"""l{h} AS MATERIALIZED (
              SELECT p.s, e.b AS v, SUM(p.sigma) AS sigma
              FROM l{h - 1} p JOIN und e ON e.a = p.v
              WHERE NOT EXISTS (
                SELECT 1 FROM r{h - 1} x WHERE x.s = p.s AND x.v = e.b)
              GROUP BY 1, 2)"""
        )
        parts.append(
            f"""r{h} AS MATERIALIZED (
              SELECT s, v FROM r{h - 1} UNION ALL SELECT s, v FROM l{h})"""
        )
    parts.append(
        f"d{levels} AS MATERIALIZED ("
        f"SELECT s, v, sigma, CAST(0 AS DOUBLE) AS delta FROM l{levels})"
    )
    for h in range(levels - 1, -1, -1):
        parts.append(
            f"""c{h} AS MATERIALIZED (
              SELECT w.s, e.a AS v, SUM((1.0 + w.delta) / w.sigma) AS w8
              FROM d{h + 1} w JOIN und e ON e.b = w.v
              GROUP BY 1, 2)"""
        )
        parts.append(
            f"""d{h} AS MATERIALIZED (
              SELECT l.s, l.v, l.sigma,
                     l.sigma * COALESCE(c.w8, 0) AS delta
              FROM l{h} l LEFT JOIN c{h} c ON c.s = l.s AND c.v = l.v)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT v, delta FROM d{h}" for h in range(1, levels + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
        dd AS MATERIALIZED ({union})
        SELECT vx.vid, ROUND(COALESCE(SUM(dd.delta), 0) / 2, 6) AS betweenness
        FROM vx LEFT JOIN dd ON dd.v = vx.vid
        GROUP BY vx.vid"""
    )


TRUSS_ORACLE_ROUNDS = 20  # Spark converges in 16 at sf0.01; fixpoint pads


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trussness per undirected edge of the mod-20 succession graph
    (1442 edges, truss ladder 2..6 at sf0.01) via the h-index fixpoint
    (truss.py); the oracle unrolls the same operator for
    TRUSS_ORACLE_ROUNDS rounds (extra rounds are no-ops at the fixpoint,
    same convention as kcore_small)."""
    from hoshizora_spark import Graph, k_truss

    g = Graph.from_edges(_edges_succession(spark, sf_dir, mod=20))
    return k_truss(g).trussness


def _truss_fixed_sql(rounds: int = TRUSS_ORACLE_ROUNDS) -> str:
    """Truss h-index iteration unrolled: per round, each triangle member
    contributes min(t of the other two) − 2, then per-edge h-index + 2.
    The CASE handles argmin ties for free: when the min is tied, the
    second-smallest equals the min, so both branches agree."""
    parts = [
        f"de AS MATERIALIZED ({_succession_sql(20)})",
        """und AS MATERIALIZED (
          SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM de GROUP BY 1, 2)""",
        """tri AS MATERIALIZED (
          SELECT u.a AS x, u.b AS y, w.b AS z
          FROM und u JOIN und v ON v.a = u.b
                     JOIN und w ON w.a = u.a AND w.b = v.b)""",
        """mem AS MATERIALIZED (
          SELECT x, y, z, x AS a, y AS b FROM tri
          UNION ALL SELECT x, y, z, x AS a, z AS b FROM tri
          UNION ALL SELECT x, y, z, y AS a, z AS b FROM tri)""",
        "t0 AS MATERIALIZED (SELECT a, b, COUNT(*) + 2 AS t FROM mem GROUP BY a, b)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""j{i} AS MATERIALIZED (
              SELECT m.x, m.y, m.z, m.a, m.b, s.t
              FROM mem m JOIN t{i - 1} s ON s.a = m.a AND s.b = m.b)"""
        )
        parts.append(
            f"""g{i} AS MATERIALIZED (
              SELECT x, y, z, MIN(t) AS mn, SUM(t) - MIN(t) - MAX(t) AS mid
              FROM j{i} GROUP BY 1, 2, 3)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
              SELECT j.a, j.b,
                     CASE WHEN j.t = g.mn THEN g.mid ELSE g.mn END - 2 AS c
              FROM j{i} j JOIN g{i} g
                ON g.x = j.x AND g.y = j.y AND g.z = j.z)"""
        )
        parts.append(
            f"""t{i} AS MATERIALIZED (
              SELECT a, b, MAX(LEAST(c, rn)) + 2 AS t FROM (
                SELECT a, b, c,
                       row_number() OVER (PARTITION BY a, b ORDER BY c DESC) AS rn
                FROM c{i}
              ) GROUP BY a, b)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT u.a, u.b, CAST(COALESCE(t.t, 2) AS BIGINT) AS trussness
        FROM und u LEFT JOIN t{rounds} t ON t.a = u.a AND t.b = u.b"""
    )


def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts (letter/digit/punct runs)."""
    from hoshizora_spark import text

    return text.token_counts_bpe(_docs(spark, sf_dir))


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints over the (augmented) corpus — the
    rolling-hash document-fingerprint op, sha-portable so the full
    fingerprint set hash-checks against SQL."""
    from hoshizora_spark import text

    return text.winnowing_fingerprints(
        _docs_aug(spark, sf_dir), k=7, window=4, max_chars=500
    )


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs above a threshold."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.35)


# ------------------------------------------------- multimodal media ops


def _media_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized media corpus (binary content) + 3 injected exact copies.
    Deterministic digest-derived bytes — same construction in SQL."""
    from hoshizora_spark import multimodal

    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact = d.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    return multimodal.synthesize_media(d.unionByName(exact))


def q_media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality byte-exact dedup over binary media content."""
    from hoshizora_spark import multimodal

    return multimodal.media_exact_dedup(_media_aug(spark, sf_dir))


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hoshizora_spark import multimodal

    return multimodal.media_stats(_media_aug(spark, sf_dir))


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded media metadata — exercises the mapInPandas (Arrow) decode
    path under a full value-hash oracle: the stub codec is a deterministic
    byte parse DuckDB reproduces from hex(content)."""
    from hoshizora_spark import multimodal

    return multimodal.decode_media_meta(_media_aug(spark, sf_dir))


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log2-bucket in-degree histogram — feeds the skew/salting decision."""
    from hoshizora_spark.graph.build import degree_stats

    return degree_stats(_edges_cooccur(spark, sf_dir))


def q_kcore_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness per vertex via the h-index iteration — the fixpoint equals
    peeling's coreness exactly, and the same operator chained as CTEs gives
    a full DuckDB oracle (peeling's data-dependent round count can't)."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.kcore import k_core_hindex

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return k_core_hindex(g).coreness.join(present, "vid").select("vid", "coreness")


def q_kcore_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same h-index coreness through the keyed CSR fold (per-block (dst, h)
    run-length counts over Arrow + the shared _hindex_agg) — bit-identical
    to the DF path (tests/test_engines.py), so the same
    chained-CTE oracle gates it."""
    from hoshizora_spark import Graph
    from hoshizora_spark.algorithms.kcore import k_core_hindex_csr

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    present = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return k_core_hindex_csr(g).coreness.join(present, "vid").select("vid", "coreness")


def q_clustering_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain-style clustering with coarsening (rows-only: iterative).

    HZ_CLUSTERING_CSR=1 routes each level's best-move superstep through
    the CSR gain-argmax fold; labels are bit-identical to the DF plan
    (test_clustering_csr_bitmatches_df_path), so the oracle is green
    through either path."""
    import os

    from hoshizora_spark import Graph, clustering

    edges = _edges_cooccur(spark, sf_dir).filter(
        (F.col("src") < 200) & (F.col("dst") < 200)
    )
    g = Graph.from_edges(edges)
    use_csr = os.environ.get("HZ_CLUSTERING_CSR", "") == "1"
    return clustering(g, num_clusters_hint=10, use_csr=use_csr).assign


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": q_dedup_exact,
        "token_counts": q_token_counts,
        "quality_scores": q_quality_scores,
        "lang_scores": q_lang_scores,
        "jaccard_near_dup": q_jaccard_near_dup,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "cosine_near_dup_lsh": q_cosine_near_dup_lsh,
        "media_dedup_exact": q_media_dedup_exact,
        "media_stats": q_media_stats,
        "media_meta": q_media_meta,
        "bfs_distances_small": q_bfs_distances_small,
        "token_counts_bpe": q_token_counts_bpe,
        "winnowing_fingerprints": q_winnowing,
        "cosine_near_dup": q_cosine_near_dup,
        "degree_histogram": q_degree_histogram,
        "kcore_small": q_kcore_small,
        "kcore_csr": q_kcore_csr,
        "clustering_modularity": q_clustering_modularity,
        "edge_extract_bipartite": q_edge_extract_bipartite,
        "edge_extract_cooccur": q_edge_extract_cooccur,
        "degree_topk": q_degree_topk,
        "dense_id_compaction": q_dense_id_compaction,
        "triangle_total": q_triangle_total,
        "triangle_total_bipartite": q_triangle_total_bipartite,
        "connected_components_small": q_connected_components_small,
        "pagerank_fixed30": q_pagerank_fixed30,
        "smoothed_pagerank_fixed20": q_smoothed_pagerank_fixed20,
        "pagerank_csr_fixed30": q_pagerank_csr_fixed30,
        "pagerank_weighted_fixed30": q_pagerank_weighted_fixed30,
        "pagerank_weighted_csr_fixed30": q_pagerank_weighted_csr_fixed30,
        "personalized_pagerank_fixed30": q_personalized_pagerank_fixed30,
        "personalized_pagerank_csr_fixed30": q_personalized_pagerank_csr_fixed30,
        "label_propagation_small": q_label_propagation_small,
        "label_propagation_csr": q_label_propagation_csr,
        "bfs_distances_csr_small": q_bfs_distances_csr_small,
        "clustering_modularity_csr": q_clustering_modularity_csr,
        "sssp_distances_small": q_sssp_distances_small,
        "sssp_distances_csr_small": q_sssp_distances_csr_small,
        "ivf_topk_distributed": q_ivf_topk_distributed,
        "clustering_coefficients": q_clustering_coefficients,
        "anf_exact_small": q_anf_exact_small,
        "harmonic_centrality_small": q_harmonic_centrality_small,
        "degree_assortativity": q_degree_assortativity,
        "hits_fixed20": q_hits_fixed20,
        "scc_succession": q_scc_succession,
        "link_prediction": q_link_prediction,
        "random_walks": q_random_walks,
        "k_truss": q_k_truss,
        "mis_succession": q_mis_succession,
        "betweenness_succession": q_betweenness,
        "coloring_succession": q_coloring,
        "msf_succession": q_msf,
        "densest_succession": q_densest,
    }


# ---------------------------------------------------------------- oracles


_COOCCUR_SQL = """
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
"""


_AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 3
    UNION ALL
    SELECT doc_id + 1000000, text || ' extra token tail' FROM documents WHERE doc_id < 5
"""

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_STOPLIST = "('the','a','of','and','to','in','is','on','for','with')"

# rounds the chained-CTE h-index oracle unrolls; must cover convergence on
# the src<200 subgraph at the driver's sf (fixpoint rounds are no-ops)
KCORE_ORACLE_ROUNDS = 20

_COSINE_TOPK_SQL = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6) AS cos
      FROM q, embeddings e
      WHERE e.vec_id != q.query_id
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
      ) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, cos FROM r WHERE rn <= 5
"""

_JACCARD_SQL = f"""
    WITH aug AS ({_AUG_SQL}),
    norm AS (SELECT doc_id, string_split_regex({_NORM}, ' ') AS t FROM aug),
    grams AS (
      SELECT DISTINCT doc_id,
             t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] || ' '
               || t[CAST(i + 2 AS INT)] AS gram
      FROM norm, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    inter AS (
      SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS i
      FROM grams ga JOIN grams gb
        ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           round(i * 1.0 / (sa.n_grams + sb.n_grams - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE i * 1.0 / (sa.n_grams + sb.n_grams - i) >= 0.5
"""


_COSINE_NEAR_DUP_SQL = """
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
"""


def _lang_score_sql(markers: list[str]) -> str:
    terms = [
        f"CAST((length(low) - length(replace(low, '{w}', ''))) / {len(w)} AS BIGINT)"
        for w in markers
    ]
    return " + ".join(terms)


# ---- chained-CTE oracles for the fixed-iteration iterative algorithms ----
#
# DuckDB's recursive CTEs can't aggregate over the recursive relation, but a
# FIXED iteration count unrolls into ordinary chained CTEs — and a fixed
# count is exactly what makes the comparison deterministic: both engines
# apply the identical operator the identical number of times (early fixpoint
# exits on the Spark side are safe because the operators are stationary at
# their fixpoint).

_FILT_COOCCUR = f"SELECT src, dst FROM ({_COOCCUR_SQL}) WHERE src < 200 AND dst < 200"


def _pagerank_fixed_sql(iters: int, seeds: list[int] | None = None) -> str:
    """PageRank with reference semantics (SURVEY §2.4: init 1.0, msg
    r/out_deg, new = 0.85·Σ + 0.15/N, dense domain incl. isolated ids, no
    dangling fix), or the teleport-set variant when ``seeds`` is given."""
    if seeds is None:
        init_r = "CAST(1.0 AS DOUBLE)"
        jump = "0.15 / (SELECT n FROM nv)"
    else:
        s = ", ".join(str(int(x)) for x in seeds)
        init_r = f"CASE WHEN vid IN ({s}) THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END"
        jump = f"CASE WHEN v.vid IN ({s}) THEN 0.15 / {len(seeds)} ELSE 0.0 END"
    parts = [
        f"e AS MATERIALIZED ({_COOCCUR_SQL})",
        "nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM e)",
        "verts AS MATERIALIZED (SELECT unnest(generate_series(0, (SELECT n - 1 FROM nv))) AS vid)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src)",
        f"pr0 AS MATERIALIZED (SELECT vid, {init_r} AS r FROM verts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""pr{i} AS MATERIALIZED (
              SELECT v.vid, 0.85 * coalesce(m.acc, 0) + {jump} AS r
              FROM verts v LEFT JOIN (
                SELECT e.dst AS vid, sum(p.r / d.d) AS acc
                FROM e JOIN pr{i - 1} p ON p.vid = e.src
                       JOIN deg d ON d.src = e.src
                GROUP BY e.dst
              ) m ON m.vid = v.vid
            )"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT vid, round(r, 6) AS rank FROM pr{iters}"
    )


def _smoothed_pagerank_fixed_sql(iters: int, beta: float = 0.5) -> str:
    """Edge-state smoothed-message PageRank, unrolled: per superstep one
    rank fold r_{i-1} = 0.85·Σ_in m_{i-1} + 0.15/N and one per-edge update
    m_i = (1-beta)·m_{i-1} + beta·r_{i-1}·w, rank read from m_iters at the
    end. Float-op order mirrors the Spark expressions exactly
    ((1-beta)*m first, then (beta*r)*w; w = 1/out_deg precomputed once)."""
    parts = [
        f"e AS MATERIALIZED ({_COOCCUR_SQL})",
        "nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM e)",
        "verts AS MATERIALIZED (SELECT unnest(generate_series(0, (SELECT n - 1 FROM nv))) AS vid)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src)",
        # cooccur edges are DISTINCT pairs, so Spark's w = mult/out_deg is 1/d
        "we AS MATERIALIZED (SELECT e.src, e.dst, 1 / d.d AS w FROM e JOIN deg d ON d.src = e.src)",
        "m0 AS MATERIALIZED (SELECT src, dst, w, w AS m FROM we)",
    ]
    rank_of = (
        "SELECT v.vid, 0.85 * coalesce(mm.acc, 0) + 0.15 / (SELECT n FROM nv) AS r\n"
        "              FROM verts v LEFT JOIN (\n"
        "                SELECT dst AS vid, sum(m) AS acc FROM m{src} GROUP BY dst\n"
        "              ) mm ON mm.vid = v.vid"
    )
    for i in range(1, iters + 1):
        parts.append(f"r{i - 1} AS MATERIALIZED ({rank_of.format(src=i - 1)})")
        parts.append(
            f"""m{i} AS MATERIALIZED (
              SELECT m.src, m.dst, m.w, {1.0 - beta} * m.m + {beta} * r.r * m.w AS m
              FROM m{i - 1} m JOIN r{i - 1} r ON r.vid = m.src
            )"""
        )
    final = rank_of.format(src=iters)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, round(r, 6) AS rank FROM ({final})"
    )


_WCOOCCUR_SQL = """
    SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
           CAST(count(*) AS DOUBLE) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
"""


def _pagerank_weighted_fixed_sql(iters: int) -> str:
    """Weighted PageRank: msg = r(src) · w(src,dst) / Σ_dst' w(src,dst').

    Float-op-order caveat (shared with the unweighted oracle): this sums
    ``r·w/tw`` per edge while the Spark path precomputes ``w/tw`` once and
    sums ``r·(w/tw)`` — the two differ in the last ulp for some inputs, so
    a round(,6) value-hash could flip at an exact rounding boundary on
    other scale factors. Accepted per repo convention (green at sf0.01;
    any flip would show as a 1-in-the-6th-decimal diff, not a logic bug).
    """
    parts = [
        f"we AS MATERIALIZED ({_WCOOCCUR_SQL})",
        "nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM we)",
        "verts AS MATERIALIZED (SELECT unnest(generate_series(0, (SELECT n - 1 FROM nv))) AS vid)",
        "tot AS MATERIALIZED (SELECT src, sum(w) AS tw FROM we GROUP BY src)",
        "pr0 AS MATERIALIZED (SELECT vid, CAST(1.0 AS DOUBLE) AS r FROM verts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""pr{i} AS MATERIALIZED (
              SELECT v.vid, 0.85 * coalesce(m.acc, 0) + 0.15 / (SELECT n FROM nv) AS r
              FROM verts v LEFT JOIN (
                SELECT e.dst AS vid, sum(p.r * e.w / t.tw) AS acc
                FROM we e JOIN pr{i - 1} p ON p.vid = e.src
                          JOIN tot t ON t.src = e.src
                GROUP BY e.dst
              ) m ON m.vid = v.vid
            )"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT vid, round(r, 6) AS rank FROM pr{iters}"
    )


def _lpa_fixed_sql(rounds: int) -> str:
    """Sync LPA, min-label tiebreak, over the src<200 undirected subgraph."""
    parts = [
        f"fe AS MATERIALIZED ({_FILT_COOCCUR})",
        "und AS MATERIALIZED (SELECT src, dst FROM fe UNION SELECT dst, src FROM fe)",
        "present AS MATERIALIZED (SELECT DISTINCT src AS vid FROM und)",
        "l0 AS MATERIALIZED (SELECT vid, vid AS label FROM present)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""b{i} AS MATERIALIZED (
              SELECT dst AS vid, label AS best FROM (
                SELECT dst, label,
                       row_number() OVER (
                         PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
                FROM (SELECT e.dst, l.label, count(*) AS cnt
                      FROM und e JOIN l{i - 1} l ON l.vid = e.src
                      GROUP BY 1, 2)
              ) WHERE rn = 1
            )"""
        )
        parts.append(
            f"""l{i} AS MATERIALIZED (
              SELECT l.vid, coalesce(b.best, l.label) AS label
              FROM l{i - 1} l LEFT JOIN b{i} b ON b.vid = l.vid
            )"""
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT vid, label FROM l{rounds}"


def _kcore_hindex_sql(rounds: int) -> str:
    """Coreness = fixpoint of the neighbor h-index operator starting from
    degree (Lü et al. 2016); ``rounds`` must cover convergence on this
    subgraph (extra rounds are no-ops at the fixpoint)."""
    parts = [
        f"fe AS MATERIALIZED ({_FILT_COOCCUR})",
        "und AS MATERIALIZED (SELECT src, dst FROM fe UNION SELECT dst, src FROM fe)",
        "h0 AS MATERIALIZED (SELECT src AS vid, count(*) AS h FROM und GROUP BY src)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""h{i} AS MATERIALIZED (
              SELECT vid, max(least(c, rn)) AS h FROM (
                SELECT e.dst AS vid, s.h AS c,
                       row_number() OVER (
                         PARTITION BY e.dst ORDER BY s.h DESC) AS rn
                FROM und e JOIN h{i - 1} s ON s.vid = e.src
              ) GROUP BY vid
            )"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, CAST(h AS BIGINT) AS coreness FROM h{rounds}"
    )


_MEDIA_SQL = """
    SELECT doc_id,
           CASE (doc_id % 1000000) % 3
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           unhex(sha256(text) || sha256(text || 'x')
                 || sha256(text || 'y') || sha256(text || 'z')) AS content
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 3)
"""


def _duck_hexbyte(hexpr: str, i: int) -> str:
    """Byte i (0-based) of a blob from its uppercase hex string, as BIGINT."""
    return (
        f"((strpos('0123456789ABCDEF', substring({hexpr}, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos('0123456789ABCDEF', substring({hexpr}, {2 * i + 2}, 1)) - 1))"
    )


def _media_meta_sql() -> str:
    b = [_duck_hexbyte("hx", i) for i in range(4)]
    return f"""
        WITH media AS MATERIALIZED ({_MEDIA_SQL}),
        h AS (SELECT doc_id, modality, octet_length(content) AS n_bytes,
                     hex(content) AS hx
              FROM media)
        SELECT doc_id, modality, CAST(n_bytes AS BIGINT) AS n_bytes,
               CAST(({b[0]} * 256 + {b[1]}) % 1920 + 1 AS INTEGER) AS width,
               CAST(({b[2]} * 256 + {b[3]}) % 1080 + 1 AS INTEGER) AS height,
               CAST(CASE WHEN modality = 'image' THEN 3 ELSE 1 END AS INTEGER) AS channels
        FROM h
    """


def _clustering_fixed_sql(
    levels: int = 6,
    jump_hops: int = 10,
    hint: int = 10,
    threshold: float = 3e-5,
) -> str:
    """Louvain-with-coarsening oracle: the full driver loop (best-gain move
    pass → pointer-jump smoothing → ascending dense pack → coarsen) unrolled
    ``levels`` times with a freeze flag that turns post-stop levels into
    passthroughs — emulating the data-dependent `while` exactly, because the
    Spark side always packs before checking its stop condition.

    Float safety: every weight/e_ii is a sum of 1.0s (exact integers in
    doubles), so q = int/(2M), gain = 2·(int/(2M) − q·q) are computed from
    identical operands in both engines → bit-identical, and the
    (gain desc, src asc) argmax and `gain > threshold` cut cannot diverge.
    """
    parts = [
        f"fe AS MATERIALIZED ({_FILT_COOCCUR})",
        "mm AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS m FROM fe)",
        "nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM fe)",
        "verts AS MATERIALIZED (SELECT unnest(generate_series(0, (SELECT n - 1 FROM nv))) AS vid)",
        "a0 AS MATERIALIZED (SELECT vid, vid AS coarse FROM verts)",
        "e0 AS MATERIALIZED (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM fe WHERE src != dst)",
        "p0 AS MATERIALIZED (SELECT vid AS cid, CAST(0.0 AS DOUBLE) AS e_ii FROM verts)",
        "s0 AS MATERIALIZED (SELECT FALSE AS done)",
    ]
    for l in range(1, levels + 1):
        pv, ev, av, sv = f"p{l - 1}", f"e{l - 1}", f"a{l - 1}", f"s{l - 1}"
        parts += [
            f"""ow{l} AS MATERIALIZED (
              SELECT src AS cid, sum(w) AS ow FROM {ev} GROUP BY 1)""",
            f"""iw{l} AS MATERIALIZED (
              SELECT dst AS cid, sum(w) AS iw FROM {ev} GROUP BY 1)""",
            f"""q{l} AS MATERIALIZED (
              SELECT p.cid,
                     (p.e_ii + coalesce(o.ow, 0.0) + coalesce(i.iw, 0.0))
                       / (2.0 * (SELECT m FROM mm)) AS q
              FROM {pv} p
              LEFT JOIN ow{l} o ON o.cid = p.cid
              LEFT JOIN iw{l} i ON i.cid = p.cid)""",
            f"""g{l} AS MATERIALIZED (
              SELECT e.src, e.dst,
                     2.0 * (e.w / (2.0 * (SELECT m FROM mm)) - qs.q * qd.q) AS gain
              FROM {ev} e
              JOIN q{l} qs ON qs.cid = e.src
              JOIN q{l} qd ON qd.cid = e.dst)""",
            f"""b{l} AS MATERIALIZED (
              SELECT dst, src FROM (
                SELECT dst, src, row_number() OVER (
                  PARTITION BY dst ORDER BY gain DESC, src ASC) AS rn
                FROM g{l} WHERE gain > {threshold!r}
              ) WHERE rn = 1)""",
            f"""mv{l} AS MATERIALIZED (
              SELECT p.cid,
                     CASE WHEN b.src IS NOT NULL
                          THEN least(b.src, p.cid) ELSE p.cid END AS new_label,
                     b.src IS NOT NULL AS moved
              FROM {pv} p LEFT JOIN b{l} b ON b.dst = p.cid)""",
            f"j{l}_0 AS MATERIALIZED (SELECT cid, new_label FROM mv{l})",
        ]
        for h in range(1, jump_hops + 1):
            parts.append(
                f"""j{l}_{h} AS MATERIALIZED (
                  SELECT x.cid, coalesce(y.new_label, x.new_label) AS new_label
                  FROM j{l}_{h - 1} x LEFT JOIN j{l}_{h - 1} y ON y.cid = x.new_label)"""
            )
        jf = f"j{l}_{jump_hops}"
        parts += [
            f"""pk{l} AS MATERIALIZED (
              SELECT lbl, row_number() OVER (ORDER BY lbl) - 1 AS packed
              FROM (SELECT DISTINCT new_label AS lbl FROM {jf}))""",
            f"""cm{l} AS MATERIALIZED (
              SELECT j.cid, pk.packed FROM {jf} j JOIN pk{l} pk ON pk.lbl = j.new_label)""",
            f"""st{l} AS MATERIALIZED (
              SELECT (SELECT count(*) FROM pk{l}) AS k,
                     (SELECT count(*) FROM mv{l} WHERE moved) > 0 AS any_moved)""",
            f"""a{l} AS MATERIALIZED (
              SELECT a.vid,
                     CASE WHEN (SELECT done FROM {sv}) THEN a.coarse
                          ELSE cm.packed END AS coarse
              FROM {av} a LEFT JOIN cm{l} cm ON cm.cid = a.coarse)""",
            f"""s{l} AS MATERIALIZED (
              SELECT CASE WHEN (SELECT done FROM {sv}) THEN TRUE
                          ELSE NOT ((SELECT k FROM st{l}) > {hint}
                                    AND (SELECT any_moved FROM st{l})) END AS done)""",
            f"""r{l} AS MATERIALIZED (
              SELECT cs.packed AS c_src, cd.packed AS c_dst, sum(e.w) AS w
              FROM {ev} e
              JOIN cm{l} cs ON cs.cid = e.src
              JOIN cm{l} cd ON cd.cid = e.dst
              GROUP BY 1, 2)""",
            f"""e{l} AS MATERIALIZED (
              SELECT src, dst, w FROM {ev} WHERE (SELECT done FROM s{l})
              UNION ALL
              SELECT c_src AS src, c_dst AS dst, w FROM r{l}
              WHERE c_src != c_dst AND NOT (SELECT done FROM s{l}))""",
            f"""p{l} AS MATERIALIZED (
              SELECT cid, e_ii FROM {pv} WHERE (SELECT done FROM s{l})
              UNION ALL
              SELECT ca.packed AS cid,
                     ca.old_eii + coalesce(ir.intra_w, 0.0) AS e_ii
              FROM (SELECT cm.packed, sum(p.e_ii) AS old_eii
                    FROM {pv} p JOIN cm{l} cm ON cm.cid = p.cid GROUP BY 1) ca
              LEFT JOIN (SELECT c_src AS cid, w AS intra_w
                         FROM r{l} WHERE c_src = c_dst) ir ON ir.cid = ca.packed
              WHERE NOT (SELECT done FROM s{l}))""",
        ]
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, CAST(coarse AS BIGINT) AS cluster FROM a{levels}"
    )


def _bfs_fixed_sql(rounds: int = 15, source: int = 1) -> str:
    """Fixed-round BFS relax over the src<200 undirected subgraph;
    INF sentinel = 2^62 (matches the Spark implementation), -1 output."""
    inf = 2**62
    parts = [
        f"fe AS MATERIALIZED ({_FILT_COOCCUR})",
        "und AS MATERIALIZED (SELECT src, dst FROM fe UNION SELECT dst, src FROM fe)",
        "present AS MATERIALIZED (SELECT DISTINCT src AS vid FROM und)",
        f"""d0 AS MATERIALIZED (
          SELECT vid, CASE WHEN vid = {source} THEN 0
                           ELSE CAST({inf} AS BIGINT) END AS dist
          FROM present)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
              SELECT d.vid, least(d.dist, coalesce(r.cand, d.dist)) AS dist
              FROM d{i - 1} d LEFT JOIN (
                SELECT e.dst AS vid, min(s.dist) + 1 AS cand
                FROM und e JOIN d{i - 1} s ON s.vid = e.src
                WHERE s.dist < {inf}
                GROUP BY e.dst
              ) r ON r.vid = d.vid)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, CASE WHEN dist >= {inf} THEN -1 ELSE dist END AS dist FROM d{rounds}"
    )


def _sssp_fixed_sql(rounds: int = 15, source: int = 1) -> str:
    """Fixed-round Bellman-Ford relax over the src<200 undirected subgraph
    with weight (src + 2·dst) % 5 + 1 per directed edge (both directions);
    INF sentinel = 2^62 (matches the Spark implementation), -1.0 output.
    Stationary at fixpoint, so rounds only needs to cover convergence
    (measured 3 at sf0.01; 15 mirrors the BFS oracle's margin). Every
    candidate is the same float64 op chain on both sides (dist + w, min),
    so the doubles hash-match bit-for-bit."""
    inf = float(2**62)
    parts = [
        f"fe AS MATERIALIZED (SELECT src, dst, CAST((src + 2*dst) % 5 + 1 AS DOUBLE) AS w FROM ({_FILT_COOCCUR}))",
        "und AS MATERIALIZED (SELECT src, dst, w FROM fe UNION ALL SELECT dst, src, w FROM fe)",
        "present AS MATERIALIZED (SELECT DISTINCT src AS vid FROM und)",
        f"""d0 AS MATERIALIZED (
          SELECT vid, CASE WHEN vid = {source} THEN CAST(0.0 AS DOUBLE)
                           ELSE CAST({inf} AS DOUBLE) END AS dist
          FROM present)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
              SELECT d.vid, least(d.dist, coalesce(r.cand, d.dist)) AS dist
              FROM d{i - 1} d LEFT JOIN (
                SELECT e.dst AS vid, min(s.dist + e.w) AS cand
                FROM und e JOIN d{i - 1} s ON s.vid = e.src
                WHERE s.dist < {inf}
                GROUP BY e.dst
              ) r ON r.vid = d.vid)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, CASE WHEN dist >= {inf} THEN CAST(-1.0 AS DOUBLE) ELSE dist END AS dist FROM d{rounds}"
    )


def _anf_fixed_sql(rounds: int = _ANF_H) -> str:
    """Fixed-round reachability closure over the src<200 undirected
    subgraph (dense vertex domain incl. isolated ids): r_i = r_{i-1} ∪
    (r_{i-1} ∘ edges), N(h) = |r_h|. Stationary at the fixpoint, matching
    the Spark side's padded ladder."""
    parts = [
        f"fe AS MATERIALIZED ({_FILT_COOCCUR})",
        "und AS MATERIALIZED (SELECT src, dst FROM fe UNION SELECT dst, src FROM fe)",
        """verts AS MATERIALIZED (
          SELECT unnest(generate_series(0,
                   (SELECT max(greatest(src, dst)) FROM fe))) AS vid)""",
        "r0 AS MATERIALIZED (SELECT vid AS s, vid AS t FROM verts)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""r{i} AS MATERIALIZED (
              SELECT s, t FROM r{i - 1}
              UNION
              SELECT r.s, u.dst AS t FROM r{i - 1} r JOIN und u ON u.src = r.t)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS h, (SELECT count(*) FROM r{i}) AS n_pairs"
        for i in range(rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT h, n_pairs FROM ({selects}) ORDER BY h"


def _harmonic_fixed_sql(rounds: int = 15) -> str:
    """Fixed-round all-pairs min-distance closure over the src<200
    undirected subgraph, then H(v) = Σ_{u≠v} 1/d(u,v) (round-6, the
    double-sum convention — Spark and DuckDB sum 1/d in different
    orders). Stationary at the fixpoint."""
    parts = [
        f"fe AS MATERIALIZED ({_FILT_COOCCUR})",
        "und AS MATERIALIZED (SELECT src, dst FROM fe UNION SELECT dst, src FROM fe)",
        """verts AS MATERIALIZED (
          SELECT unnest(generate_series(0,
                   (SELECT max(greatest(src, dst)) FROM fe))) AS vid)""",
        "ap0 AS MATERIALIZED (SELECT vid AS s, vid AS t, 0 AS dist FROM verts)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""ap{i} AS MATERIALIZED (
              SELECT s, t, min(dist) AS dist FROM (
                SELECT s, t, dist FROM ap{i - 1}
                UNION ALL
                SELECT r.s, u.dst AS t, r.dist + 1 AS dist
                FROM ap{i - 1} r JOIN und u ON u.src = r.t
              ) GROUP BY s, t)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT v.vid, round(coalesce(h.c, 0.0), 6) AS centrality
        FROM verts v LEFT JOIN (
          SELECT t AS vid, sum(1.0 / dist) AS c
          FROM ap{rounds} WHERE dist > 0 GROUP BY t
        ) h ON h.vid = v.vid"""
    )


def _hits_fixed_sql(iters: int = 20) -> str:
    """HITS unrolled: per round ar = Σ_in h (LEFT JOIN keeps the dense
    domain), an = L1-normalize, hr = Σ_out an, s = L1-normalize — the
    exact sequence hits() evaluates in one superstep plan. round-6 per
    the double-sum convention."""
    parts = [
        f"e AS MATERIALIZED ({_COOCCUR_SQL})",
        """verts AS MATERIALIZED (
          SELECT unnest(generate_series(0,
                   (SELECT max(greatest(src, dst)) FROM e))) AS vid)""",
        """s0 AS MATERIALIZED (
          SELECT vid, CAST(1.0 AS DOUBLE) AS a, CAST(1.0 AS DOUBLE) AS h
          FROM verts)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""ar{i} AS MATERIALIZED (
              SELECT v.vid, coalesce(m.s, 0.0) AS raw
              FROM verts v LEFT JOIN (
                SELECT e.dst AS vid, sum(p.h) AS s
                FROM e JOIN s{i - 1} p ON p.vid = e.src GROUP BY e.dst
              ) m ON m.vid = v.vid)"""
        )
        parts.append(
            f"""an{i} AS MATERIALIZED (
              SELECT vid, CASE WHEN (SELECT sum(raw) FROM ar{i}) > 0
                   THEN raw / (SELECT sum(raw) FROM ar{i}) ELSE 0.0 END AS a
              FROM ar{i})"""
        )
        parts.append(
            f"""hr{i} AS MATERIALIZED (
              SELECT v.vid, coalesce(m.s, 0.0) AS raw
              FROM verts v LEFT JOIN (
                SELECT e.src AS vid, sum(p.a) AS s
                FROM e JOIN an{i} p ON p.vid = e.dst GROUP BY e.src
              ) m ON m.vid = v.vid)"""
        )
        parts.append(
            f"""s{i} AS MATERIALIZED (
              SELECT a.vid, a.a,
                     CASE WHEN (SELECT sum(raw) FROM hr{i}) > 0
                          THEN h.raw / (SELECT sum(raw) FROM hr{i})
                          ELSE 0.0 END AS h
              FROM an{i} a JOIN hr{i} h ON h.vid = a.vid)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vid, round(a, 6) AS authority, round(h, 6) AS hub FROM s{iters}"
    )


def _winnowing_sql(k: int = 7, window: int = 4, max_chars: int = 500) -> str:
    def hex15(expr: str) -> str:
        return _duck_hex15_to_long(f"substring(sha256({expr}), 1, 15)")

    return f"""
        WITH aug AS ({_AUG_SQL}),
        norm AS (
          SELECT doc_id, substring({_NORM}, 1, {max_chars}) AS t FROM aug
        ),
        hs AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(t) - {k} + 1),
                                i -> {hex15(f"substring(t, CAST(i AS INT), {k})")}) AS hs
          FROM norm WHERE length(t) >= {k}
        ),
        mins AS (
          SELECT doc_id,
                 CASE WHEN len(hs) >= {window}
                      THEN list_transform(generate_series(1, len(hs) - {window} + 1),
                                          j -> list_min(hs[CAST(j AS INT):CAST(j + {window - 1} AS INT)]))
                      ELSE [list_min(hs)] END AS ms
          FROM hs
        )
        SELECT DISTINCT doc_id, unnest(ms) AS fp FROM mins
    """


def _duck_hex15_to_long(hexpr: str) -> str:
    """Positional base-16 parse of a 15-char hex string (DuckDB has no
    conv()); 60 bits fits BIGINT exactly like the Spark side."""
    terms = [
        f"(strpos('0123456789abcdef', substring({hexpr}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (14 - i)} AS BIGINT)"
        for i in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


def _simhash_sha60_sql() -> str:
    h60 = _duck_hex15_to_long("substring(sha256(tok), 1, 15)")
    vote_cols = ",\n".join(
        f"      sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60)
    )
    fp = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(60)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex({_NORM}, ' ')) AS tok
          FROM documents
        ),
        h AS (
          SELECT doc_id, {h60} AS h FROM toks WHERE tok != ''
        ),
        votes AS (
          SELECT doc_id,
{vote_cols}
          FROM h GROUP BY doc_id
        )
        SELECT doc_id, {fp} AS simhash FROM votes
    """


def oracle_sql() -> dict[str, str]:
    from hoshizora_spark.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    score_cols = ",\n".join(
        f"        {_lang_score_sql(ws)} AS {lang}_score" for lang, ws in LANG_MARKERS.items()
    )
    pred_cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"{lang}_score >= {l}_score" for l in langs[i + 1:])
        pred_cases.append(f"WHEN {conds} THEN '{lang}'")
    pred_sql = "CASE " + " ".join(pred_cases) + f" ELSE '{langs[-1]}' END"

    return {
        "dedup_exact": f"""
            WITH aug AS ({_AUG_SQL})
            SELECT sha256({_NORM}) AS content_hash,
                   min(doc_id) AS keep_id,
                   count(*) - 1 AS n_dups
            FROM aug GROUP BY 1
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_measured
            FROM documents
        """,
        "quality_scores": f"""
            WITH s AS (
              SELECT doc_id, text,
                     string_split_regex({_NORM}, ' ') AS toks,
                     length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS punct
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   round(punct * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_filter(toks, w -> w IN {_STOPLIST})) * 1.0
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   round(least(len(toks) / 100.0, 1.0)
                         * (1.0 - punct * 1.0 / greatest(length(text), 1))
                         * (0.5 + len(list_filter(toks, w -> w IN {_STOPLIST})) * 1.0
                                / greatest(len(toks), 1)), 6) AS quality
            FROM s
        """,
        "lang_scores": f"""
            WITH low AS (SELECT doc_id, lower(text) AS low FROM documents),
            s AS (
              SELECT doc_id,
{score_cols}
              FROM low
            )
            SELECT *, {pred_sql} AS pred_lang FROM s
        """,
        "jaccard_near_dup": _JACCARD_SQL,
        "degree_histogram": f"""
            WITH e AS ({_COOCCUR_SQL}),
            indeg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY dst)
            SELECT CAST(floor(log2(in_deg)) AS BIGINT) AS bucket,
                   count(*) AS n_vertices,
                   max(in_deg) AS max_in_deg
            FROM indeg GROUP BY 1 ORDER BY bucket
        """,
        "cosine_topk": _COSINE_TOPK_SQL,
        # LSH ANN re-ranks candidates with exact cosine, so its output can
        # only differ from exact top-k by missed candidates: the exact SQL
        # is the oracle AND the recall gate.
        "ann_lsh_topk": _COSINE_TOPK_SQL,
        # LSH near-dup verifies candidates with exact Jaccard → subset of
        # the exact pairs; equality with the exact SQL gates recall = 1.0.
        "minhash_near_dup": _JACCARD_SQL,
        "simhash": _simhash_sha60_sql(),
        "media_dedup_exact": f"""
            WITH media AS MATERIALIZED ({_MEDIA_SQL})
            SELECT modality, sha256(hex(content)) AS content_hash,
                   min(doc_id) AS keep_id, count(*) - 1 AS n_dups
            FROM media GROUP BY 1, 2
        """,
        "media_stats": f"""
            WITH media AS MATERIALIZED ({_MEDIA_SQL})
            SELECT modality, count(*) AS n_items,
                   CAST(sum(octet_length(content)) AS BIGINT) AS total_bytes,
                   count(DISTINCT sha256(hex(content))) AS distinct_contents
            FROM media GROUP BY 1
        """,
        "media_meta": _media_meta_sql(),
        "token_counts_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_alpha_runs,
                   CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
                   CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]+')) AS BIGINT) AS n_punct_runs
            FROM documents
        """,
        "winnowing_fingerprints": _winnowing_sql(),
        "cosine_near_dup": _COSINE_NEAR_DUP_SQL,
        # LSH near-dup verifies candidates with exact cosine → subset of
        # the exact pairs; equality with the all-pairs SQL gates recall.
        "cosine_near_dup_lsh": _COSINE_NEAR_DUP_SQL,
        # nprobe == n_centroids probes every IVF cell → exact top-k by
        # construction; the exact SQL checks assignment+probe+re-rank.
        "ivf_topk": _COSINE_TOPK_SQL,
        "pagerank_fixed30": _pagerank_fixed_sql(PR_ITERS),
        "smoothed_pagerank_fixed20": _smoothed_pagerank_fixed_sql(20),
        # CSR engine paths share the DF oracles — same fixed point, same
        # rounding; bit-level path equivalence is additionally asserted in
        # tests/test_engines.py
        "pagerank_csr_fixed30": _pagerank_fixed_sql(PR_ITERS),
        "pagerank_weighted_fixed30": _pagerank_weighted_fixed_sql(PR_ITERS),
        "pagerank_weighted_csr_fixed30": _pagerank_weighted_fixed_sql(PR_ITERS),
        "personalized_pagerank_fixed30": _pagerank_fixed_sql(PR_ITERS, seeds=[1, 2, 3]),
        "personalized_pagerank_csr_fixed30": _pagerank_fixed_sql(PR_ITERS, seeds=[1, 2, 3]),
        "label_propagation_small": _lpa_fixed_sql(10),
        "label_propagation_csr": _lpa_fixed_sql(10),
        "kcore_small": _kcore_hindex_sql(KCORE_ORACLE_ROUNDS),
        "kcore_csr": _kcore_hindex_sql(KCORE_ORACLE_ROUNDS),
        "bfs_distances_small": _bfs_fixed_sql(),
        "bfs_distances_csr_small": _bfs_fixed_sql(),
        "sssp_distances_small": _sssp_fixed_sql(),
        "sssp_distances_csr_small": _sssp_fixed_sql(),
        "ivf_topk_distributed": _COSINE_TOPK_SQL,
        "anf_exact_small": _anf_fixed_sql(),
        "harmonic_centrality_small": _harmonic_fixed_sql(),
        "hits_fixed20": _hits_fixed_sql(20),
        "scc_succession": f"""
            WITH e AS MATERIALIZED ({_SUCCESSION_SQL}),
            v AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e),
            -- doubling-ladder transitive closure: r_k holds all (u, v)
            -- with a path of length <= 2^k (r0 is reflexive + 1-step);
            -- 2^7 = 128 >= V at sf0.01, so r7 is the full closure
            r0 AS MATERIALIZED (
              SELECT vid AS u, vid AS v FROM v
              UNION SELECT src AS u, dst AS v FROM e),
            r1 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r0 a JOIN r0 b ON a.v = b.u),
            r2 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r1 a JOIN r1 b ON a.v = b.u),
            r3 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r2 a JOIN r2 b ON a.v = b.u),
            r4 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r3 a JOIN r3 b ON a.v = b.u),
            r5 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r4 a JOIN r4 b ON a.v = b.u),
            r6 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r5 a JOIN r5 b ON a.v = b.u),
            r7 AS MATERIALIZED (SELECT DISTINCT a.u, b.v FROM r6 a JOIN r6 b ON a.v = b.u)
            SELECT r.u AS vid, MAX(r.v) AS scc
            FROM r7 r JOIN r7 rr ON r.u = rr.v AND r.v = rr.u
            GROUP BY r.u
        """,
        "random_walks": _walks_fixed_sql(),
        "k_truss": _truss_fixed_sql(),
        "mis_succession": _mis_fixed_sql(),
        "betweenness_succession": _betweenness_fixed_sql(),
        "coloring_succession": _coloring_fixed_sql(),
        "msf_succession": _msf_fixed_sql(),
        "densest_succession": _densest_fixed_sql(),
        "link_prediction": f"""
            WITH de AS MATERIALIZED ({_SUCCESSION_SQL}),
            und AS MATERIALIZED (
              SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
              FROM de WHERE src <> dst GROUP BY 1, 2
            ),
            sym AS (SELECT a AS w, b AS n FROM und UNION ALL SELECT b, a FROM und),
            deg AS MATERIALIZED (SELECT w, COUNT(*) AS deg FROM sym GROUP BY w),
            cent AS MATERIALIZED (
              SELECT sym.w, sym.n, deg.deg FROM sym JOIN deg USING (w)
            ),
            pairs AS MATERIALIZED (
              SELECT l.n AS u, r.n AS v,
                     COUNT(*) AS common,
                     SUM(1.0 / ln(CAST(l.deg AS DOUBLE))) AS aa
              FROM cent l JOIN cent r ON l.w = r.w AND l.n < r.n
              GROUP BY 1, 2
            ),
            cand AS (
              SELECT p.* FROM pairs p
              WHERE NOT EXISTS (
                SELECT 1 FROM und WHERE und.a = p.u AND und.b = p.v
              )
            )
            SELECT c.u, c.v, c.common,
                   round(CAST(c.common AS DOUBLE)
                         / (du.deg + dv.deg - c.common), 6) AS jaccard,
                   round(c.aa, 6) AS adamic_adar
            FROM cand c
            JOIN deg du ON du.w = c.u
            JOIN deg dv ON dv.w = c.v
        """,
        "degree_assortativity": f"""
            WITH e AS ({_COOCCUR_SQL}),
            und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
            deg AS (SELECT src AS v, count(*) AS d FROM und GROUP BY src),
            stubs AS (
              SELECT da.d AS dx, db.d AS dy
              FROM und JOIN deg da ON da.v = und.src
                       JOIN deg db ON db.v = und.dst
            ),
            agg AS (
              SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                     sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
                     sum(dy * dy) AS syy
              FROM stubs
            ),
            calc AS (
              SELECT n,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
              FROM agg
            )
            SELECT n AS n_stubs,
                   round(CASE WHEN vx > 0 AND vy > 0
                              THEN num / (sqrt(vx) * sqrt(vy)) END, 6)
                     AS assortativity
            FROM calc
        """,
        "clustering_coefficients": f"""
            WITH e AS ({_COOCCUR_SQL}),
            tri AS (
              SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
              FROM e e1 JOIN e e2 ON e1.dst = e2.src
                        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
            ),
            corners AS (
              SELECT x AS vid FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            ),
            tcnt AS (SELECT vid, count(*) AS t FROM corners GROUP BY vid),
            und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
            degs AS (SELECT src AS vid, count(*) AS d FROM und GROUP BY src),
            verts AS (
              SELECT unnest(generate_series(0,
                       (SELECT max(greatest(src, dst)) FROM e))) AS vid
            )
            SELECT v.vid,
                   coalesce(t, 0) AS triangles,
                   coalesce(d, 0) AS degree,
                   CASE WHEN coalesce(d, 0) >= 2
                        THEN 2.0 * coalesce(t, 0) / (d * (d - 1.0))
                        ELSE CAST(0.0 AS DOUBLE) END AS lcc
            FROM verts v
            LEFT JOIN tcnt ON tcnt.vid = v.vid
            LEFT JOIN degs ON degs.vid = v.vid
        """,
        "clustering_modularity": _clustering_fixed_sql(),
        "clustering_modularity_csr": _clustering_fixed_sql(),
        "edge_extract_bipartite": """
            SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem
        """,
        "edge_extract_cooccur": _COOCCUR_SQL,
        "degree_topk": f"""
            WITH e AS ({_COOCCUR_SQL}),
            sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
            SELECT src AS vid, count(*) AS degree
            FROM sym GROUP BY src
            ORDER BY degree DESC, vid ASC LIMIT 20
        """,
        "dense_id_compaction": f"""
            WITH e AS ({_COOCCUR_SQL}),
            v AS (SELECT DISTINCT k FROM (SELECT src AS k FROM e UNION ALL SELECT dst FROM e))
            SELECT count(*) AS n_vertices,
                   CAST(0 AS BIGINT) AS min_vid,
                   count(*) - 1 AS max_vid,
                   count(*) AS n_distinct_vids
            FROM v
        """,
        "triangle_total": f"""
            WITH e AS ({_COOCCUR_SQL})
            SELECT count(*) AS triangles
            FROM e e1 JOIN e e2 ON e1.dst = e2.src
                      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
        """,
        "triangle_total_bipartite": """
            WITH e AS (
              SELECT DISTINCT least(l_partkey, l_suppkey + 1000000) AS src,
                              greatest(l_partkey, l_suppkey + 1000000) AS dst
              FROM lineitem
            )
            SELECT count(*) AS triangles
            FROM e e1 JOIN e e2 ON e1.dst = e2.src
                      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
        """,
        "connected_components_small": f"""
            WITH RECURSIVE
            e AS (SELECT src, dst FROM ({_COOCCUR_SQL}) WHERE src < 200 AND dst < 200),
            und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
            verts AS (SELECT DISTINCT a AS v FROM und),
            walk(v, r) AS (
                SELECT v, v FROM verts
                UNION
                SELECT und.b, walk.r FROM walk JOIN und ON walk.v = und.a
            )
            SELECT v AS vid, min(r) AS label FROM walk GROUP BY v
        """,
    }
