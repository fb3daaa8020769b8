"""Physical-plan audits (SURVEY.md §7.3 #4): the plans we ship are the
plans we designed.

* no ``BatchEvalPython`` (row-at-a-time Python) anywhere — Python enters
  only through Arrow (``FlatMapGroupsInPandas`` on the CSR path)
* the small rank/label side broadcasts in the small-V regime
* parquet scans carry pushed filters / pruned schemas
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hoshizora_spark import Graph, edges_from_pairs
from hoshizora_spark.algorithms.pagerank import _weighted_edges
from hoshizora_spark.graph.core import maybe_broadcast
from tests.fixtures import ALL_FIXTURES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _graph(spark):
    return Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES["g6_powerlaw"]))


def test_no_row_python_in_message_plan(spark):
    g = _graph(spark)
    ew = _weighted_edges(g)
    ranks = g.vertices().withColumn("rank", F.lit(1.0))
    msgs = (
        ew.join(maybe_broadcast(ranks.selectExpr("vid as src", "rank"), g.num_vertices, 10**6), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("w")).alias("acc"))
    )
    plan = _plan(msgs)
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_gas_plan_uses_arrow_not_row_python(spark):
    from hoshizora_spark.algorithms.pagerank import PageRankKernel
    from hoshizora_spark.graph.csr import build_csr_blocks
    from hoshizora_spark.runtime.gas import gas_messages, init_state

    g = _graph(spark)
    csr = build_csr_blocks(g, num_blocks=2)
    kernel = PageRankKernel(g.num_vertices)
    msgs = gas_messages(csr, init_state(spark, csr, kernel), kernel)
    plan = _plan(msgs)
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" in plan  # Arrow-batched, the only Python entry


def test_parquet_scan_prunes_and_pushes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 100).select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,100)" in plan
    # column pruning: text (the wide column) must not be read
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200]


def test_triangle_plan_no_cartesian(spark):
    from hoshizora_spark.algorithms.triangles import triangle_triples

    g = _graph(spark)
    plan = _plan(triangle_triples(g))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cosine_topk_has_no_global_window(spark, sf_dir):
    """The full scored relation must never funnel through a single-task
    Window (VERDICT r01 weak #1): top-k is a per-partition partial +
    bounded merge, so the plan contains no Window operator at all."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(2).selectExpr("vec_id as query_id", "embedding")
    plan = _plan(similarity.cosine_topk(emb, q, k=3))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_keyed_gas_plan_uses_arrow_not_row_python(spark):
    from hoshizora_spark.algorithms.labelprop import LabelPropKernel
    from hoshizora_spark.graph.core import Graph as G, symmetrize
    from hoshizora_spark.graph.csr import build_csr_blocks
    from hoshizora_spark.runtime.gas import gas_keyed_counts, init_state

    g = _graph(spark)
    sym_g = G(edges=symmetrize(g.edges), num_vertices=g.num_vertices)
    csr = build_csr_blocks(sym_g, num_blocks=2)
    kernel = LabelPropKernel()
    freq = gas_keyed_counts(csr, init_state(spark, csr, kernel), kernel)
    plan = _plan(freq)
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" in plan  # Arrow-batched keyed fold


def test_cosine_topk_partial_is_map_side_bounded(spark, sf_dir):
    """The per-partition top-k partial runs inside the map task (Arrow
    MapInPandas), so the exchange carries ≤ k rows per (query, partition)
    — a collect_list partial would ship every scored row (ADVICE r2)."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(2).selectExpr("vec_id as query_id", "embedding")
    plan = _plan(similarity.cosine_topk(emb, q, k=3))
    assert "MapInPandas" in plan
    assert "Window" not in plan


def test_cosine_near_dup_lsh_no_crossjoin(spark, sf_dir):
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(similarity.cosine_near_dup_lsh(emb, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assignment_plan_independent_of_centroid_count(spark, sf_dir):
    """The IVF cell assignment must NOT embed k·d centroid literals in the
    plan (the r2 scale-killer): plan size stays flat as n_centroids grows
    because centroids travel as a broadcast numpy matrix."""
    from hoshizora_spark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a4, _ = similarity.ivf_index(emb, n_centroids=4, iters=1)
    a16, _ = similarity.ivf_index(emb, n_centroids=16, iters=1)
    p4, p16 = _plan(a4), _plan(a16)
    # since r4 the assignment frame is materialized inside ivf_index (an
    # eager localCheckpoint, so the unit-vector cache can be released
    # safely) — the returned plan is a checkpointed-RDD scan; either way
    # it must never embed k·d literals, so its size stays flat in k
    assert "ExistingRDD" in p16 or "MapInPandas" in p16
    assert "BatchEvalPython" not in p16
    # literal-embedding plans grow ~4× here; broadcast plans stay put
    assert len(p16) < 1.2 * len(p4)


def test_block_routing_plan_independent_of_block_count(spark):
    """Routing must not embed num_blocks literals in the plan above the
    literal ceiling (the 10^12-edge sizing puts ~250k blocks in play —
    a quarter-million-literal Catalyst expression per row is the same
    trap class as the r2 IVF centroid literals)."""
    import numpy as np

    from hoshizora_spark.graph.csr import (
        _LITERAL_ROUTE_MAX,
        block_id_expr,
        local_block_id,
    )

    df = spark.range(500).select(F.col("id").alias("vid"))
    small = [0, 100, 250, 400, 500]  # 3 interior -> literal fold
    big = list(range(0, 10_001))  # 9,999 interior -> searchsorted UDF
    assert len(big) - 2 > _LITERAL_ROUTE_MAX
    p_small = _plan(df.select(block_id_expr(small, F.col("vid")).alias("b")))
    p_big = _plan(df.select(block_id_expr(big, F.col("vid")).alias("b")))
    assert "ArrowEvalPython" in p_big  # vectorized, not BatchEvalPython
    assert "BatchEvalPython" not in p_big
    # literal plans grow with bounds; the UDF plan must stay flat
    assert len(p_big) < max(2_000, 1.2 * len(p_small))

    # both physical forms agree with the numpy reference on every vid
    got_small = [
        r["b"] for r in df.select(block_id_expr(small, F.col("vid")).alias("b"))
        .orderBy("vid").collect()
    ]
    vids = np.arange(500)
    assert got_small == local_block_id(small, vids).tolist()
    got_big = [
        r["b"] for r in df.select(block_id_expr(big, F.col("vid")).alias("b"))
        .orderBy("vid").collect()
    ]
    assert got_big == local_block_id(big, vids).tolist()


def test_many_block_build_routes_and_folds_correctly(spark):
    """Build smoke test above the literal-routing ceiling: a forced
    600-block CSR build (UDF routing in the build exchange) must produce
    the same PageRank messages as the DataFrame path."""
    from hoshizora_spark.algorithms.pagerank import PageRankKernel
    from hoshizora_spark.graph.csr import _LITERAL_ROUTE_MAX, build_csr_blocks
    from hoshizora_spark.runtime.gas import gas_messages, init_state

    num_blocks = _LITERAL_ROUTE_MAX + 88  # 600: UDF regime, bounded test cost
    edges = spark.range(6_000).select(
        (F.col("id") % 1_200).alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(1_200)).alias("dst"),
    )
    g = Graph.from_edges(edges)
    csr = build_csr_blocks(g, num_blocks=num_blocks)
    assert csr.num_blocks > _LITERAL_ROUTE_MAX / 2  # quantile dedup may trim
    kernel = PageRankKernel(g.num_vertices)
    got = {
        (r["dst"], round(r["acc"], 9))
        for r in gas_messages(csr, init_state(spark, csr, kernel), kernel).collect()
    }
    ew = _weighted_edges(g)
    want = {
        (r["dst"], round(r["acc"], 9))
        for r in ew.groupBy("dst").agg(F.sum("w").alias("acc")).collect()
    }
    assert got == want


def test_hits_superstep_plan_shape(spark, monkeypatch):
    """The one-plan HITS superstep: Python-free, no CartesianProduct —
    each L1 normalizer is a broadcast 1-row nested-loop join, and the two
    half-step folds are hash aggs. Captures the REAL step closure by
    spying on bsp_loop."""
    import hoshizora_spark.algorithms.centrality as C

    captured = {}
    real = C.bsp_loop

    def spy(spark_, **kw):
        captured["plan"] = _plan(kw["step"](kw["init"](), 1))
        return real(spark_, **kw)

    monkeypatch.setattr(C, "bsp_loop", spy)
    C.hits(_graph(spark), max_iters=1, tol=None)
    plan = captured["plan"]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # both per-edge joins are hinted (broadcast here, shuffle_hash at scale):
    # sort-merge would re-sort the persisted E-row side every superstep
    assert "SortMergeJoin" not in plan
    # the two L1 normalizers are broadcast 1-row nested-loop joins; each
    # x.crossJoin(x.agg) duplicates x's subplan textually, and the authority
    # frame is referenced twice (hub messages + carrier), so the auth
    # normalizer appears 2x2=4 times + 1 hub normalizer = 5. The copies share
    # identical exchanges (AQE stage reuse executes each once), and the
    # count is a CONSTANT per superstep (lineage is cut every round) — this
    # assertion pins that it stays constant.
    assert plan.count("BroadcastNestedLoopJoin") == 5


def test_degree_assortativity_single_aggregate_plan(spark):
    from hoshizora_spark import degree_assortativity

    df = degree_assortativity(_graph(spark))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_walks_step_plan_shape(spark):
    """The random-walk building blocks: the edge index is a PARTITIONED
    window (hash exchange on src, never a global single-partition sort),
    and a sampling step is Python-free with the V-row degree side
    broadcast — the E-row probe join keys on (cur, idx) so hubs spread."""
    from pyspark.sql import Window
    from hoshizora_spark.algorithms.walks import walk_pick_sql

    g = _graph(spark)
    w = Window.partitionBy("src").orderBy("dst")
    indexed = g.edges.select("src", "dst").withColumn(
        "idx", F.row_number().over(w) - F.lit(1)
    )
    iplan = _plan(indexed)
    assert "SinglePartition" not in iplan  # partitioned window, global sort banned
    assert "hashpartitioning(src" in iplan

    deg = g.out_degrees.selectExpr("src as cur", "out_deg as deg")
    state = g.vertices().selectExpr("vid as walk_id", "vid as cur")
    picked = state.join(
        maybe_broadcast(deg, g.num_vertices, 10**6), "cur"
    ).selectExpr("walk_id", "cur", f"{walk_pick_sql(1, 0)} as pick")
    step = picked.join(
        indexed, (picked["cur"] == indexed["src"]) & (picked["pick"] == indexed["idx"])
    ).select("walk_id", "dst")
    plan = _plan(step)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mis_superstep_plan_shape(spark, monkeypatch):
    """The MIS round: Python-free, no CartesianProduct, every per-edge
    join hinted (broadcast in the small-V regime — sort-merge would
    re-sort the persisted E-row side every round)."""
    import hoshizora_spark.algorithms.mis as M

    captured = {}
    real = M.bsp_loop

    def spy(spark_, **kw):
        captured["plan"] = _plan(kw["step"](kw["init"](), 0))
        return real(spark_, **kw)

    monkeypatch.setattr(M, "bsp_loop", spy)
    M.maximal_independent_set(_graph(spark), seed=1)
    plan = captured["plan"]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_coloring_superstep_plan_shape(spark, monkeypatch):
    """The coloring round folds BOTH neighbor channels (uncolored
    priorities + colored colors) and the carrier in ONE hash aggregate:
    Python-free, hinted joins, and exactly one final-mode aggregate over
    the union."""
    import hoshizora_spark.algorithms.coloring as C

    captured = {}
    real = C.bsp_loop

    def spy(spark_, **kw):
        captured["plan"] = _plan(kw["step"](kw["init"](), 0))
        return real(spark_, **kw)

    monkeypatch.setattr(C, "bsp_loop", spy)
    C.greedy_coloring(_graph(spark), seed=1)
    plan = captured["plan"]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_betweenness_forward_plan_shape(spark, monkeypatch):
    """The Brandes forward superstep is the engine's standard one-fold
    shape: frontier messages + state carrier into a single
    groupBy(vid, src) hash agg; Python-free, hinted join."""
    import hoshizora_spark.algorithms.betweenness as B

    captured = {}
    real = B.bsp_loop

    def spy(spark_, **kw):
        captured["plan"] = _plan(kw["step"](kw["init"](), 0))
        return real(spark_, **kw)

    monkeypatch.setattr(B, "bsp_loop", spy)
    B.betweenness_centrality(_graph(spark))
    plan = captured["plan"]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_msf_round_plan_shape(spark):
    """One Borůvka selection round: union + min-struct hash aggregate,
    no Window/CartesianProduct, Python-free."""
    from hoshizora_spark.algorithms.msf import minimum_spanning_forest  # noqa: F401

    g = _graph(spark)
    und = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.lit(1.0).alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    live = und.select(F.col("a").alias("ca"), F.col("b").alias("cb"), "w", "a", "b")
    cand = live.select(
        F.col("ca").alias("cu"), F.struct("w", "a", "b", F.col("cb").alias("cv")).alias("k")
    ).unionByName(
        live.select(
            F.col("cb").alias("cu"), F.struct("w", "a", "b", F.col("ca").alias("cv")).alias("k")
        )
    )
    sel = cand.groupBy("cu").agg(F.min("k").alias("k"))
    plan = _plan(sel)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_cc_superstep_plan_shape(spark, monkeypatch):
    """One CC superstep per engine (min fold + one pointer-jump hop): no
    row-at-a-time Python, Arrow on CSR, and the hop's self-join hinted
    like every per-superstep join (broadcast here, never sort-merge)."""
    import hoshizora_spark.runtime.gas as G
    from hoshizora_spark import connected_components, connected_components_csr

    plans, real = [], G.bsp_loop

    def spy(spark_, **kw):
        plans.append(_plan(kw["step"](kw["init"](), 0)))
        return real(spark_, **kw)

    monkeypatch.setattr(G, "bsp_loop", spy)
    for cc in (connected_components, connected_components_csr):
        cc(_graph(spark), max_rounds=1)
    for plan in plans:
        assert "BatchEvalPython" not in plan and "SortMergeJoin" not in plan
        assert any("BroadcastHashJoin" in ln and "LeftOuter" in ln for ln in plan.splitlines())
    assert "FlatMapGroupsInPandas" in plans[1]


def test_cache_superstep_edges_runs_view_once(spark):
    """The edge view's upstream plan runs once: E comes from the staged
    cache, not from a second execution of the view."""
    from pyspark.sql.types import BooleanType

    from hoshizora_spark.graph.core import cache_superstep_edges

    seen = spark.sparkContext.accumulator(0)

    def bump(_):
        seen.add(1)
        return True

    view = (
        spark.range(600)
        .select((F.col("id") % 50).alias("src"), (F.col("id") * 7 % 50).alias("dst"))
        .filter(F.udf(bump, BooleanType())("src"))
    )
    cached, key_type, E = cache_superstep_edges(view, 50)
    try:
        assert (E, key_type) == (600, "int")
        assert len(cached.collect()) == E
        assert seen.value == E
    finally:
        cached.unpersist()

    # a view the caller cached (a same-column select resolves to that
    # cache) is read from it and stays cached
    mine = view.persist()
    cached, _, _ = cache_superstep_edges(mine.select("src", "dst"), 50)
    try:
        assert mine.storageLevel.useMemory
    finally:
        cached.unpersist()
        mine.unpersist()


def test_k_core_runs_edge_view_once(spark):
    """k_core sizes and checkpoints its symmetrized view from one execution
    of the view's upstream plan, not a count plus a second execution."""
    from pyspark.sql.types import BooleanType

    from hoshizora_spark import k_core
    from hoshizora_spark.graph.core import symmetrize

    seen = spark.sparkContext.accumulator(0)

    def bump(_):
        seen.add(1)
        return True

    view = (
        spark.range(300)
        .select((F.col("id") % 40).alias("src"), (F.col("id") * 7 % 40).alias("dst"))
        .filter(F.udf(bump, BooleanType())("src"))
    )
    g = Graph.from_edges(view, num_vertices=40)
    symmetrize(g.edges).count()
    once = seen.value
    assert once > 0
    k_core(g)
    assert seen.value == 2 * once
