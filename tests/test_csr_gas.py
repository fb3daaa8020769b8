"""CSR-block GAS path: equivalence vs oracle + structural invariants."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import (
    Graph,
    build_csr_blocks,
    edges_from_pairs,
    pagerank,
    pagerank_csr,
)
from hoshizora_spark.graph import csr as csrmod
from hoshizora_spark.graph.csr import load_block, local_block_id
from tests import oracle
from tests.fixtures import ALL_FIXTURES

CSR_FIXTURES = ["g1_chain", "g3_star", "g5_multi_dup_isolated", "g6_powerlaw"]


def _graph(spark, name: str) -> Graph:
    return Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES[name]))


@pytest.mark.parametrize("name", [n for n in CSR_FIXTURES if n in ALL_FIXTURES])
def test_pagerank_csr_matches_oracle(spark, name):
    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    res = pagerank_csr(g, tol=1e-9, max_iters=300)
    assert res.converged
    rows = {r["vid"]: r["rank"] for r in res.ranks.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.pagerank(edges, tol=1e-9)
    assert np.allclose(got, want, atol=1e-6), f"{name}: max err {np.abs(got - want).max()}"


def test_csr_block_invariants(spark):
    name = next(iter(ALL_FIXTURES))
    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    csr = build_csr_blocks(g, num_blocks=3)
    rows = csr.blocks_df(spark).collect()
    # blocks tile the vertex range exactly
    spans = sorted((r["lo"], r["hi"]) for r in rows)
    assert spans[0][0] == 0 and spans[-1][1] == g.num_vertices
    for (_, h1), (l2, _) in zip(spans, spans[1:]):
        assert h1 == l2
    total_entries = 0
    for r in rows:
        off = np.asarray(r["offsets"])
        assert off[0] == 0 and len(off) == r["hi"] - r["lo"] + 1
        assert (np.diff(off) >= 0).all()
        assert off[-1] == len(r["indices"]) == len(r["weights"])
        total_entries += len(r["indices"])
        # every edge entry belongs to a src inside [lo, hi)
        src_local = np.repeat(np.arange(r["hi"] - r["lo"]), np.diff(off))
        assert ((src_local >= 0) & (src_local < r["hi"] - r["lo"])).all()
    assert total_entries == len(edges)
    # numpy-side block assignment agrees with the bounds
    vids = np.arange(g.num_vertices)
    bids = local_block_id(csr.bounds, vids)
    for r in rows:
        in_block = (vids >= r["lo"]) & (vids < r["hi"])
        assert (bids[in_block] == r["block_id"]).all()


@pytest.mark.parametrize(
    "name",
    ["g1_chain", "g2_cycle", "g3_star", "g4_two_triangles_bridge",
     "g5_multi_dup_isolated", "g6_powerlaw", "g7_bipartite"],
)
def test_clustering_csr_bitmatches_df_path(spark, name):
    """The clustering best-move superstep through the CSR gain-argmax fold
    (gas_gain_argmax over raw-weight blocks) must produce bit-identical
    cluster assignments, level counts, and per-level sizes vs the
    DataFrame plan — same q frame, same IEEE double gain arithmetic, same
    final max(struct(gain, -src)) merge."""
    from hoshizora_spark.algorithms.clustering import clustering

    g = _graph(spark, name)
    df_res = clustering(g)
    csr_res = clustering(g, use_csr=True)
    df_rows = {r["vid"]: r["cluster"] for r in df_res.assign.collect()}
    csr_rows = {r["vid"]: r["cluster"] for r in csr_res.assign.collect()}
    assert df_rows == csr_rows, f"{name}: CSR clusters diverge from DF clusters"
    assert df_res.num_clusters == csr_res.num_clusters
    assert df_res.levels == csr_res.levels
    assert df_res.clusters_per_level == csr_res.clusters_per_level


def test_gas_gain_argmax_matches_numpy(spark):
    """Direct fold check on a weighted multigraph-free coarse graph: the
    (dst, gain, src) frame equals a brute-force numpy evaluation of
    2*(w/c2m - q_s*q_d) with strict-threshold, min-src tiebreak."""
    from hoshizora_spark.graph.csr import build_csr_blocks
    from hoshizora_spark.runtime.gas import dst_route_table, gas_gain_argmax

    edges = [(0, 1, 2.0), (2, 1, 3.0), (3, 1, 3.0), (1, 0, 1.0), (4, 2, 0.5),
             (0, 4, 1.5), (2, 4, 1.5), (3, 0, 2.5)]
    ew = spark.createDataFrame(edges, schema="src long, dst long, w double")
    g = Graph(edges=ew, num_vertices=5)
    csr = build_csr_blocks(g, num_blocks=3, weight_col="w", normalize_weights=False)
    qvals = {0: 0.30, 1: 0.45, 2: 0.20, 3: 0.15, 4: 0.10}
    q = spark.createDataFrame(list(qvals.items()), schema="vid long, q double")
    c2m, thr = 16.0, 0.05
    got = {
        r["dst"]: (r["gain"], r["src"])
        for r in gas_gain_argmax(csr, q, dst_route_table(csr, ew), c2m, thr).collect()
    }
    best: dict[int, tuple] = {}
    for s, d, w in edges:
        gain = 2.0 * (w / c2m - qvals[s] * qvals[d])
        if gain > thr and (d not in best or (-gain, s) < (-best[d][0], best[d][1])):
            best[d] = (gain, s)
    assert got == best


def test_clustering_entry_query_equal_through_both_paths(spark, sf_dir, monkeypatch):
    """The clustering_modularity driver query yields identical assignments
    whether HZ_CLUSTERING_CSR routes it through the CSR fold or not — the
    oracle row stays green through either path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "hz_entry_csr_test", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    q = mod.queries()["clustering_modularity"]
    monkeypatch.delenv("HZ_CLUSTERING_CSR", raising=False)
    df_rows = {(r["vid"], r["cluster"]) for r in q(spark, sf_dir).collect()}
    monkeypatch.setenv("HZ_CLUSTERING_CSR", "1")
    csr_rows = {(r["vid"], r["cluster"]) for r in q(spark, sf_dir).collect()}
    assert df_rows == csr_rows


def _ring_graph(spark, n=40, extra=None):
    pairs = [(i, (i + 1) % n) for i in range(n)] + (extra or [])
    return Graph.from_edges(
        spark.createDataFrame(pairs, schema="src long, dst long")
    )


def test_fs_for_scheme_detection():
    from pyarrow import fs as pafs

    f1, p1 = csrmod._fs_for("/tmp/somewhere")
    assert isinstance(f1, pafs.LocalFileSystem)
    assert p1 == "/tmp/somewhere"
    f2, p2 = csrmod._fs_for("file:///tmp/elsewhere")
    assert isinstance(f2, pafs.LocalFileSystem)
    assert p2 == "/tmp/elsewhere"


def test_csr_sidecar_through_file_uri(spark, tmp_path):
    """Full build + superstep path through a file:// URI sidecar — the
    pyarrow.fs code path a cluster deployment uses (with hdfs://, s3://
    resolving through the same FileSystem.from_uri branch)."""
    from hoshizora_spark.algorithms.pagerank import pagerank_csr

    g = _ring_graph(spark, extra=[(0, 5), (0, 7), (3, 9)])
    uri_root = f"file://{tmp_path}/sidecar"
    csr = build_csr_blocks(g, num_blocks=3, sidecar_root=uri_root)
    assert csr.path.startswith("file://")
    # loader goes through the same scheme-detected filesystem
    lo, hi, offsets, indices, *_ = load_block(csr.path, 0)
    assert offsets[-1] == len(indices)
    # end-to-end: CSR pagerank over the URI sidecar matches the DF path
    want = {
        r["vid"]: r["rank"]
        for r in pagerank(g, tol=None, max_iters=8).ranks.collect()
    }
    got = {
        r["vid"]: r["rank"]
        for r in pagerank_csr(g, csr, tol=None, max_iters=8).ranks.collect()
    }
    assert got.keys() == want.keys()
    assert np.allclose(
        [got[k] for k in sorted(got)], [want[k] for k in sorted(want)], atol=1e-12
    )


def test_csr_bare_path_equals_uri_blocks(spark, tmp_path):
    """Same graph built through a bare path and a file:// URI produces
    byte-identical block arrays (scheme only changes transport)."""
    g = _ring_graph(spark)
    a = build_csr_blocks(g, num_blocks=2, sidecar_root=str(tmp_path / "bare"))
    b = build_csr_blocks(g, num_blocks=2, sidecar_root=f"file://{tmp_path}/uri")
    for bid in range(a.num_blocks):
        ba, bb = load_block(a.path, bid), load_block(b.path, bid)
        for xa, xb in zip(ba, bb):
            np.testing.assert_array_equal(np.asarray(xa), np.asarray(xb))
