"""Personalized PageRank vs oracle + seed validation + Graph save/load round-trip."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import Graph, edges_from_pairs, pagerank, personalized_pagerank
from tests import oracle
from tests.fixtures import ALL_FIXTURES


@pytest.mark.parametrize("name,sources", [
    ("g6_powerlaw", [0]),
    ("g6_powerlaw", [3, 17, 42]),
    ("g4_two_triangles_bridge", [0]),
])
def test_personalized_pagerank_matches_oracle(spark, name, sources):
    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = personalized_pagerank(g, sources, tol=1e-9, max_iters=400)
    assert res.converged
    rows = {r["vid"]: r["rank"] for r in res.ranks.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.personalized_pagerank(edges, sources, tol=1e-9)
    assert np.allclose(got, want, atol=1e-6)
    # mass concentrates near seeds: non-reachable vertices get exactly 0
    assert got.min() >= -1e-12


def test_graph_save_load_roundtrip(spark, tmp_path):
    pairs = ALL_FIXTURES["g5_multi_dup_isolated"]
    g = Graph.from_edges(edges_from_pairs(spark, pairs))
    g.save(str(tmp_path / "g"))
    g2 = Graph.load(spark, str(tmp_path / "g"))
    assert g2.num_vertices == g.num_vertices
    assert sorted(map(tuple, g2.edges.collect())) == sorted(map(tuple, g.edges.collect()))
    # algorithms agree on the reloaded graph
    a = {r["vid"]: r["rank"] for r in pagerank(g, tol=1e-9).ranks.collect()}
    b = {r["vid"]: r["rank"] for r in pagerank(g2, tol=1e-9).ranks.collect()}
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


@pytest.mark.parametrize("name,sources", [
    ("g6_powerlaw", [0]),
    ("g6_powerlaw", [3, 17, 42]),
    ("g4_two_triangles_bridge", [0]),
    ("g5_multi_dup_isolated", [0, 2]),
])
def test_personalized_pagerank_csr_matches_oracle_and_df(spark, name, sources):
    """The CSR teleport kernel must hit the same fixed point as the numpy
    oracle (DF/CSR equivalence: test_engines.py)."""
    from hoshizora_spark import personalized_pagerank_csr

    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = personalized_pagerank_csr(g, sources, tol=1e-9, max_iters=400)
    assert res.converged
    rows = {r["vid"]: r["rank"] for r in res.ranks.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.personalized_pagerank(edges, sources, tol=1e-9)
    assert np.allclose(got, want, atol=1e-6)


def test_personalized_pagerank_csr_rejects_huge_seed_sets(spark):
    """Literal-seed plan-blowup guard: above MAX_SEEDS the CSR path refuses
    and points at the DF path (same trap class as IVF literal centroids)."""
    from hoshizora_spark import personalized_pagerank_csr
    from hoshizora_spark.algorithms.pagerank import PersonalizedPageRankKernel

    n = PersonalizedPageRankKernel.MAX_SEEDS + 2
    g = Graph.from_edges(edges_from_pairs(spark, [(0, 1), (1, 0)]), num_vertices=n)
    with pytest.raises(ValueError, match="plan literals"):
        personalized_pagerank_csr(g, list(range(n - 1)))


def test_personalized_pagerank_rejects_out_of_domain_seeds(spark):
    g = Graph.from_edges(edges_from_pairs(spark, [(0, 1), (1, 2), (2, 0)]))
    with pytest.raises(ValueError, match="outside vertex domain"):
        personalized_pagerank(g, sources=[1, 99])
