"""Golden-graph tests: Spark engine vs NumPy oracle (FIXTURES.md §2)."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import (
    Graph,
    connected_components,
    edges_from_pairs,
    label_propagation,
    pagerank,
    triangle_counts,
    triangle_total,
)
from tests import oracle
from tests.fixtures import ALL_FIXTURES

FIXTURE_NAMES = list(ALL_FIXTURES)


def _graph(spark, name: str) -> Graph:
    return Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES[name]))


def _as_array(df, key: str, value: str, n: int, dtype) -> np.ndarray:
    rows = df.collect()
    assert len(rows) == n, f"expected {n} rows, got {len(rows)}"
    out = np.zeros(n, dtype=dtype)
    seen = np.zeros(n, dtype=bool)
    for r in rows:
        out[r[key]] = r[value]
        seen[r[key]] = True
    assert seen.all(), "missing vertex ids in result"
    return out


@pytest.mark.parametrize("name", FIXTURE_NAMES)
def test_pagerank_matches_oracle(spark, name):
    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    res = pagerank(g, tol=1e-9, max_iters=300)
    assert res.converged
    got = _as_array(res.ranks, "vid", "rank", g.num_vertices, np.float64)
    want = oracle.pagerank(edges, tol=1e-9)
    assert np.allclose(got, want, atol=1e-6), f"{name}: max err {np.abs(got-want).max()}"


def test_pagerank_closed_forms(spark):
    # g2_cycle: exact fixed point 1/3 each
    g = _graph(spark, "g2_cycle")
    got = _as_array(pagerank(g, tol=1e-12, max_iters=500).ranks, "vid", "rank", 3, np.float64)
    assert np.allclose(got, 1.0 / 3.0, atol=1e-6)
    # g3_star: leaves 0.15/6, hub 0.85*5*0.025 + 0.025
    g = _graph(spark, "g3_star")
    got = _as_array(pagerank(g, tol=1e-12, max_iters=500).ranks, "vid", "rank", 6, np.float64)
    assert np.allclose(got[0], 0.13125, atol=1e-6)
    assert np.allclose(got[1:], 0.025, atol=1e-6)


def test_pagerank_no_dangling_redistribution(spark):
    # g1_chain: vertex 3 is a sink; total mass must be < N * anything conserved.
    g = _graph(spark, "g1_chain")
    got = _as_array(pagerank(g, tol=1e-12, max_iters=500).ranks, "vid", "rank", 4, np.float64)
    want = oracle.pagerank(ALL_FIXTURES["g1_chain"], tol=1e-12)
    assert np.allclose(got, want, atol=1e-6)
    # the textbook "fix" would keep sum == 1 (scaled); reference semantics leak mass
    assert got.sum() < 1.0 - 1e-3


def test_pagerank_isolated_vertex_rank(spark):
    # g5: vertex 3 isolated -> exactly 0.15/6
    g = _graph(spark, "g5_multi_dup_isolated")
    assert g.num_vertices == 6
    got = _as_array(pagerank(g, tol=1e-12, max_iters=500).ranks, "vid", "rank", 6, np.float64)
    assert abs(got[3] - 0.15 / 6) < 1e-9


def test_pagerank_rank_floor_property(spark):
    g = _graph(spark, "g6_powerlaw")
    got = _as_array(pagerank(g, tol=1e-8).ranks, "vid", "rank", g.num_vertices, np.float64)
    assert (got >= 0.15 / g.num_vertices - 1e-12).all()


@pytest.mark.parametrize("name", FIXTURE_NAMES)
def test_connected_components_exact(spark, name):
    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    res = connected_components(g)
    assert res.converged
    got = _as_array(res.labels, "vid", "label", g.num_vertices, np.int64)
    want = oracle.connected_components(edges)
    assert (got == want).all(), f"{name}: {got} != {want}"


def test_cc_goldens(spark):
    got = _as_array(
        connected_components(_graph(spark, "g5_multi_dup_isolated")).labels,
        "vid", "label", 6, np.int64,
    )
    assert got.tolist() == [0, 0, 0, 3, 4, 4]
    got = _as_array(
        connected_components(_graph(spark, "g4_two_triangles_bridge")).labels,
        "vid", "label", 6, np.int64,
    )
    assert got.tolist() == [0] * 6


@pytest.mark.parametrize("name", FIXTURE_NAMES)
def test_label_propagation_exact(spark, name):
    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    res = label_propagation(g, max_rounds=20)
    got = _as_array(res.labels, "vid", "label", g.num_vertices, np.int64)
    want = oracle.label_propagation(edges, max_rounds=20)
    assert (got == want).all(), f"{name}: {got} != {want}"


@pytest.mark.parametrize("name", FIXTURE_NAMES)
def test_triangles_exact(spark, name):
    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    got = _as_array(triangle_counts(g), "vid", "triangles", g.num_vertices, np.int64)
    want = oracle.triangle_counts(edges)
    assert (got == want).all(), f"{name}: {got} != {want}"
    assert triangle_total(g) == oracle.triangle_total(edges)


def test_triangle_goldens(spark):
    assert triangle_total(_graph(spark, "g2_cycle")) == 1
    assert triangle_total(_graph(spark, "g4_two_triangles_bridge")) == 2
    assert triangle_total(_graph(spark, "g5_multi_dup_isolated")) == 0


def test_triangles_invariant_under_permutation_and_dups(spark):
    base = ALL_FIXTURES["g4_two_triangles_bridge"]
    permuted = list(reversed(base)) + [base[0], (1, 0)]  # dup + reversed dup
    g = Graph.from_edges(edges_from_pairs(spark, permuted))
    assert triangle_total(g) == 2


@pytest.mark.parametrize("name", FIXTURE_NAMES)
def test_clustering_coefficients_exact(spark, name):
    from hoshizora_spark import clustering_coefficients

    edges = ALL_FIXTURES[name]
    g = _graph(spark, name)
    rows = {r["vid"]: r for r in clustering_coefficients(g).collect()}
    tri = oracle.triangle_counts(edges)
    und = oracle._undirected_simple(edges)
    deg = np.zeros(g.num_vertices, dtype=np.int64)
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    assert set(rows) == set(range(g.num_vertices))  # full dense domain
    for v in range(g.num_vertices):
        r = rows[v]
        assert r["triangles"] == tri[v] and r["degree"] == deg[v], (name, v)
        want = 2.0 * tri[v] / (deg[v] * (deg[v] - 1.0)) if deg[v] >= 2 else 0.0
        assert r["lcc"] == want, (name, v, r["lcc"], want)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_triangles_leave_no_cached_frames(spark):
    from hoshizora_spark.algorithms.triangles import triangle_counts, triangle_total

    spark.catalog.clearCache()
    g = Graph.from_edges(
        edges_from_pairs(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3)])
    )
    assert triangle_total(g) == 4
    _ = triangle_counts(g).collect()
    assert _cache_manager_empty(spark)
