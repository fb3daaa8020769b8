"""Neighborhood function: exact vs BFS-derived oracle; HLL accuracy."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import (
    Graph,
    edges_from_pairs,
    neighborhood_function,
    neighborhood_function_hll,
)
from tests import oracle
from tests.fixtures import ALL_FIXTURES


def _exact_nf(edges, num_vertices, directed):
    """N(h) ladder from all-sources BFS (h = 0 .. stabilization)."""
    dists = [
        oracle.bfs_distances(edges, [s], directed=directed, num_vertices=num_vertices)
        for s in range(num_vertices)
    ]
    d = np.array(dists)  # d[s][t]; -1 unreachable
    finite = d[d >= 0]
    hmax = int(finite.max()) if finite.size else 0
    return [int(((d >= 0) & (d <= h)).sum()) for h in range(hmax + 1)]


@pytest.mark.parametrize("name", ["g1_chain", "g3_star", "g4_two_triangles_bridge",
                                  "g5_multi_dup_isolated", "g6_powerlaw"])
@pytest.mark.parametrize("directed", [True, False])
def test_anf_exact_matches_bfs(spark, name, directed):
    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = neighborhood_function(g, directed=directed)
    assert res.converged
    want = _exact_nf(edges, g.num_vertices, directed)
    assert res.n_per_h == [float(n) for n in want], f"{name} directed={directed}"
    rows = sorted((r["h"], r["n_pairs"]) for r in res.nf.collect())
    assert rows == list(enumerate(want))


def test_anf_effective_diameter_chain(spark):
    # undirected 5-chain: N = [5, 13, 19, 23, 25]; 0.9*25 = 22.5 -> h=3
    g = Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES["g1_chain"]))
    res = neighborhood_function(g, directed=False)
    assert res.effective_diameter == next(
        h for h, n in enumerate(res.n_per_h) if n >= 0.9 * res.n_per_h[-1]
    )


def test_anf_exact_cap_guard(spark):
    from hoshizora_spark.algorithms import anf as anfmod

    g = Graph.from_edges(
        edges_from_pairs(spark, [(0, 1)]), num_vertices=anfmod.MAX_EXACT_VERTICES + 1
    )
    with pytest.raises(ValueError, match="neighborhood_function_hll"):
        neighborhood_function(g)


def test_anf_hll_accuracy_and_determinism(spark):
    """m=256 on the 200-vertex power-law graph: every N(h) estimate lands
    well inside linear-counting accuracy (all cardinalities ≤ 2.5m here),
    and two runs are bit-identical (hash-seeded, no RNG)."""
    edges = ALL_FIXTURES["g6_powerlaw"]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    exact = _exact_nf(edges, g.num_vertices, directed=False)
    r1 = neighborhood_function_hll(g, m=256, directed=False)
    r2 = neighborhood_function_hll(g, m=256, directed=False)
    assert r1.n_per_h == r2.n_per_h
    assert r1.converged
    # same convergence horizon as the exact ladder (register fixpoint ==
    # reachability fixpoint), up to the duplicate-final-round trim
    assert abs(len(r1.n_per_h) - len(exact)) <= 1
    for h in range(1, min(len(exact), len(r1.n_per_h))):
        rel = abs(r1.n_per_h[h] - exact[h]) / exact[h]
        assert rel < 0.15, (h, r1.n_per_h[h], exact[h])


def test_anf_hll_m_guard(spark):
    g = Graph.from_edges(edges_from_pairs(spark, [(0, 1)]))
    with pytest.raises(ValueError, match="power of two"):
        neighborhood_function_hll(g, m=48)


@pytest.mark.parametrize("seed,V", [(56, 40), (65, 100)])
def test_anf_hll_runs_to_register_fixpoint(spark, seed, V):
    """A directed in-tree grows its balls' estimates slowly near the root:
    two rounds can sum to one N(h) while registers still change. The loop
    must run to the register fixpoint, matching a numpy replay of the same
    registers (stopping on a repeated Σ estimate cut this ladder short)."""
    from hoshizora_spark.algorithms.anf import _hll_registers

    rng = np.random.default_rng(seed)
    edges = [(i, int(rng.integers(i))) for i in range(1, V)]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    init = sorted((r["vid"], r["reg"], r["rho"]) for r in _hll_registers(g, 16).collect())
    _, reg, rho = (np.array(c) for c in zip(*init))
    want = oracle.hyperanf(edges, reg, rho, m=16, directed=True)
    res = neighborhood_function_hll(g, m=16, directed=True)
    assert res.converged
    np.testing.assert_allclose(res.n_per_h, want, rtol=1e-9)
