"""k-core decomposition vs oracle."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import Graph, edges_from_pairs
from hoshizora_spark.algorithms.kcore import k_core
from tests import oracle
from tests.fixtures import ALL_FIXTURES


@pytest.mark.parametrize("name", ["g2_cycle", "g4_two_triangles_bridge",
                                  "g5_multi_dup_isolated", "g6_powerlaw"])
def test_k_core_matches_oracle(spark, name):
    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = k_core(g)
    rows = {r["vid"]: r["coreness"] for r in res.coreness.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.k_core(edges)
    assert (got == want).all(), f"{name}: {got} != {want}"
    assert res.max_core == int(want.max()) and res.converged


def test_k_core_triangle_with_tail(spark):
    g = Graph.from_edges(edges_from_pairs(spark, [(0, 1), (1, 2), (2, 0), (2, 3)]))
    rows = {r["vid"]: r["coreness"] for r in k_core(g).coreness.collect()}
    assert [rows[i] for i in range(4)] == [2, 2, 2, 1]


@pytest.mark.parametrize("name", ["g2_cycle", "g4_two_triangles_bridge",
                                  "g5_multi_dup_isolated", "g6_powerlaw"])
def test_k_core_hindex_matches_oracle(spark, name):
    from hoshizora_spark.algorithms.kcore import k_core_hindex

    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = k_core_hindex(g)
    rows = {r["vid"]: r["coreness"] for r in res.coreness.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.k_core(edges)
    assert (got == want).all(), f"{name}: {got} != {want}"
    assert res.max_core == int(want.max()) and res.converged


def test_k_core_truncated_is_not_converged(spark):
    """A 12-vertex path needs > 2 rounds on every k-core path: a capped run says so."""
    from hoshizora_spark.algorithms.kcore import k_core_hindex, k_core_hindex_csr

    g = Graph.from_edges(edges_from_pairs(spark, [(i, i + 1) for i in range(11)]))
    for fn in (k_core, k_core_hindex, k_core_hindex_csr):
        assert fn(g, max_rounds=2).converged is False, fn.__name__


def test_k_core_hindex_fewer_rounds_than_peeling(spark):
    """The h-index iteration's round count tracks contraction speed, not
    max_core + cascade depth — on the power-law fixture it must need
    (strictly) fewer driver-synchronized rounds than batch peeling."""
    from hoshizora_spark.algorithms.kcore import k_core_hindex

    edges = ALL_FIXTURES["g6_powerlaw"]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    peel = k_core(g)
    hidx = k_core_hindex(g)
    assert hidx.max_core == peel.max_core
    assert hidx.rounds < peel.rounds
