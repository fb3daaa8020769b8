"""BFS hop distances vs oracle (DF/CSR equivalence: test_engines.py)."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import Graph, edges_from_pairs
from hoshizora_spark.algorithms.bfs import bfs_distances
from tests import oracle
from tests.fixtures import ALL_FIXTURES


@pytest.mark.parametrize("name", ["g1_chain", "g3_star", "g4_two_triangles_bridge",
                                  "g5_multi_dup_isolated", "g6_powerlaw"])
@pytest.mark.parametrize("directed", [True, False])
def test_bfs_matches_oracle(spark, name, directed):
    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = bfs_distances(g, sources=[0], directed=directed)
    assert res.converged
    rows = {r["vid"]: r["dist"] for r in res.distances.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.bfs_distances(edges, [0], directed=directed)
    assert (got == want).all(), f"{name} directed={directed}: {got} != {want}"


def test_bfs_multi_source_and_validation(spark):
    g = Graph.from_edges(edges_from_pairs(spark, [(0, 1), (1, 2), (3, 4), (2, 3)]))
    rows = {r["vid"]: r["dist"] for r in
            bfs_distances(g, sources=[0, 4], directed=True).distances.collect()}
    assert [rows[i] for i in range(5)] == [0, 1, 2, 3, 0]
    with pytest.raises(ValueError, match="outside vertex domain"):
        bfs_distances(g, sources=[99])

