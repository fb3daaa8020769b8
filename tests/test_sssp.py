"""Weighted SSSP vs Dijkstra oracle + BFS degeneracy (DF/CSR equivalence:
test_engines.py)."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import Graph
from hoshizora_spark.algorithms.bfs import bfs_distances
from hoshizora_spark.algorithms.sssp import sssp_distances
from tests import oracle
from tests.fixtures import ALL_FIXTURES


def _weight_of(s: int, d: int) -> int:
    """Deterministic integer weight in [1, 5] — exact in float64."""
    return (s + 2 * d) % 5 + 1


def _weighted_graph(spark, edges: list[tuple[int, int]]) -> Graph:
    rows = [(s, d, float(_weight_of(s, d))) for s, d in edges]
    df = spark.createDataFrame(rows, schema="src long, dst long, weight double")
    return Graph.from_edges(df, extra_cols=("weight",))


@pytest.mark.parametrize(
    "name",
    ["g1_chain", "g3_star", "g4_two_triangles_bridge", "g5_multi_dup_isolated", "g6_powerlaw"],
)
@pytest.mark.parametrize("directed", [True, False])
def test_sssp_matches_dijkstra(spark, name, directed):
    edges = ALL_FIXTURES[name]
    g = _weighted_graph(spark, edges)
    res = sssp_distances(g, sources=[0], directed=directed)
    assert res.converged
    rows = {r["vid"]: r["dist"] for r in res.distances.collect()}
    got = np.array([rows[i] for i in range(g.num_vertices)])
    want = oracle.sssp_distances(
        edges, [_weight_of(s, d) for s, d in edges], [0], directed=directed
    )
    assert np.array_equal(got, want), f"{name} directed={directed}: {got} != {want}"


def test_sssp_multi_source_and_validation(spark):
    g = _weighted_graph(spark, [(0, 1), (1, 2), (3, 4), (2, 3)])
    res = sssp_distances(g, sources=[0, 4], directed=True)
    rows = {r["vid"]: r["dist"] for r in res.distances.collect()}
    w = _weight_of
    assert rows[0] == 0.0 and rows[4] == 0.0
    assert rows[1] == w(0, 1)
    assert rows[2] == w(0, 1) + w(1, 2)
    assert rows[3] == w(0, 1) + w(1, 2) + w(2, 3)
    with pytest.raises(ValueError, match="outside vertex domain"):
        sssp_distances(g, sources=[99])


def test_sssp_unit_weights_degrade_to_bfs(spark):
    edges = ALL_FIXTURES["g4_two_triangles_bridge"]
    df = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], schema="src long, dst long, weight double"
    )
    g = Graph.from_edges(df, extra_cols=("weight",))
    sssp_rows = {r["vid"]: r["dist"] for r in
                 sssp_distances(g, [0], directed=True).distances.collect()}
    bfs_rows = {r["vid"]: float(r["dist"]) for r in
                bfs_distances(g, [0], directed=True).distances.collect()}
    assert sssp_rows == bfs_rows


def test_sssp_multi_edge_takes_min_weight(spark):
    # parallel 0->1 edges with weights 4 and 1: min fold must pick 1
    df = spark.createDataFrame(
        [(0, 1, 4.0), (0, 1, 1.0), (1, 2, 2.0)],
        schema="src long, dst long, weight double",
    )
    g = Graph.from_edges(df, extra_cols=("weight",))
    rows = {r["vid"]: r["dist"] for r in
            sssp_distances(g, [0]).distances.collect()}
    assert rows == {0: 0.0, 1: 1.0, 2: 3.0}
