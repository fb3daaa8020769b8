"""Reference API-surface parity: file reader, compat wrappers, CLI, clustering."""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import Graph, clustering, edges_from_pairs, read_edge_list
from hoshizora_spark import compat
from hoshizora_spark.cli import main as cli_main
from tests import oracle
from tests.fixtures import ALL_FIXTURES

G4 = ALL_FIXTURES["g4_two_triangles_bridge"]


@pytest.fixture()
def edge_file(tmp_path):
    p = tmp_path / "edges.txt"
    p.write_text("# comment line\n" + "\n".join(f"{s} {d}" for s, d in G4) + "\n")
    return str(p)


def test_read_edge_list(spark, edge_file):
    got = sorted((r["src"], r["dst"]) for r in read_edge_list(spark, edge_file).collect())
    assert got == sorted(G4)


def test_clustering_two_triangles_golden(spark):
    # hand-computed from the kernel semantics (clustering_louvain.h:26-75):
    # the bridge edge (2,3) has lower modularity gain than intra-triangle
    # edges, so each triangle collapses to one cluster.
    g = Graph.from_edges(edges_from_pairs(spark, G4))
    res = clustering(g)
    rows = {r["vid"]: r["cluster"] for r in res.assign.collect()}
    assert [rows[i] for i in range(6)] == [0, 0, 0, 1, 1, 1]
    assert res.num_clusters == 2
    # dense packing: ids are exactly 0..k-1
    assert sorted({r["cluster"] for r in res.assign.collect()}) == [0, 1]


def test_clustering_deep_coarsen_stops(spark):
    g = Graph.from_edges(edges_from_pairs(spark, G4))
    res = clustering(g, num_clusters_hint=1)
    rows = {r["vid"]: r["cluster"] for r in res.assign.collect()}
    # negative-gain bridge: coarsening cannot merge the two triangles
    assert [rows[i] for i in range(6)] == [0, 0, 0, 1, 1, 1]


def test_compat_pagerank_matches_reference_format(spark, edge_file):
    out = compat.pagerank(edge_file, num_iters=50, spark=spark)
    assert len(out) == 6
    want = oracle.pagerank_fixed_iters(G4, 50)
    got = np.array([float(x) for x in out])
    assert np.allclose(got, want, atol=1e-6)
    assert all("." in x and len(x.split(".")[1]) == 6 for x in out)  # %.6f strings


def test_compat_clustering(spark, edge_file):
    assert compat.clustering(edge_file, spark=spark) == [0, 0, 0, 1, 1, 1]


def test_cli_pagerank(spark, edge_file, capsys):
    rc = cli_main(["pagerank", edge_file, "10"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().split("\n")
    assert len(lines) == 6
    want = oracle.pagerank_fixed_iters(G4, 10)
    assert np.allclose([float(x) for x in lines], want, atol=1e-6)


def test_cli_usage_error():
    assert cli_main([]) == 2
    assert cli_main(["nope"]) == 2


def test_read_edge_list_drops_malformed_tokens(spark, tmp_path):
    p = tmp_path / "edges.txt"
    p.write_text("0 1\n# comment\n1 2\nbogus line\n2 notanint\n3 4\n")
    got = sorted(
        (r["src"], r["dst"]) for r in read_edge_list(spark, str(p)).collect()
    )
    assert got == [(0, 1), (1, 2), (3, 4)]


def test_from_adjacency_mirrors_reference_builder(spark):
    """Fixture mirrors the reference semantics: V = list length (isolated
    trailing vertex counts), duplicate neighbors kept on the out side,
    deduped on the gather side, round-trips through to_adjacency."""
    adj = spark.createDataFrame(
        [(0, [1, 2, 1]), (1, [2]), (2, []), (3, [0])],
        schema="vid long, neighbors array<long>",
    )
    g = Graph.from_adjacency(adj)
    assert g.num_vertices == 4
    edges = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    assert edges == [(0, 1), (0, 1), (0, 2), (1, 2), (3, 0)]  # dup kept

    g_in = Graph.from_adjacency(adj, dedup=True)
    edges_in = sorted((r["src"], r["dst"]) for r in g_in.edges.collect())
    assert edges_in == [(0, 1), (0, 2), (1, 2), (3, 0)]  # std::set view
    # in-degrees of the gather-side view: vertex 1 sees src 0 once
    indeg = {r["dst"]: r["in_deg"] for r in g_in.in_degrees.collect()}
    assert indeg[1] == 1

    back = {r["vid"]: r["neighbors"] for r in g.to_adjacency().collect()}
    assert back == {0: [1, 1, 2], 1: [2], 2: [], 3: [0]}


def test_from_adjacency_pagerank_equals_from_edges(spark):
    """The two builders must define the same graph for the algorithms."""
    from hoshizora_spark import pagerank

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)]
    g_e = Graph.from_edges(edges_from_pairs(spark, pairs))
    adj_rows = [(v, sorted(d for s, d in pairs if s == v)) for v in range(4)]
    g_a = Graph.from_adjacency(
        spark.createDataFrame(adj_rows, schema="vid long, neighbors array<long>")
    )
    r_e = {r["vid"]: r["rank"] for r in pagerank(g_e, tol=1e-9).ranks.collect()}
    r_a = {r["vid"]: r["rank"] for r in pagerank(g_a, tol=1e-9).ranks.collect()}
    assert all(abs(r_e[v] - r_a[v]) < 1e-12 for v in range(4))


def test_from_edges_validate_domain(spark):
    edges = spark.createDataFrame([(0, 1), (1, 5)], schema="src long, dst long")
    with pytest.raises(ValueError, match="dense domain"):
        Graph.from_edges(edges, num_vertices=4, validate=True)
    g = Graph.from_edges(edges, num_vertices=6, validate=True)
    assert g.num_vertices == 6
