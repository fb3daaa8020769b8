"""One kernel, two engines: every kernel ``run_kernel`` serves answers the
same on the DataFrame engine and the CSR-block engine.

Min kernels (BFS, SSSP) must agree exactly; CC and the keyed kernels
(LPA, k-core h-index) exactly and in the same number of rounds, converged
or not (g7_bipartite is LPA's oscillator); sum kernels (PageRank, weighted
PageRank, PPR) to 1e-12 relative — Spark does not pin the merge order of
a double sum, and the CSR engine folds per block first. Both engines must
also report one convergence statistic and one wall time per superstep
they ran.
"""

from __future__ import annotations

import pytest

from hoshizora_spark import (
    Graph,
    bfs_distances,
    bfs_distances_csr,
    connected_components,
    connected_components_csr,
    edges_from_pairs,
    k_core_hindex,
    k_core_hindex_csr,
    label_propagation,
    label_propagation_csr,
    pagerank,
    pagerank_csr,
    personalized_pagerank,
    personalized_pagerank_csr,
    sssp_distances,
    sssp_distances_csr,
)
from tests.fixtures import ALL_FIXTURES

FIXTURES = ["g1_chain", "g4_two_triangles_bridge", "g5_multi_dup_isolated", "g6_powerlaw"]
KEYED_FIXTURES = FIXTURES + ["g2_cycle", "g3_star", "g7_bipartite"]
PR_ITERS = 10


def _pr(fn, **kw):
    return lambda g: fn(g, tol=None, max_iters=PR_ITERS, **kw)


# name -> (DF call, CSR call, result frame attr, value column, check):
# "close" = 1e-12 relative, "exact" = equal and converged, "rounds" =
# equal, in as many rounds, with the same converged flag
KERNELS = {
    "pagerank": (_pr(pagerank), _pr(pagerank_csr), "ranks", "rank", "close"),
    "pagerank_weighted": (
        _pr(pagerank, weight_col="weight"),
        _pr(pagerank_csr, weight_col="weight"),
        "ranks", "rank", "close",
    ),
    "ppr": (
        _pr(personalized_pagerank, sources=[0, 2]),
        _pr(personalized_pagerank_csr, sources=[0, 2]),
        "ranks", "rank", "close",
    ),
    "bfs": (
        lambda g: bfs_distances(g, [0], directed=False),
        lambda g: bfs_distances_csr(g, [0], directed=False),
        "distances", "dist", "exact",
    ),
    "sssp": (
        lambda g: sssp_distances(g, [0], directed=False),
        lambda g: sssp_distances_csr(g, [0], directed=False),
        "distances", "dist", "exact",
    ),
    "cc": (connected_components, connected_components_csr, "labels", "label", "rounds"),
    "lpa": (
        lambda g: label_propagation(g, max_rounds=10),
        lambda g: label_propagation_csr(g, max_rounds=10),
        "labels", "label", "rounds",
    ),
    "kcore": (k_core_hindex, k_core_hindex_csr, "coreness", "coreness", "rounds"),
}
CASES = [
    (k, n)
    for k, row in KERNELS.items()
    for n in (KEYED_FIXTURES if row[4] == "rounds" else FIXTURES)
]


def _weighted_graph(spark, edges) -> Graph:
    rows = [(s, d, float((s + 2 * d) % 5 + 1)) for s, d in edges]
    df = spark.createDataFrame(rows, schema="src long, dst long, weight double")
    return Graph.from_edges(df, extra_cols=("weight",))


def _trace_consistent(res) -> bool:
    if hasattr(res, "deltas"):
        return len(res.deltas) == len(res.wall_ms_per_iter) == res.iterations
    return len(res.changed_per_round) == len(res.wall_ms_per_round) == res.rounds


@pytest.mark.parametrize("kernel,name", CASES)
def test_csr_engine_equals_df_engine(spark, kernel, name):
    run_df, run_csr, frame, col, check = KERNELS[kernel]
    g = _weighted_graph(spark, ALL_FIXTURES[name])
    df_res, csr_res = run_df(g), run_csr(g)
    want = {r["vid"]: r[col] for r in getattr(df_res, frame).collect()}
    got = {r["vid"]: r[col] for r in getattr(csr_res, frame).collect()}
    assert set(got) == set(want) == set(range(g.num_vertices))
    if check == "close":
        for v, w in want.items():
            assert abs(got[v] - w) <= 1e-12 * abs(w), (kernel, name, v, got[v], w)
    else:
        assert got == want, f"{kernel}/{name}: {got} != {want}"
    if check == "exact":
        assert df_res.converged and csr_res.converged
    if check == "rounds":
        assert (df_res.rounds, df_res.converged) == (csr_res.rounds, csr_res.converged)
    assert _trace_consistent(df_res) and _trace_consistent(csr_res)


def test_cc_pointer_jump_on_in_order_path(spark):
    """In-order path 0-1-…-299: one hop per round, ≤ 12 rounds on both engines, not ~300."""
    g = Graph.from_edges(edges_from_pairs(spark, [(i, i + 1) for i in range(299)]))
    res = [cc(g, max_rounds=20) for cc in (connected_components, connected_components_csr)]
    for r in res:
        assert r.converged and {x["label"] for x in r.labels.collect()} == {0}
    assert res[0].rounds == res[1].rounds <= 12
