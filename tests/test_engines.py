"""One kernel, two engines: every kernel ``run_kernel`` serves answers the
same on the DataFrame engine and the CSR-block engine.

Min kernels (BFS, SSSP, CC) must agree exactly; sum kernels (PageRank,
weighted PageRank, PPR) to 1e-12 relative — Spark does not pin the merge
order of a double sum, and the CSR engine folds per block first. Both
engines must also report one convergence statistic and one wall time per
superstep they ran.
"""

from __future__ import annotations

import pytest

from hoshizora_spark import (
    Graph,
    bfs_distances,
    bfs_distances_csr,
    connected_components,
    connected_components_csr,
    pagerank,
    pagerank_csr,
    personalized_pagerank,
    personalized_pagerank_csr,
    sssp_distances,
    sssp_distances_csr,
)
from tests.fixtures import ALL_FIXTURES

FIXTURES = ["g1_chain", "g4_two_triangles_bridge", "g5_multi_dup_isolated", "g6_powerlaw"]
PR_ITERS = 10


def _pr(fn, **kw):
    return lambda g: fn(g, tol=None, max_iters=PR_ITERS, **kw)


# name -> (DF call, CSR call, result frame attr, value column, exact?)
KERNELS = {
    "pagerank": (_pr(pagerank), _pr(pagerank_csr), "ranks", "rank", False),
    "pagerank_weighted": (
        _pr(pagerank, weight_col="weight"),
        _pr(pagerank_csr, weight_col="weight"),
        "ranks", "rank", False,
    ),
    "ppr": (
        _pr(personalized_pagerank, sources=[0, 2]),
        _pr(personalized_pagerank_csr, sources=[0, 2]),
        "ranks", "rank", False,
    ),
    "bfs": (
        lambda g: bfs_distances(g, [0], directed=False),
        lambda g: bfs_distances_csr(g, [0], directed=False),
        "distances", "dist", True,
    ),
    "sssp": (
        lambda g: sssp_distances(g, [0], directed=False),
        lambda g: sssp_distances_csr(g, [0], directed=False),
        "distances", "dist", True,
    ),
    "cc": (connected_components, connected_components_csr, "labels", "label", True),
}


def _weighted_graph(spark, edges) -> Graph:
    rows = [(s, d, float((s + 2 * d) % 5 + 1)) for s, d in edges]
    df = spark.createDataFrame(rows, schema="src long, dst long, weight double")
    return Graph.from_edges(df, extra_cols=("weight",))


def _trace_consistent(res) -> bool:
    if hasattr(res, "deltas"):
        return len(res.deltas) == len(res.wall_ms_per_iter) == res.iterations
    return len(res.changed_per_round) == len(res.wall_ms_per_round) == res.rounds


@pytest.mark.parametrize("name", FIXTURES)
@pytest.mark.parametrize("kernel", list(KERNELS))
def test_csr_engine_equals_df_engine(spark, kernel, name):
    run_df, run_csr, frame, col, exact = KERNELS[kernel]
    g = _weighted_graph(spark, ALL_FIXTURES[name])
    df_res, csr_res = run_df(g), run_csr(g)
    want = {r["vid"]: r[col] for r in getattr(df_res, frame).collect()}
    got = {r["vid"]: r[col] for r in getattr(csr_res, frame).collect()}
    assert set(got) == set(want) == set(range(g.num_vertices))
    if exact:
        assert got == want, f"{kernel}/{name}: {got} != {want}"
        assert df_res.converged and csr_res.converged
    else:
        for v, w in want.items():
            assert abs(got[v] - w) <= 1e-12 * abs(w), (kernel, name, v, got[v], w)
    assert _trace_consistent(df_res) and _trace_consistent(csr_res)
