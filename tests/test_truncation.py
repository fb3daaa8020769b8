"""Round-capped loops report ``converged=False`` instead of a silent
partial answer."""

from __future__ import annotations

import pytest

from hoshizora_spark import (
    Graph,
    betweenness_centrality,
    edges_from_pairs,
    harmonic_centrality,
    harmonic_centrality_hll,
    neighborhood_function,
    neighborhood_function_hll,
)


@pytest.mark.parametrize(
    "fn",
    [
        neighborhood_function,
        neighborhood_function_hll,
        harmonic_centrality,
        harmonic_centrality_hll,
        betweenness_centrality,
    ],
    ids=lambda fn: fn.__name__,
)
def test_reachability_loop_truncated_is_not_converged(spark, fn):
    """A 12-vertex directed chain needs 11 hops to its fixpoint."""
    g = Graph.from_edges(edges_from_pairs(spark, [(i, i + 1) for i in range(11)]))
    assert fn(g, directed=True, max_rounds=2).converged is False
