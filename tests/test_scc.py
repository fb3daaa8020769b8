"""Strongly connected components: FW-BW coloring vs an iterative-Tarjan oracle.

Not shipped by the reference (README.md:67 lists applications as WIP);
the canonical directed decomposition for link graphs. The engine labels
each SCC by its MAX vertex id; the oracle (tests/oracle.py Tarjan,
itself cross-validated against boolean transitive closure) uses the
same contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from hoshizora_spark import Graph, edges_from_pairs, strongly_connected_components
from tests import oracle
from tests.fixtures import ALL_FIXTURES


def _labels(res, num_vertices):
    rows = {r["vid"]: r["scc"] for r in res.labels.collect()}
    assert len(rows) == num_vertices
    return np.array([rows[v] for v in range(num_vertices)])


@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_scc_matches_tarjan_fixtures(spark, name):
    edges = ALL_FIXTURES[name]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = strongly_connected_components(g)
    assert res.converged
    got = _labels(res, g.num_vertices)
    want = oracle.strongly_connected_components(edges, g.num_vertices)
    assert (got == want).all(), name


def test_scc_random_cyclic_graphs(spark):
    """Random digraphs dense enough to form nontrivial SCC structure —
    exercises multi-round extraction (several color classes per round,
    trim of sources/sinks, outer-loop re-activation)."""
    rng = np.random.default_rng(11)
    for trial in range(3):
        V = 60
        E = int(2.2 * V)
        edges = [(int(rng.integers(V)), int(rng.integers(V))) for _ in range(E)]
        g = Graph.from_edges(edges_from_pairs(spark, edges), num_vertices=V)
        res = strongly_connected_components(g)
        assert res.converged
        got = _labels(res, V)
        want = oracle.strongly_connected_components(edges, V)
        assert (got == want).all(), trial
        assert sum(res.extracted_per_round) == V


def test_scc_bowtie(spark):
    """The Broder bowtie: IN -> core cycle -> OUT, the motivating
    web-graph shape. Core is one SCC; IN/OUT are singletons."""
    core = [(10, 11), (11, 12), (12, 13), (13, 10)]
    tendrils = [(0, 10), (1, 10), (2, 11), (12, 20), (13, 21), (13, 22)]
    edges = core + tendrils
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = strongly_connected_components(g)
    got = _labels(res, g.num_vertices)
    want = oracle.strongly_connected_components(edges, g.num_vertices)
    assert (got == want).all()
    # the core carries label 13 (max core vid); everything else is itself
    assert got[10] == got[11] == got[12] == got[13] == 13
    for v in (0, 1, 2, 20, 21, 22):
        assert got[v] == v


def test_scc_chained_cycles_needs_multiple_outer_rounds(spark):
    """Cycles linked in a path from HIGH ids to LOW ids: C3 -> C2 -> C1
    -> C0. Forward max-id coloring floods vertex 19 over every cycle, so
    only C3 (the class that reaches its root) extracts in round 1 and
    each downstream cycle needs a fresh outer round's re-coloring — pins
    the outer-loop logic."""
    edges = []
    k = 5
    for c in range(4):
        base = c * k
        for i in range(k):
            edges.append((base + i, base + (i + 1) % k))
        if c > 0:
            edges.append((base, base - k))  # bridge to the LOWER-id cycle
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = strongly_connected_components(g)
    got = _labels(res, g.num_vertices)
    want = oracle.strongly_connected_components(edges, g.num_vertices)
    assert (got == want).all()
    assert res.outer_rounds > 1


def test_scc_truncated_inner_loop_is_not_converged(spark):
    """A 12-vertex directed cycle with max_inner=3: COLOR stops before the
    max id has gone round, so the extraction sees partial colors. The
    result must say so (or be right anyway) — never false singletons
    reported as converged."""
    edges = [(i, (i + 1) % 12) for i in range(12)]
    g = Graph.from_edges(edges_from_pairs(spark, edges))
    res = strongly_connected_components(g, max_inner=3)
    got = _labels(res, g.num_vertices)
    want = oracle.strongly_connected_components(edges, g.num_vertices)
    assert res.converged is False or (got == want).all()
