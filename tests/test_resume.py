"""Checkpoint/resume: stop after k supersteps, resume, identical results.

North_rule: "resumable from checkpoint with per-partition lineage + metrics".
"""

from __future__ import annotations

import numpy as np

from hoshizora_spark import (
    CheckpointManager,
    Graph,
    connected_components,
    edges_from_pairs,
    pagerank,
)
from tests.fixtures import ALL_FIXTURES


def _ranks_array(res, n):
    rows = {r["vid"]: r["rank"] for r in res.ranks.collect()}
    return np.array([rows[i] for i in range(n)])


def test_pagerank_resume_identical(spark, tmp_path):
    g = Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES["g6_powerlaw"]))
    full = pagerank(g, tol=1e-8, max_iters=200)
    want = _ranks_array(full, g.num_vertices)

    ck = CheckpointManager(str(tmp_path), "pagerank", run_id="r1")
    partial = pagerank(g, tol=None, max_iters=7, checkpoint=ck)  # "killed" after 7
    assert partial.iterations == 7
    assert ck.latest_iter() == 6

    ck2 = CheckpointManager(str(tmp_path), "pagerank", run_id="r1")
    resumed = pagerank(g, tol=1e-8, max_iters=200, checkpoint=ck2, resume=True)
    got = _ranks_array(resumed, g.num_vertices)
    assert resumed.converged
    assert np.allclose(got, want, atol=1e-9)
    # fewer supersteps ran after resume than from scratch
    assert resumed.iterations < full.iterations

    # lineage + metrics recorded per superstep: one row each, fixed schema
    m = ck2.metrics(spark)
    assert m.dtypes == [
        ("run_id", "string"),
        ("iter", "int"),
        ("edges_processed", "bigint"),
        ("wall_ms", "double"),
        ("max_abs_delta", "double"),
        ("changed", "bigint"),
    ]
    rows = m.collect()
    assert sorted(r["iter"] for r in rows) == list(
        range(partial.iterations + resumed.iterations)
    )
    assert {r["run_id"] for r in rows} == {"r1"}


def test_append_metrics_runs_no_spark_job(spark, tmp_path):
    """A superstep's metrics row is a driver-side file write: no Spark job
    (and no Python worker) is spent on telemetry."""
    sc = spark.sparkContext
    ck = CheckpointManager(str(tmp_path), "pagerank", run_id="m1")
    sc.setJobGroup("hz_append_metrics", "append_metrics")
    try:
        ck.append_metrics(0, 10, 1.5, 0.25, None)
        ck.append_metrics(1, 10, 2.5, None, 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("hz_append_metrics")) == []
    rows = sorted(ck.metrics(spark).collect(), key=lambda r: r["iter"])
    assert [tuple(r) for r in rows] == [
        ("m1", 0, 10, 1.5, 0.25, None),
        ("m1", 1, 10, 2.5, None, 3),
    ]


def test_pagerank_csr_resume_identical(spark, tmp_path):
    from hoshizora_spark import pagerank_csr
    from hoshizora_spark.graph.csr import build_csr_blocks

    g = Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES["g6_powerlaw"]))
    csr = build_csr_blocks(g, num_blocks=3)
    want = _ranks_array(pagerank_csr(g, csr, tol=1e-8, max_iters=200), g.num_vertices)

    ck = CheckpointManager(str(tmp_path), "pr_csr", run_id="x1")
    pagerank_csr(g, csr, tol=None, max_iters=5, checkpoint=ck)
    ck2 = CheckpointManager(str(tmp_path), "pr_csr", run_id="x1")
    resumed = pagerank_csr(g, csr, tol=1e-8, max_iters=200, checkpoint=ck2, resume=True)
    got = _ranks_array(resumed, g.num_vertices)
    assert resumed.converged
    assert np.allclose(got, want, atol=1e-9)


def test_pagerank_partitioning_invariance(spark):
    """Same result regardless of input partitioning (determinism across
    parallelism levels, SURVEY §5.3)."""
    pairs = ALL_FIXTURES["g6_powerlaw"]
    base = edges_from_pairs(spark, pairs)
    a = pagerank(Graph.from_edges(base.repartition(3)), tol=1e-9, max_iters=300)
    b = pagerank(Graph.from_edges(base.repartition(11)), tol=1e-9, max_iters=300)
    va = _ranks_array(a, 200)
    vb = _ranks_array(b, 200)
    assert np.allclose(va, vb, atol=1e-9)


def test_cc_resume_identical(spark, tmp_path):
    g = Graph.from_edges(edges_from_pairs(spark, ALL_FIXTURES["g4_two_triangles_bridge"]))
    want = {r["vid"]: r["label"] for r in connected_components(g).labels.collect()}

    ck = CheckpointManager(str(tmp_path), "cc", run_id="c1")
    connected_components(g, max_rounds=1, checkpoint=ck)
    ck2 = CheckpointManager(str(tmp_path), "cc", run_id="c1")
    resumed = connected_components(g, checkpoint=ck2, resume=True)
    got = {r["vid"]: r["label"] for r in resumed.labels.collect()}
    assert resumed.converged and got == want


def test_checkpoint_manager_file_uri_roundtrip(spark, tmp_path):
    """CheckpointManager through a file:// URI base — the same scheme-
    detected pyarrow.fs path the CSR sidecar uses (a bare path and a URI
    must behave identically; on a real cluster the URI is hdfs:// / s3://)."""
    edges = ALL_FIXTURES["g4_two_triangles_bridge"]
    g = Graph.from_edges(edges_from_pairs(spark, edges))

    full = pagerank(g, tol=1e-8, max_iters=200)
    want = _ranks_array(full, g.num_vertices)

    ck = CheckpointManager(f"file://{tmp_path}/ckpt", "pagerank", run_id="uri1")
    assert ck.latest_iter() is None
    partial = pagerank(g, tol=None, max_iters=5, checkpoint=ck)  # "killed" at 5
    assert ck.latest_iter() == 4

    # resume from the URI-rooted store: identical fixpoint
    ck2 = CheckpointManager(f"file://{tmp_path}/ckpt", "pagerank", run_id="uri1")
    resumed = pagerank(g, tol=1e-8, max_iters=200, checkpoint=ck2, resume=True)
    assert resumed.converged
    assert np.allclose(_ranks_array(resumed, g.num_vertices), want, atol=1e-9)
    # lineage + metrics parquet live under the URI root and read back
    m = ck2.metrics(spark)
    assert m.count() >= partial.iterations + resumed.iterations
