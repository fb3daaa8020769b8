"""M0/M1 tests: corpus synthesizer, sha256 invariant, dense IDs, edge builder."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hoshizora_spark.corpus import synthesize_corpus, verify_sha256
from hoshizora_spark.graph.build import build_graph_from_corpus, reference_lines
from hoshizora_spark.graph.ids import assign_dense_ids
from hoshizora_spark.algorithms.pagerank import pagerank


@pytest.fixture(scope="module")
def corpus(spark):
    return synthesize_corpus(spark, num_repos=4, files_per_repo=8, seed=42).persist()


def test_corpus_shape_and_determinism(spark, corpus):
    assert corpus.columns == ["repo", "path", "commit", "lang", "content", "content_sha256"]
    assert corpus.count() == 32
    # deterministic across regeneration and partitioning
    again = synthesize_corpus(spark, num_repos=4, files_per_repo=8, seed=42, num_partitions=2)
    a = sorted(corpus.select("repo", "path", "content_sha256").collect())
    b = sorted(again.select("repo", "path", "content_sha256").collect())
    assert a == b
    # different seed -> different content
    other = synthesize_corpus(spark, num_repos=4, files_per_repo=8, seed=7)
    c = sorted(other.select("repo", "path", "content_sha256").collect())
    assert a != c


def test_sha256_ingest_invariant(corpus):
    # engine-side recompute matches stored column
    assert verify_sha256(corpus) == 0
    # independent python hashlib check on every row (BASELINE input_hint)
    for row in corpus.collect():
        assert hashlib.sha256(row["content"].encode()).hexdigest() == row["content_sha256"]
        assert row["commit"] == hashlib.sha256(
            f"{row['repo']}/{row['path']}".encode()
        ).hexdigest()[:40]


def test_reference_lines_all_resolvable(corpus):
    refs = reference_lines(corpus)
    assert refs.count() > 0
    # every line of every content matched either header or an import form
    n_import_lines = (
        corpus.select(F.explode(F.split("content", "\n")).alias("l"))
        .filter((F.col("l") != "") & ~F.col("l").startswith("//"))
        .count()
    )
    assert refs.count() == n_import_lines


def test_dense_ids_are_dense_and_ordered(spark, corpus):
    ids = assign_dense_ids(corpus, ["repo", "path"])
    rows = ids.orderBy("vid").collect()
    assert [r["vid"] for r in rows] == list(range(len(rows)))
    keys = [(r["repo"], r["path"]) for r in rows]
    assert keys == sorted(keys)  # id order == key order
    # determinism at a different partition count
    ids2 = assign_dense_ids(corpus, ["repo", "path"], num_partitions=3)
    assert sorted(ids.collect()) == sorted(ids2.collect())


def test_build_graph_from_corpus(corpus):
    bundle = build_graph_from_corpus(corpus)
    assert bundle.num_vertices == 32
    # every import line resolves to exactly one edge
    assert bundle.num_edges == reference_lines(corpus).count() > 0
    assert bundle.unresolved_refs == 0  # synthesizer only emits resolvable refs
    # built once: later reads of the graph scan the cache, not the regexps
    assert bundle.edges.is_cached and bundle.vertices.is_cached
    assert bundle.edges.storageLevel.useMemory
    mx = bundle.edges.agg(F.max(F.greatest("src", "dst"))).first()[0]
    mn = bundle.edges.agg(F.min(F.least("src", "dst"))).first()[0]
    assert 0 <= mn and mx < 32
    # no self-imports by construction
    assert bundle.edges.filter(F.col("src") == F.col("dst")).count() == 0
    bundle.edges.unpersist()
    bundle.vertices.unpersist()


def test_pagerank_on_corpus_graph(corpus):
    bundle = build_graph_from_corpus(corpus)
    res = pagerank(bundle.graph, tol=1e-8)
    assert res.converged
    total = res.ranks.agg(F.sum("rank")).first()[0]
    assert 0 < total <= bundle.num_vertices


def test_dense_ids_exact_domain_with_four_partitions(spark):
    """``repartitionByRange`` samples its bounds per execution; the offsets
    pass and the numbering pass must see the same ranges, or ids repeat and
    overrun the domain. Both the packer and the corpus graph builder must
    hand out exactly 0..V-1."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    keys = spark.range(20_000).select(
        F.format_string("r%03d", F.col("id") % 100).alias("repo"),
        F.format_string("src/f%05d.py", F.col("id")).alias("path"),
    )
    vids = sorted(r["vid"] for r in assign_dense_ids(keys, ["repo", "path"]).collect())
    assert vids == list(range(20_000))
    corpus = synthesize_corpus(spark, num_repos=50, files_per_repo=100, seed=3)
    bundle = build_graph_from_corpus(corpus)
    vids = sorted(r["vid"] for r in bundle.vertices.select("vid").collect())
    assert vids == list(range(5_000)) and bundle.num_vertices == 5_000
