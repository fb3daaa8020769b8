"""V0: corpus table → dependency edge table → dense-ID graph (SURVEY.md §2.3).

Pipeline (all Catalyst-native: split/explode/regexp/join — no Python UDFs):

  1. explode content into lines, regexp-match the three import forms
  2. resolve each reference against the corpus's own (repo, path) universe
     (py imports resolve via file stem within the target repo)
  3. compact (repo, path) keys to dense int64 vids (graph.ids) — the Spark
     analogue of the reference's packed-index precondition
     (core/graph.h:437-438) and cluster-id packing (app/apps.h:76-78)
  4. emit edges(src, dst); unresolved references are dropped and counted
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import Graph
from hoshizora_spark.graph.ids import assign_dense_ids

_PY_RE = r"^import ([A-Za-z0-9_]+)\.([A-Za-z0-9_]+)\s*$"
_C_RE = r'^#include "([^/"]+)/([^"]+)"\s*$'
_JS_RE = r"^require\('([^/']+)/([^']+)'\)\s*$"


def reference_lines(corpus: DataFrame) -> DataFrame:
    """(repo, path, ref_repo, ref_path, ref_stem) — one row per import line.

    ``ref_path`` is set for c/js (full-path form); ``ref_stem`` for py
    (module form). Exactly one of the two is non-empty per matched line.
    """
    lines = corpus.select(
        "repo", "path", F.explode(F.split("content", "\n")).alias("line")
    )
    m = lines.select(
        "repo",
        "path",
        F.regexp_extract("line", _PY_RE, 1).alias("py_repo"),
        F.regexp_extract("line", _PY_RE, 2).alias("py_stem"),
        F.regexp_extract("line", _C_RE, 1).alias("c_repo"),
        F.regexp_extract("line", _C_RE, 2).alias("c_path"),
        F.regexp_extract("line", _JS_RE, 1).alias("js_repo"),
        F.regexp_extract("line", _JS_RE, 2).alias("js_path"),
    )
    return m.select(
        "repo",
        "path",
        F.when(F.col("py_repo") != "", F.col("py_repo"))
        .when(F.col("c_repo") != "", F.col("c_repo"))
        .when(F.col("js_repo") != "", F.col("js_repo"))
        .otherwise(F.lit(None))
        .alias("ref_repo"),
        F.when(F.col("c_path") != "", F.col("c_path"))
        .when(F.col("js_path") != "", F.col("js_path"))
        .otherwise(F.lit(None))
        .alias("ref_path"),
        F.when(F.col("py_stem") != "", F.col("py_stem")).otherwise(F.lit(None)).alias("ref_stem"),
    ).filter(F.col("ref_repo").isNotNull())


def _stem(path_col):
    """file stem: 'src/f00012.py' -> 'f00012'."""
    return F.substring_index(F.element_at(F.split(path_col, "/"), -1), ".", 1)


@dataclass
class GraphBundle:
    """The built corpus graph. ``vertices`` and ``edges`` come back
    persisted and materialized, so every later read of the graph scans the
    cache instead of re-running the split/explode/regexp pipeline; the
    caller releases both (``unpersist``) when done with the graph."""

    vertices: DataFrame  # (vid, repo, path)
    edges: DataFrame  # (src, dst) — multi-edges kept (one per import line)
    graph: Graph
    num_vertices: int
    num_edges: int
    unresolved_refs: int


def build_graph_from_corpus(corpus: DataFrame) -> GraphBundle:
    vertices = assign_dense_ids(corpus, ["repo", "path"], id_col="vid").persist()
    num_vertices = vertices.count()

    # persisted: counted here, then joined into the edges
    refs = reference_lines(corpus).persist()
    n_refs = refs.count()

    src_side = vertices.select(
        F.col("repo").alias("s_repo"), F.col("path").alias("s_path"), F.col("vid").alias("src")
    )
    dst_by_path = vertices.select(
        F.col("repo").alias("d_repo"), F.col("path").alias("d_path"), F.col("vid").alias("dst")
    )
    dst_by_stem = vertices.select(
        F.col("repo").alias("d_repo"),
        _stem(F.col("path")).alias("d_stem"),
        F.col("vid").alias("dst"),
    )

    with_src = refs.join(
        src_side,
        (refs.repo == src_side.s_repo) & (refs.path == src_side.s_path),
    )
    by_path = with_src.filter(F.col("ref_path").isNotNull()).join(
        dst_by_path,
        (F.col("ref_repo") == dst_by_path.d_repo) & (F.col("ref_path") == dst_by_path.d_path),
    ).select("src", "dst")
    by_stem = with_src.filter(F.col("ref_stem").isNotNull()).join(
        dst_by_stem,
        (F.col("ref_repo") == dst_by_stem.d_repo) & (F.col("ref_stem") == dst_by_stem.d_stem),
    ).select("src", "dst")
    edges = by_path.union(by_stem).persist()
    num_edges = edges.count()
    refs.unpersist()

    graph = Graph(edges=edges, num_vertices=num_vertices)
    return GraphBundle(
        vertices=vertices,
        edges=edges,
        graph=graph,
        num_vertices=num_vertices,
        num_edges=num_edges,
        unresolved_refs=n_refs - num_edges,
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """In-degree histogram (log2 buckets) — feeds the skew/salting decision."""
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_deg"))
    return (
        indeg.withColumn("bucket", F.floor(F.log2("in_deg")))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vertices"), F.max("in_deg").alias("max_in_deg"))
        .orderBy("bucket")
    )
