"""Graph abstraction: an edge DataFrame over a dense int64 vertex domain.

The reference engine (hoshizora) stores a directed graph as CSR+CSC over a
dense 0-based vertex domain inferred as ``max(id)+1`` with multi-edges kept
(``/root/reference/src/hoshizora/core/graph.h:439-547``). Our logical
representation is simply ``edges(src: long, dst: long)`` — Catalyst owns the
physical strategy; the CSR-block fast path (``hoshizora_spark.graph.csr``)
is an opt-in physical layout behind the same algorithms.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EDGE_COLS = ("src", "dst")


def edges_from_pairs(spark: SparkSession, pairs: list[tuple[int, int]]) -> DataFrame:
    """Tiny-fixture helper: build an edge DataFrame from Python pairs."""
    return spark.createDataFrame(
        [(int(s), int(d)) for s, d in pairs], schema="src long, dst long"
    )


def symmetrize(edges: DataFrame, dedup: bool = True, drop_loops: bool = True) -> DataFrame:
    """Undirected view: src↔dst union. Used by CC / LPA / triangles.

    Mirrors the reference's in-edge dedup (``core/graph.h:574-590`` uses a
    std::set when building from adjacency lists) for the algorithms whose
    semantics are defined on simple undirected graphs.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if drop_loops:
        sym = sym.filter(F.col("src") != F.col("dst"))
    if dedup:
        sym = sym.distinct()
    return sym


def sized_partitions(spark: SparkSession, num_rows: int, rows_per_partition: int = 150_000) -> int:
    """Partition count proportional to data volume, capped at the session's
    shuffle parallelism. Over-splitting small data wastes a fixed per-task
    cost per superstep (measured ~2× on 1M-edge graphs at 32 partitions);
    under-splitting big data spills — both ends of the same dial.
    ``spark.sql.shuffle.partitions`` stays the cluster-sized ceiling.
    """
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(1, min(cap, num_rows // rows_per_partition + 1))


def cache_superstep_edges(
    edges: DataFrame, num_vertices: int
) -> tuple[DataFrame, str, int]:
    """Persist a BSP loop's static edge operand with a scan-friendly layout.

    Every superstep re-scans this frame, so its in-memory layout is the
    loop's memory-bus bill: (a) vertex ids compact to int32 when the domain
    fits (4-byte join/agg keys; at 10^12-vertex scale ids stay long and the
    cast is skipped), and (b) rows sort by src within each partition so the
    columnar cache's delta/RLE codecs compress the src run. Pre-partitioned
    on src so the per-superstep state join never re-shuffles this side.

    Returns (cached frame, key type name, edge count E) — steps must cast
    the state's vid to the key type on the join side and cast message vids
    back to long. The view's upstream plan runs ONCE: the view is staged in
    the cache and counted (E sizes the partitioning), the layout is built
    and materialized from the staged copy, and the staged copy is released
    (unless the caller had cached the view already).
    Never ``count()`` a view and then pass it here — that runs it twice.

    PRECONDITION (dense domain): every src/dst id lies in
    ``[0, num_vertices)``. ``num_vertices`` is trusted as the bound — a
    Graph constructed with an inconsistent explicit ``num_vertices`` whose
    real ids exceed int32 fails the ANSI cast here rather than at
    construction (validating would cost a full edge scan per loop).
    Construct with ``Graph.from_edges(..., validate=True)`` to pay that
    scan once up front when the input isn't trusted.
    """
    # a view the caller already cached is read from that cache and kept
    owned = edges.storageLevel == StorageLevel.NONE
    staged = edges.persist()
    try:
        num_edges = staged.count()
        key_type = "int" if num_vertices - 1 <= 2**31 - 1 else "long"
        view = staged.select(
            *[
                F.col(c).cast(key_type).alias(c) if c in ("src", "dst") else F.col(c)
                for c in staged.columns
            ]
        )
        n_part = sized_partitions(view.sparkSession, num_edges)
        cached = view.repartition(n_part, "src").sortWithinPartitions("src").persist()
        cached.count()
    finally:
        if owned:
            staged.unpersist()
    return cached, key_type, num_edges


# Largest state side a per-superstep join broadcasts: above it the driver
# serializes each broadcast for longer than a shuffle_hash exchange takes.
BROADCAST_ROWS = 200_000


def maybe_broadcast(
    df: DataFrame, num_rows: int, threshold: int = BROADCAST_ROWS
) -> DataFrame:
    """Broadcast-hint ``df`` when its row count is known to be small.

    Per-superstep joins of a V-row state table against an E-row edge table
    should broadcast the state side whenever V is cluster-broadcastable —
    the persisted, pre-partitioned edge side then never re-shuffles. At
    link-graph scale (V ~ 10^12) the state side is instead hinted
    ``shuffle_hash``: the state exchanges (executor-side, no driver
    collect job) and builds the hash side, while the persisted edge side
    streams. Without the hint Catalyst prefers sort-merge
    (``spark.sql.join.preferSortMergeJoin``), which would RE-SORT the
    E-row side every superstep — the state side is always the small side
    of these joins, so the hash build is safe at any V that fits a
    partition (and AQE skew-split still applies on the streamed side).
    """
    return F.broadcast(df) if num_rows <= threshold else df.hint("shuffle_hash")


@dataclass(frozen=True)
class Graph:
    """Directed multigraph over a dense vertex domain ``0..num_vertices-1``.

    ``num_vertices`` follows the reference rule ``max(max(src), max(dst)) + 1``
    (``core/graph.h:453-455``): ids below the max with no incident edges are
    real, isolated vertices.
    """

    edges: DataFrame  # (src: long, dst: long); multi-edges kept
    num_vertices: int

    @staticmethod
    def from_edges(
        edges: DataFrame,
        num_vertices: int | None = None,
        extra_cols: tuple[str, ...] = (),
        validate: bool = False,
    ) -> "Graph":
        """``extra_cols`` keeps edge-property columns (e.g. a weight — the
        analogue of the reference's ``e_props``, core/graph.h:74).

        An explicit ``num_vertices`` is a trusted dense-domain contract:
        every id must lie in ``[0, num_vertices)`` (downstream int32
        compaction — ``cache_superstep_edges`` — relies on it as the
        bound). ``validate=True`` pays one edge scan to check it at
        construction time instead of failing with an ANSI cast error
        when a loop caches its edges; leave it off when the ids come from
        a builder that guarantees the domain (e.g. ``compact_ids``).
        """
        edges = edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            *[F.col(c) for c in extra_cols],
        )
        if num_vertices is None:
            row = edges.agg(
                F.max(F.greatest(F.col("src"), F.col("dst"))).alias("mx")
            ).first()
            num_vertices = int(row["mx"]) + 1 if row and row["mx"] is not None else 0
        elif validate:
            row = edges.agg(
                F.max(F.greatest(F.col("src"), F.col("dst"))).alias("mx"),
                F.min(F.least(F.col("src"), F.col("dst"))).alias("mn"),
            ).first()
            if row and row["mx"] is not None and (
                int(row["mx"]) >= num_vertices or int(row["mn"]) < 0
            ):
                raise ValueError(
                    f"Graph.from_edges: ids span [{row['mn']}, {row['mx']}] — "
                    f"outside the declared dense domain [0, {num_vertices})"
                )
        return Graph(edges=edges, num_vertices=num_vertices)

    @staticmethod
    def from_adjacency(
        adj: DataFrame,
        dedup: bool = False,
        num_vertices: int | None = None,
    ) -> "Graph":
        """Build from an adjacency-list frame ``(vid: long, neighbors: array<long>)``.

        Mirrors the reference's ``from_adjacency_list`` (core/graph.h:551-622):
        the vertex domain is the number of adjacency rows (packed ids are a
        precondition there, graph.h:549-550) — vertices with empty neighbor
        lists still count, unlike the max-id rule of ``from_edges``. The
        reference keeps duplicate neighbors on the out-CSR but dedups
        in-edges through a ``std::set`` (graph.h:556,568-570) — an
        asymmetry one edge set can't carry, so it is a flag here:
        ``dedup=False`` reproduces the out-edge (scatter-side) view with
        multi-edges, ``dedup=True`` the in-edge (gather-side) view.
        """
        if num_vertices is None:
            row = adj.agg(F.count(F.lit(1)).alias("n"), F.max("vid").alias("mx")).first()
            mx = int(row["mx"]) + 1 if row and row["mx"] is not None else 0
            num_vertices = max(int(row["n"]) if row else 0, mx)
        edges = adj.select(
            F.col("vid").cast("long").alias("src"), F.explode("neighbors").alias("dst")
        ).select("src", F.col("dst").cast("long").alias("dst"))
        if dedup:
            edges = edges.distinct()
        return Graph(edges=edges, num_vertices=num_vertices)

    def to_adjacency(self) -> DataFrame:
        """(vid, neighbors: array<long>) — inverse of ``from_adjacency``;
        neighbors sorted for determinism, empty arrays for isolated ids."""
        nbrs = self.edges.groupBy(F.col("src").alias("vid")).agg(
            F.sort_array(F.collect_list("dst")).alias("neighbors")
        )
        return (
            self.vertices()
            .join(nbrs, "vid", "left")
            .select(
                "vid",
                F.coalesce("neighbors", F.expr("CAST(array() AS array<long>)")).alias(
                    "neighbors"
                ),
            )
        )

    @property
    def spark(self) -> SparkSession:
        return self.edges.sparkSession

    def vertices(self) -> DataFrame:
        """The dense vertex domain as a DataFrame (vid: long), with
        partition count sized to V (state frames re-derive their layout
        from this every superstep — over-splitting costs per-task overhead
        in every job of the loop)."""
        n = sized_partitions(self.spark, self.num_vertices, 500_000)
        return self.spark.range(0, self.num_vertices, 1, n).select(
            F.col("id").alias("vid")
        )

    @cached_property
    def out_degrees(self) -> DataFrame:
        """(src: long, out_deg: long) — only vertices with out-edges appear."""
        return self.edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))

    @cached_property
    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_deg"))

    def undirected(self) -> DataFrame:
        return symmetrize(self.edges)

    def save(self, path: str) -> None:
        """Persist edges (parquet) + domain metadata for later sessions."""
        self.edges.write.mode("overwrite").parquet(f"{path}/edges")
        self.spark.createDataFrame(
            [(self.num_vertices,)], schema="num_vertices long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    @staticmethod
    def load(spark: SparkSession, path: str) -> "Graph":
        v = spark.read.parquet(f"{path}/meta").first()["num_vertices"]
        return Graph(edges=spark.read.parquet(f"{path}/edges"), num_vertices=int(v))
