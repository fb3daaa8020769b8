"""Scalable dense-ID assignment (0..V-1) for arbitrary keys.

The reference demands pre-packed dense ids (core/graph.h:437-438) and packs
cluster ids with an incremental map (app/apps.h:76-78,118-123) — both
single-threaded. The distributed equivalent must NOT be a global Window
row_number (that funnels every row through one partition). Instead:

  1. range-repartition + sort by key           (one exchange; ordered ranges)
  2. count rows per partition                  (small collect: n_part longs)
  3. id = cumulative offset of my partition + local row_number

Step 3's window partitions by spark_partition_id, so each window group is
exactly one (already sorted) partition. The range-partitioned frame is
materialized once (eager ``localCheckpoint``) before steps 2 and 3:
``repartitionByRange`` samples its bounds per execution, so two separate
executions could cut different ranges and hand out repeated or
out-of-domain ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_dense_ids(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "vid",
    num_partitions: int | None = None,
) -> DataFrame:
    """Return df (deduped on key_cols) + ``id_col``: dense 0..V-1, ordered by key."""
    spark = df.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    keyed = df.select(*key_cols).distinct()
    ranged = keyed.repartitionByRange(n_part, *key_cols).sortWithinPartitions(*key_cols)
    ranged = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=True)
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]),
        F.col("_pid"),
    )
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    return (
        ranged.withColumn(id_col, (offset_expr + F.row_number().over(w) - 1).cast("long"))
        .drop("_pid")
    )
