"""Pointer jumping, ``label[v] ← label[label[v]]`` (reference apps.h:100-110).

The reference's label smoothing and connected components share this one
primitive. ``jump`` is one hop (a self-join); ``pointer_jump`` runs hops
to the fixpoint of a pointer forest (every chain ends at a root that
points to itself).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hoshizora_spark.graph.core import maybe_broadcast
from hoshizora_spark.runtime.checkpoint import cut_lineage


def jump(frame: DataFrame, key: str, ptr: str, num_rows: int) -> DataFrame:
    """One hop: ``frame[ptr]`` becomes the ``ptr`` of the row it points to.

    A left join of ``frame`` to its own hinted (key → ptr) projection, then
    a ``coalesce``: a pointer to a key outside ``frame`` stays put. Other
    columns ride along; ``num_rows`` bounds ``frame``'s row count.
    """
    hop = maybe_broadcast(
        frame.select(F.col(key).alias("_jk"), F.col(ptr).alias("_jp")), num_rows
    )
    return frame.join(hop, F.col(ptr) == F.col("_jk"), "left").select(
        *[F.coalesce("_jp", c).alias(c) if c == ptr else c for c in frame.columns]
    )


def pointer_jump(frame: DataFrame, key: str, ptr: str, num_rows: int) -> DataFrame:
    """Hop to the fixpoint; returns the lineage-cut result.

    Each hop is one Spark job: the ``cut_lineage`` write, with the
    changed-pointer count riding it as an ``Observation``. A hop doubles
    how far every pointer reaches, so ⌈log2 rows⌉+1 hops finish any
    pointer forest; that is the cap. ``frame`` should be materialized, as
    each hop reads it twice.
    """
    cur = frame
    for i in range(math.ceil(math.log2(max(num_rows, 2))) + 1):
        obs = Observation(f"hz_jump_{i}")
        nxt = jump(cur.withColumn("_prev", F.col(ptr)), key, ptr, num_rows)
        nxt = nxt.observe(obs, F.sum((F.col(ptr) != F.col("_prev")).cast("long")).alias("n"))
        cur = cut_lineage(nxt).drop("_prev")
        if not obs.get.get("n"):
            break
    return cur
