"""Per-superstep checkpointing with per-partition lineage + iteration metrics.

Mandated by the target spec (BASELINE.json north_star): every superstep
persists vertex state so a run can resume mid-convergence. Layout:

    <base>/<algo>/<run_id>/iter=<k>/state/     vertex-state parquet
    <base>/<algo>/<run_id>/iter=<k>/lineage/   (iter, partition_id, rows, fingerprint)
    <base>/<algo>/<run_id>/metrics/            one driver-written parquet file per superstep

On a cluster ``base`` would be an Iceberg warehouse path; parquet-on-dir is
the same write shape (atomic per-iteration directory + _SUCCESS marker).
``base_dir`` takes any ``scheme://`` path: the Spark reads/writes pass it
through, and the driver-side ``_DONE`` markers, metrics rows and
``latest_iter`` scan go through the same scheme-detected ``pyarrow.fs``
abstraction as the CSR sidecar store (graph/csr.py ``_fs_for`` — bare
path → LocalFileSystem, ``hdfs://``/``s3://``/``file://`` via
``FileSystem.from_uri``).
The reference has no analogue — it mutates a double-buffered array in place
(core/graph.h:431-435); checkpointing is what replaces that on Spark, and it
also cuts DataFrame lineage so analyzer cost stays O(1) per superstep.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoshizora_spark.graph.csr import _fs_for


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that is also a *stats-clean* leaf.

    ``DataFrame.localCheckpoint`` cuts lineage but carries the ORIGIN
    plan's statistics into the LogicalRDD leaf. In an iterative loop whose
    per-round plan joins ≥2 checkpointed frames, the carried
    ``sizeInBytes`` estimates MULTIPLY (visitJoin is a product of child
    sizes), so the BigInt bit-length compounds geometrically round over
    round — measured on the clustering coarsen loop: 64 → 561 → 5,034 bits
    per level (~9×/level), with Catalyst stats estimation grinding
    multi-minute ToomCook BigInteger multiplies by level 6. Rebuilding the
    DataFrame from the checkpointed InternalRow RDD drops originStats, so
    every round starts from a constant-size leaf (measured: flat
    per-level analysis through 20 levels).

    The rebuilt frame scans the SAME materialized RDD — no recompute, no
    Python round-trip. Joins against it no longer auto-broadcast (its size
    estimate is ``spark.sql.defaultSizeInBytes``); callers here always
    hint explicitly via ``maybe_broadcast``, which survives the cut.
    """
    cp = df.localCheckpoint(eager=True)
    jdf = cp._jdf
    new_jdf = cp.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(new_jdf, cp.sparkSession)


class CheckpointManager:
    def __init__(self, base_dir: str, algo: str, run_id: str | None = None) -> None:
        self.algo = algo
        self.run_id = run_id or uuid.uuid4().hex[:12]
        # string join, not pathlib: Path() mangles scheme://host URIs
        self.root = f"{str(base_dir).rstrip('/')}/{algo}/{self.run_id}"
        filesystem, p = _fs_for(self.root)
        filesystem.create_dir(p, recursive=True)

    # -- state ---------------------------------------------------------------

    def _iter_dir(self, it: int) -> str:
        return f"{self.root}/iter={it:05d}"

    def save_state(self, it: int, state: DataFrame) -> DataFrame:
        """Write state for superstep ``it``; return the re-read DataFrame.

        Reading back the parquet both cuts lineage (the north_star requirement
        that each superstep's plan starts from storage, not from the whole
        iteration history) and makes resume trivially correct.
        """
        d = self._iter_dir(it)
        state_path = f"{d}/state"
        state.write.mode("overwrite").parquet(state_path)
        spark = state.sparkSession
        reread = spark.read.parquet(state_path)
        lineage = (
            reread.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                # XOR-fold: order-insensitive and overflow-free under ANSI mode
                F.bit_xor(F.xxhash64(*reread.columns)).alias("fingerprint"),
            )
            .withColumn("iter", F.lit(it))
        )
        lineage.write.mode("overwrite").parquet(f"{d}/lineage")
        filesystem, p = _fs_for(d)
        with filesystem.open_output_stream(f"{p}/_DONE") as fh:
            fh.write(json.dumps({"iter": it, "ts": time.time()}).encode())
        return reread

    def latest_iter(self) -> int | None:
        from pyarrow import fs as pafs

        filesystem, p = _fs_for(self.root)
        sel = pafs.FileSelector(p, allow_not_found=True)
        iters = []
        for fi in filesystem.get_file_info(sel):
            if fi.type == pafs.FileType.Directory and fi.base_name.startswith("iter="):
                done = filesystem.get_file_info(f"{fi.path}/_DONE")
                if done.type == pafs.FileType.File:
                    iters.append(int(fi.base_name.split("=")[1]))
        return max(iters) if iters else None

    def load_state(self, spark: SparkSession, it: int) -> DataFrame:
        return spark.read.parquet(f"{self._iter_dir(it)}/state")

    # -- metrics ---------------------------------------------------------------

    def append_metrics(
        self,
        it: int,
        edges_processed: int,
        wall_ms: float,
        max_abs_delta: float | None,
        changed: int | None,
    ) -> None:
        """Write superstep ``it``'s metrics row as its own parquet file.

        A driver-side pyarrow write, like ``_DONE``: no Spark job, and no
        Python worker for a one-row ``createDataFrame``. The file lands
        under a hidden name first and is renamed into place, so a reader
        never sees a half-written part (Spark skips ``.``-prefixed files).
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("run_id", pa.string()),
                ("iter", pa.int32()),
                ("edges_processed", pa.int64()),
                ("wall_ms", pa.float64()),
                ("max_abs_delta", pa.float64()),
                ("changed", pa.int64()),
            ]
        )
        values = (self.run_id, it, edges_processed, wall_ms, max_abs_delta, changed)
        table = pa.Table.from_pylist([dict(zip(schema.names, values))], schema=schema)
        filesystem, p = _fs_for(f"{self.root}/metrics")
        filesystem.create_dir(p, recursive=True)
        name = f"part-{it:05d}-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, f"{p}/.{name}", filesystem=filesystem)
        filesystem.move(f"{p}/.{name}", f"{p}/{name}")

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.root}/metrics")
