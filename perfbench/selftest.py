"""Self-test of the event-log reader and the superstep assignment.

    python3 perfbench/selftest.py        (from the repository root, ~30 s)

Part one checks ``assign_supersteps`` on hand-made jobs. Part two runs a
tiny graph through the DataFrame and CSR PageRank paths in a session that
writes an uncompressed event log, each call under its own job group, and
asserts what the benchmark's per-layer table relies on: every group has
jobs, the loops shuffle, and only the CSR group moves data through
Python workers. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, os.getcwd())

import eventlog as EL  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_assignment() -> None:
    def job(jid, execution, submit, end):
        return EL.Job(job_id=jid, group="g", submit_ms=submit, end_ms=end, execution=execution)

    # pre-loop job, then three supersteps of walls 100 ms, the second
    # followed by a 40 ms gap job outside the superstep walls
    jobs = [
        job(0, "0", 0, 50),
        job(1, "1", 60, 150), job(2, "1", 100, 155),
        job(3, "2", 160, 250),
        job(4, "3", 262, 300),  # gap: metrics append after superstep 2
        job(5, "4", 305, 400),
    ]
    pre, steps = EL.assign_supersteps(jobs, 405, [100.0, 100.0, 100.0])
    check([j.job_id for j in pre] == [0], "pre-loop job stays before the loop")
    check([[j.job_id for j in s] for s in steps] == [[1, 2], [3, 4], [5]],
          "supersteps follow SQL executions, gap job joins the superstep before it")


def test_event_log(root: Path) -> None:
    work = root / ".perfbench" / f"selftest-{os.getpid()}"
    (work / "events").mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["HZ_CSR_DIR"] = str(work / "csr")
    cpus = 2
    import hoshizora_spark as hz

    spark = hz.get_spark(
        app_name="perfbench-selftest", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "local"),
        },
    )
    try:
        sc = spark.sparkContext
        pairs = [(i, (i * 7 + 3) % 50) for i in range(50)] + [(i, (i + 1) % 50) for i in range(50)]
        g = hz.Graph.from_edges(hz.edges_from_pairs(spark, pairs), num_vertices=50)
        ends, walls = {}, {}
        sc.setJobGroup("selftest.pagerank_df", "pagerank_df")
        df = hz.pagerank(g, tol=None, max_iters=3)
        ends["pagerank_df"], walls["pagerank_df"] = time.time() * 1000, df.wall_ms_per_iter
        sc.setJobGroup("selftest.graph.csr", "graph.csr")
        blocks = hz.build_csr_blocks(g, num_blocks=2)
        sc.setJobGroup("selftest.pagerank_csr", "pagerank_csr")
        csr = hz.pagerank_csr(g, blocks, tol=None, max_iters=3)
        ends["pagerank_csr"], walls["pagerank_csr"] = time.time() * 1000, csr.wall_ms_per_iter
    finally:
        spark.stop()

    try:
        jobs = EL.read_jobs(work / "events")
        for call in ("pagerank_df", "pagerank_csr"):
            gj = EL.group_jobs(jobs, f"selftest.{call}")
            check(len(gj) >= 3, f"{call}: jobs tagged with the call's group ({len(gj)})")
            _, steps = EL.assign_supersteps(gj, ends[call], walls[call])
            check(len(steps) == 3 and all(steps), f"{call}: every superstep has jobs")
            check(EL.total(gj, "shuffle_bytes") > 0, f"{call}: shuffle bytes written")
            check(all(j.tasks > 0 for s in steps for j in s if j.stage_ids),
                  f"{call}: tasks counted per superstep job")
        df_jobs = EL.group_jobs(jobs, "selftest.pagerank_df")
        csr_jobs = EL.group_jobs(jobs, "selftest.pagerank_csr")
        check(EL.acc_total(df_jobs, "data sent to Python workers") == 0,
              "pagerank_df: no data sent to Python workers")
        check(EL.acc_total(csr_jobs, "data sent to Python workers") > 0,
              "pagerank_csr: data sent to Python workers")
        check(EL.acc_total(csr_jobs, "time to run Python workers") > 0,
              "pagerank_csr: time to run Python workers")
        check(EL.node_acc_total(csr_jobs, "FlatMapGroupsInPandas", "number of output rows") > 0,
              "pagerank_csr: rows out of the in-block fold")
        check(EL.total(EL.group_jobs(jobs, "selftest.graph.csr"), "shuffle_bytes") > 0,
              "graph.csr: block build shuffles")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    root = Path.cwd()
    if not (root / "hoshizora_spark" / "__init__.py").is_file():
        print("run from the repository root: hoshizora_spark/ not found", file=sys.stderr)
        return 2
    test_assignment()
    test_event_log(root)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
