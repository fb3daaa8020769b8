"""Scaling-efficiency bench: same job, same input, N vs 4N cores.

Sandbox protocol for the north_rule's "N and 4N executors, efficiency
>= 0.8" criterion (no real cluster here): run identical PageRank supersteps
at local[8] and local[32] on one pre-built edge table and compare
edges-processed/sec/superstep. Steady-state measurement: fixed superstep
count, first iteration (JIT/pageranks warmup) discarded.

Usage:
    python scripts/scaling_bench.py            # orchestrates both levels
    python scripts/scaling_bench.py --run 8    # one level (subprocess)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DATA_DIR = Path(os.environ.get("HZ_SCALE_DIR", "/tmp/hz_scale2"))
EDGES = DATA_DIR / "edges.parquet"
WARMUP = 3
MEASURE = 10
MEASURE_DF = 5
NUM_V = int(os.environ.get("HZ_SCALE_V", 8_000_000))
NUM_E = int(os.environ.get("HZ_SCALE_E", 128_000_000))
# N and 4N cores. 4 vs 16 keeps headroom on the 32-core box for the
# driver/GC so the 4N level isn't contending with Spark's own threads.
LEVELS = tuple(
    int(x) for x in os.environ.get("HZ_SCALE_LEVELS", "4,16").split(",")
)
# Interleaved repeats (8,32,8,32,...) in ONE session: back-to-back runs on
# this VM differ ±2× from noise (CLAUDE.md protocol), interleaving is the
# only valid A/B here. Per level we report every rep plus best-of.
REPEATS = int(os.environ.get("HZ_SCALE_REPEATS", "1"))


def build_input() -> None:
    """Deterministic power-law edge table, synthesized directly at scale.

    (The corpus→edges pipeline is benchmarked separately in bench.py q5;
    here we need enough edges that per-superstep compute dominates Spark's
    fixed overhead, which string-building corpus synthesis would make
    needlessly slow to generate.)
    """
    from pyspark.sql import functions as F

    from hoshizora_spark.session import get_spark

    spark = get_spark(app_name="hz_scale_build", master="local[32]", shuffle_partitions=64)
    u = (F.pmod(F.xxhash64("id", F.lit("t")), F.lit(1_000_003)) / 1_000_003.0)
    edges = spark.range(NUM_E).select(
        F.pmod(F.xxhash64("id", F.lit("s")), F.lit(NUM_V)).alias("src"),
        F.floor(F.lit(NUM_V) * F.pow(u, F.lit(2.0))).cast("long").alias("dst"),
    )
    edges.write.mode("overwrite").parquet(str(EDGES))
    # one-time CSR sidecar build on all cores (identical layout both levels)
    from hoshizora_spark import Graph, build_csr_blocks

    g = Graph.from_edges(spark.read.parquet(str(EDGES)), num_vertices=NUM_V)
    csr = build_csr_blocks(g, num_blocks=32, sidecar_root=str(DATA_DIR / "csr"))
    meta = {
        "num_vertices": NUM_V,
        "num_edges": NUM_E,
        "csr_path": csr.path,
        "csr_bounds": csr.bounds,
    }
    (DATA_DIR / "meta.json").write_text(json.dumps(meta))
    print(f"built input: V={NUM_V} E={NUM_E} blocks={csr.num_blocks}", file=sys.stderr)
    spark.stop()


def run_level(cpus: int) -> dict:
    from hoshizora_spark import Graph, pagerank, pagerank_csr
    from hoshizora_spark.graph.csr import CsrBlocks
    from hoshizora_spark.session import get_spark

    meta = json.loads((DATA_DIR / "meta.json").read_text())
    spark = get_spark(
        app_name=f"hz_scale_{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    edges = spark.read.parquet(str(EDGES))
    g = Graph.from_edges(edges, num_vertices=meta["num_vertices"])
    csr = CsrBlocks(
        path=meta["csr_path"],
        bounds=list(meta["csr_bounds"]),
        num_vertices=meta["num_vertices"],
        num_edges=meta["num_edges"],
    )

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        return s[len(s) // 2]

    out: dict = {"cpus": cpus, **meta}
    # DataFrame path: run WARMUP then MEASURE supersteps; report both the
    # total and the median per-superstep (robust to VM noise spikes).
    res = pagerank(g, tol=None, max_iters=2)  # warmup JVM/codegen
    t0 = time.perf_counter()
    res = pagerank(g, tol=None, max_iters=MEASURE_DF)
    df_wall = time.perf_counter() - t0
    med = median(res.wall_ms_per_iter) / 1000.0
    out["df_wall_s"] = round(df_wall, 3)
    out["df_median_superstep_s"] = round(med, 3)
    out["df_edges_per_sec"] = round(res.edges_processed_per_iter / med)

    # CSR path: pre-built sidecar shared by both levels — identical
    # physical layout (32 blocks), only the core count varies.
    pagerank_csr(g, csr, tol=None, max_iters=WARMUP)
    t0 = time.perf_counter()
    resc = pagerank_csr(g, csr, tol=None, max_iters=MEASURE)
    csr_wall = time.perf_counter() - t0
    medc = median(resc.wall_ms_per_iter) / 1000.0
    out["csr_wall_s"] = round(csr_wall, 3)
    out["csr_median_superstep_s"] = round(medc, 3)
    out["csr_superstep_ms"] = [round(x) for x in resc.wall_ms_per_iter]
    out["csr_edges_per_sec"] = round(csr.num_edges / medc)
    spark.stop()
    return out


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        print(json.dumps(run_level(int(sys.argv[2]))))
        return
    DATA_DIR.mkdir(parents=True, exist_ok=True)
    meta_p = DATA_DIR / "meta.json"
    stale = True
    if meta_p.exists():
        m = json.loads(meta_p.read_text())
        stale = (m.get("num_vertices"), m.get("num_edges")) != (NUM_V, NUM_E)
        if stale:
            print(
                f"cached input is V={m.get('num_vertices')} E={m.get('num_edges')}, "
                f"want V={NUM_V} E={NUM_E}: rebuilding", file=sys.stderr,
            )
    if stale:
        build_input()
    reps: dict[int, list[dict]] = {c: [] for c in LEVELS}
    for rep in range(REPEATS):
        for cpus in LEVELS:
            env = dict(os.environ)
            proc = subprocess.run(
                [sys.executable, __file__, "--run", str(cpus)],
                capture_output=True, text=True, env=env, timeout=3600,
            )
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"level {cpus} rep {rep} failed")
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            reps[cpus].append(r)
            print(json.dumps(r), file=sys.stderr)
    results: dict = {}
    for cpus in LEVELS:
        best = max(reps[cpus], key=lambda r: r["csr_edges_per_sec"])
        best_df = max(reps[cpus], key=lambda r: r["df_edges_per_sec"])
        results[cpus] = {
            **best,
            "df_edges_per_sec": best_df["df_edges_per_sec"],
            "df_median_superstep_s": best_df["df_median_superstep_s"],
            "reps_csr_edges_per_sec": [r["csr_edges_per_sec"] for r in reps[cpus]],
            "reps_df_edges_per_sec": [r["df_edges_per_sec"] for r in reps[cpus]],
        }
    n, n4 = LEVELS
    for path in ("df", "csr"):
        tn = results[n][f"{path}_edges_per_sec"]
        tn4 = results[n4][f"{path}_edges_per_sec"]
        results[f"{path}_scaling_efficiency"] = round(tn4 / tn / (n4 / n), 3)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
