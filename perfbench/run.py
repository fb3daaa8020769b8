"""hoshizora_spark benchmark: one command, three graph workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --write-benchmark-json

Run from the repository root. Each run makes the seed's inputs (cached
under ``.perfbench/cache``), starts one worker process that owns a fresh
Spark session (``local[nproc]``), samples the RSS of the worker's session
from ``/proc``, prints every metric by name with its unit and ends
with one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end table, with
``--trace 1`` the per-layer table (see ``metrics.py``).

Everything a run writes lives under ``.perfbench/`` in the working
directory; the per-run directory (Spark local dirs, CSR sidecars,
checkpoints, event log) is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs as I  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = {
    "cooccur-sf0.1": "V=20k/E=0.1M part co-occurrence graph: DataFrame PageRank to 1e-6, CC, LPA, "
    "triangles; every superstep is mostly driver fixed cost",
    "powerlaw-1m": "V=250k/E=0.5M power-law graph above the broadcast threshold: fixed-count "
    "PageRank DF+CSR; exchange, fold, Arrow boundary and CSR build do the work",
    "corpus-ckpt": "10k-file synthetic corpus: sha256 verify, string/regexp graph build, "
    "PageRank with a durable per-superstep checkpoint, resume, top-10",
}

RUN_SECONDS = 30
DEADLINE_S = 165.0
DRIVER_MEM = "2g"
UNITS = {n: u for n, u, *_ in M.END_TO_END + M.CATALOGUE} | {"error_rate": "ratio"}
PAGE = os.sysconf("SC_PAGE_SIZE")


def _session(sid: int) -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, threads, rss bytes, executable) for session ``sid``.

    The worker starts a session of its own; everything it starts stays in
    it, including the Python worker daemon, which takes a process group of
    its own.
    """
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # fields after the parenthesised command name
                f = fh.read().rsplit(")", 1)[1].split()
            if int(f[3]) != sid or f[0] == "Z":  # a zombie has ended already
                continue
            procs[int(name)] = (int(f[1]), int(f[17]), int(f[21]) * PAGE,
                                os.readlink(f"/proc/{name}/exe"))
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
    return procs


def session_rss_bytes(sid: int) -> int:
    """Summed RSS of the processes of session ``sid``.

    A single-threaded child of a multi-threaded process running the same
    executable is a fork that has not exec'd yet (the JVM forks to run
    shell commands): its resident pages are the parent's, so it is skipped.
    """
    procs = _session(sid)
    total = 0
    for ppid, threads, rss, exe in procs.values():
        parent = procs.get(ppid)
        if threads == 1 and parent is not None and parent[1] > 1 and parent[3] == exe:
            continue
        total += rss
    return total


def stop_session(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's session and wait until no process
    of it remains. The worker has stopped its SparkContext before it exits,
    so the JVM's shutdown hooks only delete temporary dirs, which the
    per-run directory's removal covers."""
    for _ in range(200):  # 10 s; SIGKILL ends a process within milliseconds
        proc.poll()  # reap the worker so it stops counting as alive
        pids = [pid for pid in _session(proc.pid) if pid != proc.pid or proc.returncode is None]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_worker(root: Path, workload: str, seed: int, seconds: float, trace: bool,
               deadline: float) -> dict | None:
    """Start one worker in a session of its own, make the seed's inputs
    while its JVM starts (the worker waits for them before its first pass),
    sample the session's RSS until the worker exits, return its result."""
    state = root / ".perfbench"
    run_dir = state / "runs" / f"{workload}-{os.getpid()}-{time.time_ns()}"
    for sub in ("local", "csr", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    result_path = run_dir / "result.json"
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        HZ_CSR_DIR=str(run_dir / "csr"),
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([str(root), os.environ.get("PYTHONPATH", "")]),
    )
    cmd = [sys.executable, str(HERE / "worker.py"), workload, str(seed), str(seconds),
           "1" if trace else "0", str(run_dir), str(state / "cache"), str(result_path)]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
    peak = 0
    try:
        I.MAKE[workload](state / "cache", seed)
        while proc.poll() is None:
            if time.monotonic() > deadline:
                print(f"{workload}: worker passed the deadline, stopping it", file=sys.stderr)
                return None
            peak = max(peak, session_rss_bytes(proc.pid))
            time.sleep(0.1)
        if proc.returncode != 0 or not result_path.exists():
            print(f"{workload}: worker exited with {proc.returncode}", file=sys.stderr)
            return None
        result = json.loads(result_path.read_text())
        result["peak_rss_mb"] = peak / 2**20
        return result
    finally:
        stop_session(proc)
        shutil.rmtree(run_dir, ignore_errors=True)


def untraced_walls(root: Path, workload: str) -> list[float]:
    path = root / ".perfbench" / "results" / f"{I.sized(workload)}.jsonl"
    if not path.exists():
        return []
    return [json.loads(line)["wall_s"] for line in path.read_text().splitlines() if line]


def record_untraced(root: Path, workload: str, seed: int, result: dict) -> None:
    path = root / ".perfbench" / "results" / f"{I.sized(workload)}.jsonl"
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps({"seed": seed, "wall_s": result["end_to_end"]["wall_s"]}) + "\n")


def write_benchmark_json(root: Path, run_seconds: int) -> None:
    doc = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in M.END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in M.PER_LAYER],
    }
    (root / "BENCHMARK.json").write_text(json.dumps(doc, indent=2) + "\n")


def write_trace(root: Path, workload: str, seed: int, res: dict, table: dict) -> None:
    """Write the traced run's spans and per-layer table out of memory."""
    out = root / ".perfbench" / "traces" / f"{workload}-seed{seed}-{time.time_ns()}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    doc = {"workload": workload, "seed": seed, "spans": res["spans"],
           "superstep_walls_ms": res["walls_ms"], "per_layer": table}
    out.write_text(json.dumps(doc, indent=1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args()
    root = Path.cwd()
    if args.write_benchmark_json:
        write_benchmark_json(root, RUN_SECONDS)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not (root / "hoshizora_spark" / "__init__.py").is_file():
        print("run from the repository root: hoshizora_spark/ not found", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S

    baseline = None
    if args.trace:
        walls = untraced_walls(root, args.workload)
        if not walls:  # no untraced run yet in this checkout: make one
            plain = run_worker(root, args.workload, args.seed, args.seconds, False, deadline)
            if plain is None or not plain["end_to_end"]:
                return 1
            record_untraced(root, args.workload, args.seed, plain)
            walls = [plain["end_to_end"]["wall_s"]]
        baseline = statistics.median(walls)

    res = run_worker(root, args.workload, args.seed, args.seconds, bool(args.trace), deadline)
    if res is None:
        return 1
    for name in res["failed_checks"]:
        print(f"check failed: {name}")
    if not res["end_to_end"]:
        print(f"{args.workload}: no pass completed", file=sys.stderr)
        return 1
    attempted, failed = res["attempted"], res["failed"]
    e2e = dict(res["end_to_end"], peak_rss_mb=res["peak_rss_mb"], error_rate=failed / attempted)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} passes={res['passes']} "
          f"session_start_s={res['session_start_s']:.2f}")
    for name, walls in res["walls_ms"].items():
        print(f"# {name} superstep walls (ms): {walls}")
    print(f"# spans (s): {res['spans_s']}")
    for name in sorted(e2e):
        print(f"{name} = {e2e[name]:.6g} {UNITS[name]}")
    if args.trace:
        table = dict(res["per_layer"], **{"trace.overhead_s": e2e["wall_s"] - baseline})
        for name, unit, _ in M.CATALOGUE:
            if name in table and name not in e2e:
                print(f"{name} = {table[name]:.6g} {unit}")
        write_trace(root, args.workload, args.seed, res, table)
        # a time every workload measures must be there; other metrics of a
        # layer this workload does not run read 0
        values = {n: table[n] if u == "s" else table.get(n, 0.0) for n, u, _ in M.PER_LAYER}
    else:
        record_untraced(root, args.workload, args.seed, res)
        values = {n: e2e[n] for n, *_ in M.END_TO_END}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": UNITS[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
