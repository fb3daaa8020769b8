"""Metric tables and the arithmetic that turns one run into metrics.

``END_TO_END`` and ``PER_LAYER`` are the single source of the names,
units and directions; ``run.py --write-benchmark-json`` renders them into
``BENCHMARK.json``. ``CATALOGUE`` names every per-layer metric a traced
run can print; a run prints the ones its workload measures.

``PER_LAYER`` (the traced run's JSON table) is the catalogue less the
times of layers only some workloads run: a time reading 0 on every run of
a workload is indistinguishable from a clock that never ran, so those
times are printed by name and kept in the trace file instead. Counts,
bytes and ratios of a layer a workload does not run read 0 in the table.
The ``pagerank_df`` family always describes the workload's main PageRank
loop, which on ``corpus-ckpt`` is the checkpointed call (``pagerank_ckpt``).

Loop-level terms (L is a loop: pagerank_df, pagerank_csr, cc, lpa,
pagerank_ckpt):

* the first ``WARM_UP`` supersteps are warm-up: the first materializes
  the lazy ``cache_superstep_edges`` edge cache, the second runs the
  steady plan for the first time and is 1.5-2x slower than the rest;
* the steady supersteps are the others; their median is the steady-state
  superstep and ``edges_per_s`` is edges per iteration over that median;
* a loop's set-up is the call's time outside its supersteps (edge
  weighting, the edge-cache count, initial state) plus the warm-up
  supersteps' excess over the steady median.
"""

from __future__ import annotations

import statistics
from pathlib import Path

import eventlog as EL

LOOPS = ("pagerank_df", "pagerank_csr", "cc", "lpa", "pagerank_ckpt")
MAIN = "pagerank_df"  # the JSON name of each workload's main PageRank loop

END_TO_END = [
    # name, unit, better, bound
    ("wall_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
]


def _loop_catalogue(L: str) -> list[tuple[str, str, str]]:
    sup, alg = f"runtime.superstep.{L}", f"algorithms.{L}"
    return [
        (f"{sup}.supersteps", "count", "lower"),
        (f"{sup}.median_s", "s", "lower"),
        (f"{sup}.iqr_s", "s", "lower"),
        (f"{sup}.jobs_per_superstep", "count", "lower"),
        (f"{sup}.tasks_per_superstep", "count", "lower"),
        (f"{sup}.driver_s", "s", "lower"),
        (f"{alg}.shuffle_bytes_per_superstep", "B", "lower"),
        (f"{alg}.shuffle_records_per_superstep", "count", "lower"),
        (f"{alg}.agg_build_s_per_superstep", "s", "lower"),
        (f"{alg}.fetch_wait_s_per_superstep", "s", "lower"),
        (f"{alg}.spill_bytes", "B", "lower"),
        (f"{alg}.task_skew", "ratio", "lower"),
        (f"graph.core.{L}.edge_cache_s", "s", "lower"),
    ]


CATALOGUE = (
    [
        ("session.start_s", "s", "lower"),
        ("graph.build.build_s", "s", "lower"),
        ("graph.core.from_edges_s", "s", "lower"),
        ("pagerank_df.edges_per_s", "edges/s", "higher"),
        ("headline_legacy_edges_per_s", "edges/s", "higher"),
        ("pagerank_csr.edges_per_s", "edges/s", "higher"),
        ("cc.wall_s", "s", "lower"),
        ("lpa.wall_s", "s", "lower"),
        ("triangles.wall_s", "s", "lower"),
    ]
    + [m for L in LOOPS for m in _loop_catalogue(L)]
    + [
        ("runtime.gas.python_run_s_per_superstep", "s", "lower"),
        ("runtime.gas.python_start_s", "s", "lower"),
        ("runtime.gas.bytes_to_python_per_superstep", "B", "lower"),
        ("runtime.gas.bytes_from_python_per_superstep", "B", "lower"),
        ("runtime.gas.partial_rows_per_edge", "ratio", "lower"),
        ("graph.csr.build_s", "s", "lower"),
        ("graph.csr.num_blocks", "count", "lower"),
        ("graph.csr.sidecar_bytes", "B", "lower"),
        ("graph.csr.block_bytes_max_over_mean", "ratio", "lower"),
        ("graph.csr.shuffle_bytes", "B", "lower"),
        ("graph.build.build_graph_s", "s", "lower"),
        ("graph.build.edges", "count", "higher"),
        ("graph.build.unresolved_refs", "count", "lower"),
        ("graph.build.shuffle_bytes", "B", "lower"),
        ("corpus.verify_sha256_s", "s", "lower"),
        ("corpus.sha256_mismatches", "count", "lower"),
        ("runtime.checkpoint.bytes_written_per_superstep", "B", "lower"),
        ("runtime.checkpoint.files_per_superstep", "count", "lower"),
        ("runtime.checkpoint.task_commit_s_per_superstep", "s", "lower"),
        ("runtime.checkpoint.resume_first_superstep_s", "s", "lower"),
        ("algorithms.triangles.shuffle_bytes", "B", "lower"),
        ("algorithms.triangles.count", "count", "higher"),
        ("collect_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
)

# times every workload measures (fetch wait is 0 in local mode: shuffle
# blocks are read from local disk)
EVERY_WORKLOAD_TIMES = {
    "session.start_s",
    "graph.build.build_s",
    f"runtime.superstep.{MAIN}.median_s",
    f"runtime.superstep.{MAIN}.iqr_s",
    f"runtime.superstep.{MAIN}.driver_s",
    f"algorithms.{MAIN}.agg_build_s_per_superstep",
    f"graph.core.{MAIN}.edge_cache_s",
    "collect_s",
    "trace.overhead_s",
}

PER_LAYER = [
    m for m in CATALOGUE
    if ".pagerank_ckpt." not in m[0] and (m[1] != "s" or m[0] in EVERY_WORKLOAD_TIMES)
]

SETUP_SPANS = ("corpus.verify_sha256", "graph.build", "graph.from_edges", "graph.csr")
WARM_UP = 2


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def sidecar_sizes(path: Path) -> list[int]:
    return [p.stat().st_size for p in sorted(path.glob("*")) if p.is_file()]


def main_loop(p: dict) -> str:
    """The pass's main PageRank loop (the checkpointed call on corpus-ckpt).
    The resumed call is not one of the loops measured here: its supersteps
    run ~20% faster than the first call's, and a median over both flips
    between the two levels from run to run."""
    return "pagerank_ckpt" if "pagerank_ckpt" in p["loops"] else "pagerank_df"


def _warm_up(n: int) -> int:
    """Warm-up supersteps of an n-superstep loop (at least one stays steady)."""
    return min(WARM_UP, max(n - 1, 0))


def _steady_s(loop: dict) -> list[float]:
    w = [x / 1000.0 for x in loop["walls_ms"]]
    return w[_warm_up(len(w)):]


def loop_setup_s(loop: dict) -> float:
    w = [x / 1000.0 for x in loop["walls_ms"]]
    med = median(_steady_s(loop))
    return (loop["call_s"] - sum(w)) + sum(x - med for x in w[: _warm_up(len(w))])


def edges_per_s(loop: dict) -> float:
    med = median(_steady_s(loop))
    return loop["edges"] / med if med > 0 else 0.0


def top_spans(tr) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in tr.spans:
        if s["parent"] is None:
            out[s["name"]] = out.get(s["name"], 0.0) + s["dur_s"]
    return out


def end_to_end(passes: list[dict], tracers: list) -> dict[str, float]:
    """Medians over passes of the end-to-end metrics the worker can see."""
    rows = []
    for p, tr in zip(passes, tracers):
        spans = top_spans(tr)
        setup = sum(spans.get(s, 0.0) for s in SETUP_SPANS)
        setup += sum(loop_setup_s(c) for c in p["loops"].values())
        rows.append({
            "wall_s": p["wall_s"],
            "setup_s": setup,
            **call_metrics(p, tr),
        })
    return {k: median([r[k] for r in rows]) for k in rows[0]}


def call_metrics(p: dict, tr) -> dict[str, float]:
    """Figures of single calls (loop rates, call walls): measured untraced
    too, printed beside the end-to-end table and kept in the per-layer one.
    Loop rates vary ~15% from run to run (IQR over median), more than an
    end-to-end bound may allow."""
    spans = top_spans(tr)
    m = p["loops"][main_loop(p)]
    out = {
        "pagerank_df.edges_per_s": edges_per_s(m),
        # bench.py's formula: edges x iterations over the whole call wall
        "headline_legacy_edges_per_s": m["edges"] * m["iterations"] / m["call_s"],
        "collect_s": sum(v for k, v in spans.items() if k.startswith("collect.") or k == "top_k"),
    }
    if "pagerank_csr" in p["loops"]:
        out["pagerank_csr.edges_per_s"] = edges_per_s(p["loops"]["pagerank_csr"])
    for name in ("cc", "lpa", "triangles"):
        if name in spans:
            out[f"{name}.wall_s"] = spans[name] + spans.get(f"collect.{name}", 0.0)
    return out


def _step_row(step: list, wall_s: float, cpus: int, csr_edges: int) -> dict[str, float]:
    run_s = EL.total(step, "run_ms") / 1000.0
    return {
        "jobs": float(len(step)),
        "tasks": EL.total(step, "tasks"),
        "driver_s": wall_s - run_s / cpus,
        "shuffle_bytes": EL.total(step, "shuffle_bytes"),
        "shuffle_records": EL.total(step, "shuffle_records"),
        "agg_build_s": EL.acc_total(step, "time in aggregation build") / 1000.0,
        "fetch_wait_s": EL.total(step, "fetch_wait_ms") / 1000.0,
        "skew": EL.task_skew(step),
        "py_run_s": EL.acc_total(step, "time to run Python workers") / 1000.0,
        "py_start_s": (
            EL.acc_total(step, "time to start Python workers")
            + EL.acc_total(step, "time to initialize Python workers")
        ) / 1000.0,
        "py_in": EL.acc_total(step, "data sent to Python workers"),
        "py_out": EL.acc_total(step, "data returned from Python workers"),
        "partial_rows_per_edge": (
            EL.node_acc_total(step, "FlatMapGroupsInPandas", "number of output rows") / csr_edges
            if csr_edges else 0.0
        ),
        "task_commit_s": EL.acc_total(step, "task commit time") / 1000.0,
    }


def per_layer(workload: str, p: dict, tr, jobs: list, cpus: int) -> dict[str, float]:
    """Every catalogue metric the workload measures (and only those)."""
    spans = top_spans(tr)
    vals = p["values"]
    out = call_metrics(p, tr)
    out["graph.build.build_s"] = spans["graph.build"]

    def group(call: str) -> list:
        return EL.group_jobs(jobs, f"{workload}.{call}")

    main = main_loop(p)

    for L, loop in p["loops"].items():
        if L not in LOOPS:
            continue
        gj = group(loop["call"])
        _, steps = EL.assign_supersteps(gj, tr.get(loop["call"])["end_ms"], loop["walls_ms"])
        walls = [w / 1000.0 for w in loop["walls_ms"]]
        rows = [
            _step_row(steps[k], walls[k], cpus, vals.get("csr_edges", 0))
            for k in range(_warm_up(len(steps)), len(steps))
        ]
        steady = _steady_s(loop)

        def med(key: str) -> float:
            return median([r[key] for r in rows])

        names = [L, MAIN] if L == main != MAIN else [L]
        for name in names:
            sup, alg = f"runtime.superstep.{name}", f"algorithms.{name}"
            out[f"{sup}.supersteps"] = float(loop["iterations"])
            out[f"{sup}.median_s"] = median(steady)
            out[f"{sup}.iqr_s"] = iqr(steady)
            out[f"{sup}.jobs_per_superstep"] = med("jobs")
            out[f"{sup}.tasks_per_superstep"] = med("tasks")
            out[f"{sup}.driver_s"] = med("driver_s")
            out[f"{alg}.shuffle_bytes_per_superstep"] = med("shuffle_bytes")
            out[f"{alg}.shuffle_records_per_superstep"] = med("shuffle_records")
            out[f"{alg}.agg_build_s_per_superstep"] = med("agg_build_s")
            out[f"{alg}.fetch_wait_s_per_superstep"] = med("fetch_wait_s")
            out[f"{alg}.spill_bytes"] = EL.total(gj, "spill_bytes")
            out[f"{alg}.task_skew"] = med("skew")
            out[f"graph.core.{name}.edge_cache_s"] = walls[0] - median(steady)
        if L == "pagerank_csr":
            out["runtime.gas.python_run_s_per_superstep"] = med("py_run_s")
            out["runtime.gas.python_start_s"] = med("py_start_s")
            out["runtime.gas.bytes_to_python_per_superstep"] = med("py_in")
            out["runtime.gas.bytes_from_python_per_superstep"] = med("py_out")
            out["runtime.gas.partial_rows_per_edge"] = med("partial_rows_per_edge")
        if L == "pagerank_ckpt":
            out["runtime.checkpoint.task_commit_s_per_superstep"] = med("task_commit_s")

    if "graph.from_edges" in spans:
        out["graph.core.from_edges_s"] = spans["graph.from_edges"]
    if "graph.csr" in spans:
        sizes = vals["sidecar_files"]
        mean = sum(sizes) / len(sizes)
        out["graph.csr.build_s"] = spans["graph.csr"]
        out["graph.csr.num_blocks"] = float(vals["csr_blocks"])
        out["graph.csr.sidecar_bytes"] = float(sum(sizes))
        out["graph.csr.block_bytes_max_over_mean"] = max(sizes) / mean
        out["graph.csr.shuffle_bytes"] = EL.total(group("graph.csr"), "shuffle_bytes")
    out["graph.build.edges"] = float(vals["graph_edges"])
    out["graph.build.shuffle_bytes"] = EL.total(group("graph.build"), "shuffle_bytes")
    if "corpus.verify_sha256" in spans:
        steps = vals["ckpt_supersteps"]
        out["graph.build.build_graph_s"] = spans["graph.build"]
        out["graph.build.unresolved_refs"] = float(vals["unresolved_refs"])
        out["corpus.verify_sha256_s"] = spans["corpus.verify_sha256"]
        out["corpus.sha256_mismatches"] = float(vals["sha256_mismatches"])
        out["runtime.checkpoint.bytes_written_per_superstep"] = vals["ckpt_bytes"] / steps
        out["runtime.checkpoint.files_per_superstep"] = vals["ckpt_files"] / steps
        out["runtime.checkpoint.resume_first_superstep_s"] = (
            p["loops"]["pagerank_resume"]["walls_ms"][0] / 1000.0
        )
    if "triangles" in spans:
        out["algorithms.triangles.shuffle_bytes"] = EL.total(group("triangles"), "shuffle_bytes")
        out["algorithms.triangles.count"] = float(vals["triangles"])
    return out
