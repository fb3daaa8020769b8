"""One benchmark run inside one Spark session (started by ``run.py``).

Usage: python3 perfbench/worker.py <workload> <seed> <seconds> <trace 0|1>
       <run_dir> <cache_dir> <result.json>

Starts the session, makes sure the seed's inputs exist, runs passes of the
workload through the package's public API until ``seconds`` would be
exceeded (at least one pass), stops the session, checks every answer
against the generator's reference and writes one JSON document of metrics.
With trace 1 the session writes an uncompressed event log under
``<run_dir>/events`` and every public call runs under
``sc.setJobGroup("<workload>.<call>")``; the log is parsed after the
session stops.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, os.getcwd())

import eventlog  # noqa: E402
import inputs as I  # noqa: E402
import metrics as M  # noqa: E402


class Tracer:
    """In-memory spans around public calls; job groups when tracing."""

    def __init__(self, sc, workload: str, trace: bool) -> None:
        self.sc, self.workload, self.trace = sc, workload, trace
        self.spans: list[dict] = []
        self.failed_call: str | None = None
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if self.trace:
            self.sc.setJobGroup(f"{self.workload}.{name}", name)
        self._stack.append(name)
        start, p0 = time.time(), time.perf_counter()
        try:
            yield
        except Exception:
            self.failed_call = self.failed_call or name
            raise
        finally:
            dur = time.perf_counter() - p0
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent, "start_ms": start * 1000.0,
                 "end_ms": time.time() * 1000.0, "dur_s": dur}
            )
            if self.trace and parent is not None:
                self.sc.setJobGroup(f"{self.workload}.{parent}", parent)

    def dur(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


def _by_vid(pdf, col: str, n: int, dtype) -> np.ndarray:
    """A result column indexed by vid. Missing vids, and every entry when
    some vid lies outside [0, n), keep a value no reference holds (NaN or
    -1), so a wrong vertex set fails its answer check instead of raising."""
    out = np.full(n, np.nan if dtype == np.float64 else -1, dtype=dtype)
    vids = pdf["vid"].to_numpy(np.int64)
    if ((vids >= 0) & (vids < n)).all():
        out[vids] = pdf[col].to_numpy(dtype)
    return out


def _loop(res, call: str, tr: Tracer, walls=None, iters=None) -> dict:
    return {
        "call": call,
        "walls_ms": list(walls if walls is not None else res.wall_ms_per_iter),
        "iterations": iters if iters is not None else res.iterations,
        "edges": getattr(res, "edges_processed_per_iter", 0),
        "call_s": tr.dur(call),
    }


# -- workload passes ------------------------------------------------------------


def cooccur_pass(spark, tr: Tracer, data: Path, exp, cpus: int) -> dict:
    from pyspark.sql import functions as F

    import hoshizora_spark as hz

    out: dict = {"loops": {}, "values": {}, "checks": []}
    with tr.span("graph.build"):
        li = spark.read.parquet(str(data / "lineitem.parquet"))
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
            .distinct()
            .repartition(cpus, "src")
            .persist()
        )
        n_edges = edges.count()
    with tr.span("graph.from_edges"):
        g = hz.Graph.from_edges(edges)
    V = int(exp["num_vertices"])
    out["checks"].append(("graph.build", n_edges == int(exp["num_edges"]) and g.num_vertices == V))

    with tr.span("pagerank_df"):
        pr = hz.pagerank(g, tol=I.PR_TOL, max_iters=I.PR_MAX_ITERS)
    with tr.span("collect.pagerank_df"):
        ranks_df = _by_vid(pr.ranks.toPandas(), "rank", V, np.float64)
    out["loops"]["pagerank_df"] = _loop(pr, "pagerank_df", tr)

    with tr.span("cc"):
        cc = hz.connected_components(g, max_rounds=I.CC_ROUNDS)
    with tr.span("collect.cc"):
        cc_labels = _by_vid(cc.labels.toPandas(), "label", V, np.int64)
    out["loops"]["cc"] = _loop(cc, "cc", tr, cc.wall_ms_per_round, cc.rounds)

    with tr.span("lpa"):
        lpa = hz.label_propagation(g, max_rounds=I.LPA_ROUNDS)
    with tr.span("collect.lpa"):
        lpa_labels = _by_vid(lpa.labels.toPandas(), "label", V, np.int64)
    out["loops"]["lpa"] = _loop(lpa, "lpa", tr, lpa.wall_ms_per_round, lpa.rounds)

    with tr.span("triangles"):
        tri = hz.triangle_total(g)
    edges.unpersist()

    iters = int(exp["pagerank_iters"])
    out["checks"] += [
        ("pagerank_df", pr.iterations == iters and np.allclose(ranks_df, exp["ranks"], rtol=1e-6, atol=0)),
        ("cc", cc.converged and np.array_equal(cc_labels, exp["cc"])),
        ("lpa", np.array_equal(lpa_labels, exp["lpa"])),
        ("triangles", tri == int(exp["triangles"])),
    ]
    out["values"].update({"triangles": tri, "graph_edges": n_edges})
    return out


def powerlaw_pass(spark, tr: Tracer, data: Path, exp, cpus: int) -> dict:
    import hoshizora_spark as hz

    out: dict = {"loops": {}, "values": {}, "checks": []}
    V, E, K = int(exp["num_vertices"]), int(exp["num_edges"]), I.POWERLAW_ITERS
    with tr.span("graph.build"):
        edges = spark.read.parquet(str(data / "edges.parquet"))
    with tr.span("graph.from_edges"):
        g = hz.Graph.from_edges(edges, num_vertices=V)

    with tr.span("pagerank_df"):
        pr = hz.pagerank(g, tol=None, max_iters=K)
    with tr.span("collect.pagerank_df"):
        ranks_df = _by_vid(pr.ranks.toPandas(), "rank", V, np.float64)
    out["loops"]["pagerank_df"] = _loop(pr, "pagerank_df", tr)

    with tr.span("graph.csr"):
        blocks = hz.build_csr_blocks(g)
    with tr.span("pagerank_csr"):
        prc = hz.pagerank_csr(g, blocks, tol=None, max_iters=K)
    with tr.span("collect.pagerank_csr"):
        ranks_csr = _by_vid(prc.ranks.toPandas(), "rank", V, np.float64)
    out["loops"]["pagerank_csr"] = _loop(prc, "pagerank_csr", tr)

    out["checks"] += [
        ("graph.csr", blocks.num_edges == E),
        ("pagerank_df", pr.iterations == K and np.allclose(ranks_df, exp["ranks"], rtol=1e-6, atol=0)),
        ("pagerank_csr", prc.iterations == K and np.allclose(ranks_csr, exp["ranks"], rtol=1e-6, atol=0)),
    ]
    out["values"].update({"csr_blocks": blocks.num_blocks, "csr_path": blocks.path,
                          "csr_edges": blocks.num_edges, "graph_edges": E})
    return out


def corpus_pass(spark, tr: Tracer, data: Path, exp, cpus: int, ckpt_base: Path) -> dict:
    import hoshizora_spark as hz
    from hoshizora_spark.corpus import verify_sha256
    from hoshizora_spark.graph.build import build_graph_from_corpus

    out: dict = {"loops": {}, "values": {}, "checks": []}
    with tr.span("corpus.verify_sha256"):
        corpus = spark.read.parquet(str(data / "corpus.parquet"))
        mismatches = verify_sha256(corpus)
    # assign_dense_ids samples range bounds twice (offsets job, then the
    # persisted ids); at >1 shuffle partition the samples differ and ids
    # repeat, so the build runs at one partition until that is fixed
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        with tr.span("graph.build"):
            bundle = build_graph_from_corpus(corpus)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    g = bundle.graph

    cm = hz.CheckpointManager(str(ckpt_base), "pagerank")
    with tr.span("pagerank_ckpt"):
        first = hz.pagerank(g, tol=None, max_iters=I.CKPT_FIRST_ITERS, checkpoint=cm,
                            checkpoint_every=1)
    resume_cm = hz.CheckpointManager(str(ckpt_base), "pagerank", run_id=cm.run_id)
    with tr.span("pagerank_resume"):
        res = hz.pagerank(g, tol=None, max_iters=I.CKPT_TOTAL_ITERS, checkpoint=resume_cm,
                          checkpoint_every=1, resume=True)
    with tr.span("top_k"):
        top = hz.top_k(res.ranks, I.TOP_K).join(bundle.vertices, "vid").collect()
    with tr.span("collect.pagerank_resume"):
        pdf = res.ranks.join(bundle.vertices, "vid").select("repo", "path", "rank").toPandas()
    bundle.vertices.unpersist()
    out["loops"]["pagerank_ckpt"] = _loop(first, "pagerank_ckpt", tr)
    out["loops"]["pagerank_resume"] = _loop(res, "pagerank_resume", tr)

    keys = {k: i for i, k in enumerate(zip(exp["repo"].tolist(), exp["path"].tolist()))}
    ranks = np.full(len(keys), np.nan)
    for repo, path, rank in zip(pdf["repo"], pdf["path"], pdf["rank"]):
        ranks[keys[(repo, path)]] = rank
    ref = exp["ranks"]
    top_idx = [keys.get((r["repo"], r["path"]), -1) for r in sorted(top, key=lambda r: (-r["rank"], r["vid"]))]
    # positions may swap only between reference ranks that tie within tolerance
    top_ok = len(top_idx) == I.TOP_K and -1 not in top_idx and np.allclose(
        ref[top_idx], ref[exp["top_idx"]], rtol=1e-9, atol=0
    )
    ckpt_files = [p for p in ckpt_base.rglob("*") if p.is_file()]
    out["checks"] += [
        ("corpus.verify_sha256", mismatches == 0),
        ("graph.build", bundle.num_edges == int(exp["num_edges"])
         and bundle.num_vertices == len(keys)
         and bundle.unresolved_refs == int(exp["unresolved"])),
        ("pagerank_ckpt", first.iterations == I.CKPT_FIRST_ITERS),
        ("pagerank_resume", res.iterations == I.CKPT_TOTAL_ITERS - I.CKPT_FIRST_ITERS
         and np.allclose(ranks, ref, rtol=1e-6, atol=0)),
        ("top_k", top_ok),
    ]
    out["values"].update(
        {
            "sha256_mismatches": mismatches,
            "graph_edges": bundle.num_edges,
            "unresolved_refs": bundle.unresolved_refs,
            "ckpt_files": len(ckpt_files),
            "ckpt_bytes": sum(p.stat().st_size for p in ckpt_files),
            "ckpt_supersteps": first.iterations + res.iterations,
        }
    )
    return out


# -- one run ------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace = argv[0], int(argv[1]), float(argv[2]), argv[3] == "1"
    run_dir, cache, result_path = Path(argv[4]), Path(argv[5]), Path(argv[6])
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    from hoshizora_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a heap committed and touched up front keeps peak RSS from tracking
        # GC heuristics
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{os.environ['SPARK_DRIVER_MEM']} "
            "-XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        (run_dir / "events").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    session_start_s = time.perf_counter() - t0

    data = I.seed_dir(cache, seed, workload)
    if workload == "cooccur-sf0.1":
        run_pass = lambda tr: cooccur_pass(spark, tr, data, exp, cpus)  # noqa: E731
    elif workload == "powerlaw-1m":
        run_pass = lambda tr: powerlaw_pass(spark, tr, data, exp, cpus)  # noqa: E731
    else:

        def run_pass(tr):
            base = run_dir / f"ckpt-{len(passes)}"
            return corpus_pass(spark, tr, data, exp, cpus, base)

    # run.py writes the inputs while this session starts
    while not (data / "expected.npz").exists():
        time.sleep(0.05)
    exp = np.load(data / "expected.npz")
    exp = {k: exp[k] for k in exp.files}

    passes: list[dict] = []
    tracers: list[Tracer] = []
    failures: list[str] = []
    begin = time.perf_counter()
    while True:
        tr = Tracer(spark.sparkContext, workload, trace)
        p0 = time.perf_counter()
        try:
            out = run_pass(tr)
        except Exception:  # a raising call counts against error_rate
            traceback.print_exc()
            failures.append(f"{tr.failed_call} raised")
            break
        out["wall_s"] = time.perf_counter() - p0
        if "csr_path" in out["values"]:
            out["values"]["sidecar_files"] = M.sidecar_sizes(Path(out["values"]["csr_path"]))
        passes.append(out)
        tracers.append(tr)
        elapsed = time.perf_counter() - begin
        # one pass per traced run: its job groups must stay unambiguous
        if trace or elapsed + elapsed / len(passes) > seconds:
            break
    spark.stop()

    attempted = sum(len(p["checks"]) for p in passes) + len(failures)
    failed = [name for p in passes for name, ok in p["checks"] if not ok] + failures
    for name in failed:
        print(f"CHECK FAILED: {workload}.{name}", file=sys.stderr)

    first, first_tr = (passes[0], tracers[0]) if passes else ({"loops": {}}, tr)
    result = {
        "attempted": max(attempted, 1),
        "failed": len(failed) if attempted else 1,
        "failed_checks": failed,
        "passes": len(passes),
        "session_start_s": session_start_s,
        "end_to_end": M.end_to_end(passes, tracers) if passes else {},
        "walls_ms": {L: [round(w) for w in lp["walls_ms"]] for L, lp in first["loops"].items()},
        "spans_s": {s["name"]: round(s["dur_s"], 3) for s in first_tr.spans},
    }
    if trace and passes:
        jobs = eventlog.read_jobs(run_dir / "events")
        result["per_layer"] = M.per_layer(workload, first, first_tr, jobs, cpus)
        result["per_layer"]["session.start_s"] = session_start_s
        result["spans"] = first_tr.spans
    result_path.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
