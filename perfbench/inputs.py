"""Seeded inputs and reference answers for the three workloads.

Everything here is numpy and pyarrow; nothing imports the package, so
the inputs and answers do not change with the code under test. Each input
is written once per seed under ``<cache>/seed-<n>/<workload>-<sizes>/``
beside an ``expected.npz`` holding the answers the timed run is checked
against. The reference algorithms are
written independently of the engine, from its documented semantics:

* PageRank: init 1.0, message rank/out_degree per edge (multi-edges each
  carry one), new = 0.85 * sum + 0.15 / V, no dangling redistribution,
  stop when max |delta| <= tol (or after a fixed count when tol is None).
* Connected components: label = min vertex id of the undirected component.
* Label propagation: synchronous, most frequent neighbour label with the
  min label breaking ties, isolated vertices keep their label, stop when
  nothing changes or after ``max_rounds``.
* Triangles: number of triangles of the undirected simple graph.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from pathlib import Path

import numpy as np

# cooccur-sf0.1: TPC-H sf0.1 part domain (20k parts), 1-7 lines per order
COOCCUR_ORDERS = 12_000
COOCCUR_PARTS = 20_000
PR_TOL = 1e-6
PR_MAX_ITERS = 300
LPA_ROUNDS = 5
CC_ROUNDS = 50

# powerlaw: uniform src, dst = floor(V * u^2)
POWERLAW_V = 250_000
POWERLAW_E = 500_000
POWERLAW_ITERS = 4

# corpus-ckpt: the synthesize_corpus table shape, checkpointed then resumed loop
CORPUS_REPOS = 100
CORPUS_FILES = 100
CKPT_FIRST_ITERS = 4
CKPT_TOTAL_ITERS = 5
TOP_K = 10

_SALT = {"cooccur-sf0.1": 1, "powerlaw-1m": 2, "corpus-ckpt": 3}
_SIZES = {
    "cooccur-sf0.1": f"o{COOCCUR_ORDERS}-p{COOCCUR_PARTS}-l{LPA_ROUNDS}",
    "powerlaw-1m": f"v{POWERLAW_V}-e{POWERLAW_E}-k{POWERLAW_ITERS}",
    "corpus-ckpt": f"r{CORPUS_REPOS}-f{CORPUS_FILES}-k{CKPT_FIRST_ITERS}-{CKPT_TOTAL_ITERS}",
}


def sized(workload: str) -> str:
    """Workload name plus its sizes: resized inputs never reuse old files."""
    return f"{workload}-{_SIZES[workload]}"


def seed_dir(cache: Path, seed: int, workload: str) -> Path:
    return cache / f"seed-{seed}" / sized(workload)


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed % 2**63, _SALT[workload]])


def _write_parquet(dest: Path, **cols: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(dest))


def _commit(tmp: Path, final: Path) -> None:
    """Publish a finished input dir atomically (a killed run leaves only tmp)."""
    try:
        os.replace(tmp, final)
    except OSError:  # another run published the same seed first
        shutil.rmtree(tmp, ignore_errors=True)


# -- reference algorithms -----------------------------------------------------


def pagerank_ref(
    src: np.ndarray, dst: np.ndarray, V: int, tol: float | None, iters: int
) -> tuple[np.ndarray, int]:
    out_deg = np.bincount(src, minlength=V).astype(np.float64)
    inv = np.zeros(V)
    np.divide(1.0, out_deg, out=inv, where=out_deg > 0)
    w = inv[src]
    rank = np.ones(V)
    for it in range(1, iters + 1):
        new = 0.85 * np.bincount(dst, weights=rank[src] * w, minlength=V) + 0.15 / V
        delta = float(np.max(np.abs(new - rank))) if V else 0.0
        rank = new
        if tol is not None and delta <= tol:
            return rank, it
    return rank, iters


def _undirected(src: np.ndarray, dst: np.ndarray, V: int) -> tuple[np.ndarray, np.ndarray]:
    """Symmetrized, deduplicated, loop-free edge arrays."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    key = np.unique(a * V + b)
    return key // V, key % V


def cc_ref(src: np.ndarray, dst: np.ndarray, V: int) -> np.ndarray:
    a, b = _undirected(src, dst, V)
    label = np.arange(V, dtype=np.int64)
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, b, label[a])
        nxt = nxt[nxt]  # pointer jump
        if np.array_equal(nxt, label):
            return label
        label = nxt


def lpa_ref(src: np.ndarray, dst: np.ndarray, V: int, max_rounds: int) -> np.ndarray:
    a, b = _undirected(src, dst, V)
    label = np.arange(V, dtype=np.int64)
    for _ in range(max_rounds):
        key = b * V + label[a]
        uk, cnt = np.unique(key, return_counts=True)
        vid, lab = uk // V, uk % V
        # per vid: max count, then min label
        order = np.lexsort((lab, -cnt, vid))
        vid, lab = vid[order], lab[order]
        head = np.r_[True, vid[1:] != vid[:-1]]
        nxt = label.copy()
        nxt[vid[head]] = lab[head]
        changed = int(np.count_nonzero(nxt != label))
        label = nxt
        if changed == 0:
            break
    return label


def triangles_ref(src: np.ndarray, dst: np.ndarray, V: int) -> int:
    """Wedge closing over the (degree, id)-oriented simple graph."""
    a, b = _undirected(src, dst, V)
    deg = np.bincount(a, minlength=V)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u, v = a[fwd], b[fwd]
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    offs = np.zeros(V + 1, dtype=np.int64)
    np.cumsum(np.bincount(u, minlength=V), out=offs[1:])
    bitmap = np.zeros((V * V + 7) // 8, dtype=np.uint8)
    key = u * V + v
    np.bitwise_or.at(bitmap, key >> 3, (1 << (key & 7)).astype(np.uint8))
    total = 0
    # wedge u->m->w for every oriented edge (u, m): w ranges over out(m)
    chunk = 50_000
    for lo in range(0, len(u), chunk):
        cu, cm = u[lo : lo + chunk], v[lo : lo + chunk]
        n = offs[cm + 1] - offs[cm]
        rep_u = np.repeat(cu, n)
        starts = np.repeat(offs[cm], n)
        within = np.arange(len(rep_u)) - np.repeat(np.cumsum(n) - n, n)
        w = v[starts + within]
        k = rep_u * V + w
        total += int(np.count_nonzero((bitmap[k >> 3] >> (k & 7).astype(np.uint8)) & 1))
    return total


# -- cooccur-sf0.1 --------------------------------------------------------------


def cooccur_edges(orderkey: np.ndarray, partkey: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (a, b), a < b, for parts sharing an order (the bench.py join)."""
    order = np.lexsort((partkey, orderkey))
    ok, pk = orderkey[order], partkey[order]
    keys = []
    for d in range(1, 8):  # an order holds at most 7 lines
        same = ok[d:] == ok[:-d]
        x, y = pk[:-d][same], pk[d:][same]
        lt = x < y  # sorted by part within an order, so x <= y
        keys.append(x[lt] * COOCCUR_PARTS + y[lt])
    key = np.unique(np.concatenate(keys))
    return key // COOCCUR_PARTS, key % COOCCUR_PARTS


def make_cooccur(cache: Path, seed: int) -> Path:
    final = seed_dir(cache, seed, "cooccur-sf0.1")
    if (final / "expected.npz").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, "cooccur-sf0.1")
    lines = rng.integers(1, 8, COOCCUR_ORDERS)
    orderkey = np.repeat(np.arange(COOCCUR_ORDERS, dtype=np.int64), lines)
    partkey = rng.integers(0, COOCCUR_PARTS, len(orderkey)).astype(np.int64)
    _write_parquet(tmp / "lineitem.parquet", l_orderkey=orderkey, l_partkey=partkey)

    src, dst = cooccur_edges(orderkey, partkey)
    V = int(max(src.max(), dst.max())) + 1
    ranks, iters = pagerank_ref(src, dst, V, PR_TOL, PR_MAX_ITERS)
    np.savez(
        tmp / "expected.npz",
        num_vertices=V,
        num_edges=len(src),
        ranks=ranks,
        pagerank_iters=iters,
        cc=cc_ref(src, dst, V),
        lpa=lpa_ref(src, dst, V, LPA_ROUNDS),
        triangles=triangles_ref(src, dst, V),
    )
    _commit(tmp, final)
    return final


# -- powerlaw-1m ------------------------------------------------------------------


def make_powerlaw(cache: Path, seed: int) -> Path:
    final = seed_dir(cache, seed, "powerlaw-1m")
    if (final / "expected.npz").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, "powerlaw-1m")
    V, E = POWERLAW_V, POWERLAW_E
    src = rng.integers(0, V, E).astype(np.int64)
    dst = np.floor(V * rng.random(E) ** 2).astype(np.int64)
    _write_parquet(tmp / "edges.parquet", src=src, dst=dst)
    ranks, _ = pagerank_ref(src, dst, V, None, POWERLAW_ITERS)
    np.savez(tmp / "expected.npz", num_vertices=V, num_edges=E, ranks=ranks)
    _commit(tmp, final)
    return final


# -- corpus-ckpt -------------------------------------------------------------------

_IMPORT = re.compile(
    r"^(?:import (?P<py_repo>\w+)\.(?P<py_stem>\w+)"
    r"|#include \"(?P<c_repo>[^/\"]+)/(?P<c_path>[^\"]+)\""
    r"|require\('(?P<js_repo>[^/']+)/(?P<js_path>[^']+)'\))\s*$"
)


def corpus_reference(corpus_parquet: Path) -> dict[str, np.ndarray]:
    """Resolve imports in plain Python and run the fixed-count PageRank.

    Vertices are keyed by (repo, path); index i is the i-th key in sorted
    order. Each import line that names a file of the corpus is one edge.
    """
    import pyarrow.parquet as pq

    t = pq.read_table(str(corpus_parquet), columns=["repo", "path", "content"]).to_pydict()
    keys = sorted(zip(t["repo"], t["path"]))
    index = {k: i for i, k in enumerate(keys)}
    by_stem = {(r, p.rsplit("/", 1)[-1].split(".", 1)[0]): index[(r, p)] for r, p in keys}
    src, dst, unresolved = [], [], 0
    for repo, path, content in zip(t["repo"], t["path"], t["content"]):
        s = index[(repo, path)]
        for line in content.split("\n"):
            m = _IMPORT.match(line)
            if m is None:
                continue
            if m["py_repo"] is not None:
                d = by_stem.get((m["py_repo"], m["py_stem"]))
            elif m["c_repo"] is not None:
                d = index.get((m["c_repo"], m["c_path"]))
            else:
                d = index.get((m["js_repo"], m["js_path"]))
            if d is None:
                unresolved += 1
            else:
                src.append(s)
                dst.append(d)
    V = len(keys)
    s_arr, d_arr = np.asarray(src, np.int64), np.asarray(dst, np.int64)
    ranks, _ = pagerank_ref(s_arr, d_arr, V, None, CKPT_TOTAL_ITERS)
    top = np.lexsort((np.arange(V), -ranks))[:TOP_K]
    return {
        "repo": np.asarray([k[0] for k in keys]),
        "path": np.asarray([k[1] for k in keys]),
        "num_edges": len(s_arr),
        "unresolved": unresolved,
        "ranks": ranks,
        "top_idx": top,
    }


LANGS = ("py", "c", "js")


def make_corpus(cache: Path, seed: int) -> Path:
    """A corpus table in the shape of ``hoshizora_spark.corpus.synthesize_corpus``.

    (repo, path, commit, lang, content, content_sha256); each file imports
    1-6 files of the corpus, targets biased toward low file indices (u^3)
    and, across repos, toward low repo ids (u^2).
    """
    final = seed_dir(cache, seed, "corpus-ckpt")
    if (final / "expected.npz").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, "corpus-ckpt")
    R, Fn = CORPUS_REPOS, CORPUS_FILES
    cols: dict[str, list[str]] = {k: [] for k in ("repo", "path", "commit", "lang", "content", "content_sha256")}
    for fid in range(R * Fn):
        r, i = divmod(fid, Fn)
        repo, lang = f"repo{r:04d}", LANGS[i % 3]
        path = f"src/f{i:05d}.{lang}"
        k = int(rng.integers(1, 7))
        t = np.floor(Fn * rng.random(k) ** 3).astype(np.int64)
        t = np.where(t == i, (t + 1) % Fn, t)
        same = rng.random(k) < 0.7
        tr = np.where(same, r, np.floor(R * rng.random(k) ** 2).astype(np.int64))
        lines = []
        for ti, ri in zip(t.tolist(), tr.tolist()):
            tgt_repo, tgt_stem = f"repo{ri:04d}", f"f{ti:05d}"
            tgt_path = f"src/{tgt_stem}.{LANGS[ti % 3]}"
            if lang == "py":
                lines.append(f"import {tgt_repo}.{tgt_stem}")
            elif lang == "c":
                lines.append(f'#include "{tgt_repo}/{tgt_path}"')
            else:
                lines.append(f"require('{tgt_repo}/{tgt_path}')")
        content = f"// {repo}/{path} lang={lang}\n" + "\n".join(lines) + "\n"
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40])
        cols["lang"].append(lang)
        cols["content"].append(content)
        cols["content_sha256"].append(hashlib.sha256(content.encode()).hexdigest())
    _write_parquet(tmp / "corpus.parquet", **{k: np.asarray(v) for k, v in cols.items()})
    np.savez(tmp / "expected.npz", **corpus_reference(tmp / "corpus.parquet"))
    _commit(tmp, final)
    return final


MAKE = {"cooccur-sf0.1": make_cooccur, "powerlaw-1m": make_powerlaw, "corpus-ckpt": make_corpus}
