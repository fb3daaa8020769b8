"""Independent NumPy oracle for the four graph algorithms.

Implements the reference semantics exactly (SURVEY.md §2.4, citing
/root/reference/src/hoshizora/app/pagerank.h and app/apps.h), written
against dense arrays so it shares no code path with the Spark engine.
"""

from __future__ import annotations

import numpy as np


def _edge_arrays(edges: list[tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    if not edges:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    arr = np.asarray(edges, dtype=np.int64)
    return arr[:, 0], arr[:, 1]


def num_vertices_of(edges: list[tuple[int, int]]) -> int:
    """Reference rule: dense domain 0..max_id (core/graph.h:453-455)."""
    if not edges:
        return 0
    return int(max(max(s, d) for s, d in edges)) + 1


def pagerank(
    edges: list[tuple[int, int]],
    num_vertices: int | None = None,
    tol: float | None = 1e-6,
    max_iters: int = 10_000,
) -> np.ndarray:
    """Reference PageRank (app/pagerank.h:9-51):

    - init rank = 1.0 (NOT 1/N)
    - msg per edge = rank[src] / out_degree[src]; multi-edges each send
    - new = 0.85 * sum(in msgs) + 0.15 / N; no-in-edge vertices get 0.15/N
    - NO dangling-mass redistribution (mass leaks at sinks)
    - stop when max|new - old| <= tol (or after max_iters)
    """
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    src, dst = _edge_arrays(edges)
    out_deg = np.zeros(V, dtype=np.float64)
    np.add.at(out_deg, src, 1.0)
    safe_deg = np.where(out_deg > 0, out_deg, 1.0)
    rank = np.ones(V, dtype=np.float64)
    base = 0.15 / V if V else 0.0
    for _ in range(max_iters):
        contrib = rank[src] / safe_deg[src]
        acc = np.zeros(V, dtype=np.float64)
        np.add.at(acc, dst, contrib)
        new = 0.85 * acc + base
        delta = float(np.max(np.abs(new - rank))) if V else 0.0
        rank = new
        if tol is not None and delta <= tol:
            break
    return rank


def personalized_pagerank(
    edges: list[tuple[int, int]],
    sources: list[int],
    num_vertices: int | None = None,
    tol: float = 1e-9,
    max_iters: int = 10_000,
) -> np.ndarray:
    """Teleport-set variant: init = 1[v in S]; jump mass 0.15/|S| to S only."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    src, dst = _edge_arrays(edges)
    out_deg = np.zeros(V, dtype=np.float64)
    np.add.at(out_deg, src, 1.0)
    safe_deg = np.where(out_deg > 0, out_deg, 1.0)
    S = sorted(set(int(s) for s in sources))
    jump = np.zeros(V, dtype=np.float64)
    jump[S] = 0.15 / len(S)
    rank = np.zeros(V, dtype=np.float64)
    rank[S] = 1.0
    for _ in range(max_iters):
        contrib = rank[src] / safe_deg[src]
        acc = np.zeros(V, dtype=np.float64)
        np.add.at(acc, dst, contrib)
        new = 0.85 * acc + jump
        delta = float(np.max(np.abs(new - rank))) if V else 0.0
        rank = new
        if delta <= tol:
            break
    return rank


def pagerank_fixed_iters(edges: list[tuple[int, int]], num_iters: int) -> np.ndarray:
    """Reference default mode: fixed iteration count, no tolerance
    (pybind.cpp:14 num_iters=50)."""
    return pagerank(edges, tol=None, max_iters=num_iters)


def _undirected_simple(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    """Dedup + drop self-loops + canonicalize (lo, hi)."""
    out = set()
    for s, d in edges:
        if s == d:
            continue
        out.add((min(s, d), max(s, d)))
    return out


def connected_components(
    edges: list[tuple[int, int]], num_vertices: int | None = None
) -> np.ndarray:
    """Union-find; component label = min vertex id in the component.

    Matches the min-label propagation fixed point (app/clustering_louvain.h:70
    min-id tiebreak + app/apps.h:100-110 pointer jumping).
    """
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    parent = np.arange(V, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _undirected_simple(edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = np.fromiter((find(i) for i in range(V)), dtype=np.int64, count=V)
    return labels


def label_propagation(
    edges: list[tuple[int, int]],
    num_vertices: int | None = None,
    max_rounds: int = 20,
) -> np.ndarray:
    """Synchronous LPA over the undirected simple graph.

    init label = vid; each round every vertex with >=1 neighbor adopts the
    most frequent neighbor label, ties broken by min label (the reference's
    deterministic min-id tiebreak, app/clustering_louvain.h:66-75).
    Stops at fixpoint or after max_rounds (sync LPA can 2-cycle).
    """
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    nbrs: list[list[int]] = [[] for _ in range(V)]
    for a, b in und:
        nbrs[a].append(b)
        nbrs[b].append(a)
    labels = np.arange(V, dtype=np.int64)
    for _ in range(max_rounds):
        new = labels.copy()
        for v in range(V):
            if not nbrs[v]:
                continue
            counts: dict[int, int] = {}
            for u in nbrs[v]:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[v] = best
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def k_core(edges: list[tuple[int, int]], num_vertices: int | None = None) -> np.ndarray:
    """Coreness per vertex over the undirected simple graph (peeling)."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    adj: list[set[int]] = [set() for _ in range(V)]
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    deg = np.array([len(s) for s in adj], dtype=np.int64)
    core = np.zeros(V, dtype=np.int64)
    alive = deg > 0
    k = 1
    while alive.any():
        core[alive] = k
        changed = True
        while changed:
            peel = alive & (deg < k)
            changed = bool(peel.any())
            for v in np.flatnonzero(peel):
                alive[v] = False
                core[v] = k - 1
                for u in adj[v]:
                    if alive[u]:
                        deg[u] -= 1
        k += 1
    return core


def triangle_counts(
    edges: list[tuple[int, int]], num_vertices: int | None = None
) -> np.ndarray:
    """Per-vertex triangle counts over the undirected simple graph."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    adj: list[set[int]] = [set() for _ in range(V)]
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    counts = np.zeros(V, dtype=np.int64)
    for a, b in und:
        for c in adj[a] & adj[b]:
            if a < b < c:
                counts[a] += 1
                counts[b] += 1
                counts[c] += 1
    return counts


def triangle_total(edges: list[tuple[int, int]], num_vertices: int | None = None) -> int:
    return int(triangle_counts(edges, num_vertices).sum()) // 3


def bfs_distances(
    edges: list[tuple[int, int]],
    sources: list[int],
    directed: bool = True,
    num_vertices: int | None = None,
) -> np.ndarray:
    """Multi-source BFS hop distances; -1 = unreachable."""
    from collections import deque

    n = num_vertices if num_vertices is not None else num_vertices_of(edges)
    adj: list[list[int]] = [[] for _ in range(n)]
    for s, d in edges:
        adj[s].append(d)
        if not directed:
            adj[d].append(s)
    dist = np.full(n, -1, dtype=np.int64)
    dq = deque()
    for s in sources:
        if dist[s] == -1:
            dist[s] = 0
            dq.append(s)
    while dq:
        u = dq.popleft()
        for v in adj[u]:
            if dist[v] == -1:
                dist[v] = dist[u] + 1
                dq.append(v)
    return dist


def sssp_distances(
    edges: list[tuple[int, int]],
    weights: list[float],
    sources: list[int],
    directed: bool = True,
    num_vertices: int | None = None,
) -> np.ndarray:
    """Multi-source Dijkstra (non-negative weights); -1.0 = unreachable."""
    import heapq

    n = num_vertices if num_vertices is not None else num_vertices_of(edges)
    adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for (s, d), w in zip(edges, weights):
        adj[s].append((d, float(w)))
        if not directed:
            adj[d].append((s, float(w)))
    dist = np.full(n, np.inf)
    heap = []
    for s in sources:
        if dist[s] > 0.0:
            dist[s] = 0.0
            heapq.heappush(heap, (0.0, s))
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist[u]:
            continue
        for v, w in adj[u]:
            nd = du + w
            if nd < dist[v]:
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    dist[np.isinf(dist)] = -1.0
    return dist


def strongly_connected_components(
    edges: list[tuple[int, int]], num_vertices: int | None = None
) -> np.ndarray:
    """Iterative Tarjan; SCC label = MAX vertex id in the component
    (matching hoshizora_spark.strongly_connected_components' contract)."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    adj: list[list[int]] = [[] for _ in range(V)]
    for s, d in edges:
        adj[s].append(d)
    index = np.full(V, -1, dtype=np.int64)
    low = np.zeros(V, dtype=np.int64)
    on_stack = np.zeros(V, dtype=bool)
    labels = np.full(V, -1, dtype=np.int64)
    stack: list[int] = []
    counter = 0
    for root in range(V):
        if index[root] != -1:
            continue
        # explicit DFS stack of (vertex, next-child-pointer)
        work = [(root, 0)]
        while work:
            v, ci = work[-1]
            if ci == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack[v] = True
            advanced = False
            while ci < len(adj[v]):
                w = adj[v][ci]
                ci += 1
                if index[w] == -1:
                    work[-1] = (v, ci)
                    work.append((w, 0))
                    advanced = True
                    break
                if on_stack[w]:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                p = work[-1][0]
                low[p] = min(low[p], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    comp.append(w)
                    if w == v:
                        break
                lab = max(comp)
                for w in comp:
                    labels[w] = lab
    return labels


def link_prediction(
    edges: list[tuple[int, int]],
    min_common: int = 1,
    max_hub_degree: int | None = None,
    include_existing: bool = False,
) -> dict[tuple[int, int], tuple[int, float, float]]:
    """{(u, v): (common, jaccard, adamic_adar)} over the undirected
    simple graph, u < v, unrounded doubles."""
    import math

    und = _undirected_simple(edges)
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    out: dict[tuple[int, int], tuple[int, float, float]] = {}
    for w, ns in adj.items():
        if max_hub_degree is not None and deg[w] > max_hub_degree:
            continue
        ns_sorted = sorted(ns)
        for i, u in enumerate(ns_sorted):
            for v in ns_sorted[i + 1 :]:
                key = (u, v)
                c, j, a = out.get(key, (0, 0.0, 0.0))
                out[key] = (c + 1, 0.0, a + 1.0 / math.log(deg[w]))
    for (u, v), (c, _, a) in list(out.items()):
        if c < min_common or (not include_existing and (u, v) in und):
            del out[(u, v)]
            continue
        out[(u, v)] = (c, c / (deg[u] + deg[v] - c), a)
    return out


def random_walks(
    edges: list[tuple[int, int]],
    walk_length: int,
    walks_per_vertex: int,
    seed: int,
    num_vertices: int | None = None,
) -> set[tuple[int, int, int]]:
    """{(walk_id, step, vid)} replaying walks.py's deterministic sampler:
    out-edges of each src indexed in sorted-dst order (multi-edges kept),
    idx = mix(walk_id, step, seed) mod deg; dead ends terminate."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()

    def mix(walk_id: int, step: int) -> int:
        x = (walk_id % 2147483647 + 1) * 2654435761 + (
            step + seed * 10007 + 1
        ) * 2246822519
        return x ^ (x >> 33)

    out: set[tuple[int, int, int]] = set()
    for vid in range(V):
        for k in range(walks_per_vertex):
            wid = vid * walks_per_vertex + k
            cur = vid
            out.add((wid, 0, cur))
            for t in range(1, walk_length + 1):
                ns = adj.get(cur)
                if not ns:
                    break
                cur = ns[mix(wid, t) % len(ns)]
                out.add((wid, t, cur))
    return out


def k_truss(
    edges: list[tuple[int, int]], num_vertices: int | None = None
) -> dict[tuple[int, int], int]:
    """{(a, b): trussness} by exact support peeling (a < b; trussness 2
    for triangle-free edges) — the ground truth for truss.py's h-index
    fixpoint."""
    und = _undirected_simple(edges)
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(und)

    def support(e: tuple[int, int]) -> int:
        a, b = e
        return len(adj.get(a, set()) & adj.get(b, set()))

    truss = {e: 2 for e in und}
    k = 3
    while alive:
        # peel all edges with support < k - 2 (cascading), then the
        # survivors are the k-truss: bump their label and advance k
        changed = True
        while changed:
            changed = False
            for e in sorted(alive):
                if support(e) < k - 2:
                    a, b = e
                    alive.discard(e)
                    adj[a].discard(b)
                    adj[b].discard(a)
                    changed = True
        for e in alive:
            truss[e] = k
        k += 1
    return truss


def luby_mis(
    edges: list[tuple[int, int]], seed: int, num_vertices: int | None = None
) -> np.ndarray:
    """0/1 MIS membership replaying mis.py's deterministic Luby rounds:
    per-round priority = mix(vid, round, seed), tie-break by vid."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    adj: dict[int, set[int]] = {v: set() for v in range(V)}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)

    def mix(vid: int, step: int) -> int:
        x = (vid % 2147483647 + 1) * 2654435761 + (step + seed * 10007 + 1) * 2246822519
        return x ^ (x >> 33)

    st = np.zeros(V, dtype=np.int64)  # 0 active, 1 mis, 2 removed
    r = 0
    while (st == 0).any():
        p = {v: (mix(v, r), v) for v in range(V) if st[v] == 0}
        mis = [
            v
            for v in p
            if all(st[u] != 0 or p[u] < p[v] for u in adj[v])
        ]
        for v in mis:
            st[v] = 1
        for v in mis:
            for u in adj[v]:
                if st[u] == 0:
                    st[u] = 2
        r += 1
        assert r <= 10_000, "luby oracle failed to converge"
    return (st == 1).astype(np.int64)


def brandes_betweenness(
    edges: list[tuple[int, int]],
    directed: bool = False,
    sample_mod: int | None = None,
    seed: int = 0,
    num_vertices: int | None = None,
) -> np.ndarray:
    """Exact/sampled Brandes replaying betweenness.py's semantics:
    deterministic mix-sampled sources, V/|S| pivot scaling, halved when
    undirected (non-normalized NetworkX contract)."""
    from collections import deque

    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    adj: dict[int, set[int]] = {v: set() for v in range(V)}
    if directed:
        for a, b in edges:
            if a != b:
                adj[a].add(b)
    else:
        for a, b in _undirected_simple(edges):
            adj[a].add(b)
            adj[b].add(a)

    def mix(vid: int, step: int) -> int:
        x = (vid % 2147483647 + 1) * 2654435761 + (step + seed * 10007 + 1) * 2246822519
        return x ^ (x >> 33)

    if sample_mod is not None and sample_mod > 1:
        sources = [v for v in range(V) if mix(v, 0) % sample_mod == 0]
    else:
        sources = list(range(V))

    bc = np.zeros(V)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = []
        dq = deque([s])
        while dq:
            u = dq.popleft()
            order.append(u)
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0.0
                    dq.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        preds: dict[int, list[int]] = {v: [] for v in order}
        for u in order:
            for w in adj[u]:
                if dist[w] == dist[u] + 1:
                    preds[w].append(u)
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
        for v in order:
            if v != s:
                bc[v] += delta[v]
    if not sources:
        return bc
    scale = V / len(sources)
    if not directed:
        scale /= 2.0
    return bc * scale


def greedy_coloring(
    edges: list[tuple[int, int]], seed: int, num_vertices: int | None = None
) -> np.ndarray:
    """Color per vertex replaying coloring.py's deterministic rounds:
    local-max mix priority wins, winner takes mex(neighbor colors)."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    adj: dict[int, set[int]] = {v: set() for v in range(V)}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)

    def mix(vid: int, step: int) -> int:
        x = (vid % 2147483647 + 1) * 2654435761 + (step + seed * 10007 + 1) * 2246822519
        return x ^ (x >> 33)

    color: dict[int, int] = {}
    r = 0
    while len(color) < V:
        p = {v: (mix(v, r), v) for v in range(V) if v not in color}
        win = [v for v in p if all(u in color or p[u] < p[v] for u in adj[v])]
        for v in win:
            used = {color[u] for u in adj[v] if u in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
        r += 1
        assert r <= 10_000, "coloring oracle failed to converge"
    return np.array([color[v] for v in range(V)], dtype=np.int64)


def kruskal_msf(
    edges: list[tuple[int, int]],
    weights: dict[tuple[int, int], float] | None = None,
    num_vertices: int | None = None,
) -> set[tuple[int, int, float]]:
    """Unique MSF under the (w, a, b) total order — the cross-algorithm
    oracle for msf.py's Borůvka (weights keyed by canonical (lo, hi);
    None = unit weights)."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    parent = np.arange(V, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ranked = sorted(
        (1.0 if weights is None else float(weights[(a, b)]), a, b) for a, b in und
    )
    out: set[tuple[int, int, float]] = set()
    for w, a, b in ranked:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.add((a, b, w))
    return out


def densest_subgraph_peel(
    edges: list[tuple[int, int]],
    eps: float = 0.1,
    num_vertices: int | None = None,
) -> tuple[float, int, set[int]]:
    """(density, best_round, S) replaying densest.py's deterministic
    Bahmani peeling: remove deg <= 2(1+eps)*rho each round, answer is
    the earliest strictly-densest surviving S."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    live = _undirected_simple(edges)
    S = set(range(V))
    best = (-1.0, -1, set())
    r = 0
    while S:
        n, m = len(S), len(live)
        rho = m / n
        if rho > best[0]:
            best = (rho, r, set(S))
        if m == 0:
            break
        deg: dict[int, int] = {}
        for a, b in live:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        thr = 2.0 * (1.0 + eps) * rho
        S = {v for v in S if deg.get(v, 0) > thr}
        live = {(a, b) for a, b in live if a in S and b in S}
        r += 1
    return best


def greedy_coloring_degree(
    edges: list[tuple[int, int]], seed: int, num_vertices: int | None = None
) -> np.ndarray:
    """degree_order=True replay: priority tuple (deg, mix, vid) —
    Jones-Plassmann largest-degree-first."""
    V = num_vertices_of(edges) if num_vertices is None else num_vertices
    und = _undirected_simple(edges)
    adj: dict[int, set[int]] = {v: set() for v in range(V)}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)

    def mix(vid: int, step: int) -> int:
        x = (vid % 2147483647 + 1) * 2654435761 + (step + seed * 10007 + 1) * 2246822519
        return x ^ (x >> 33)

    color: dict[int, int] = {}
    r = 0
    while len(color) < V:
        p = {
            v: (len(adj[v]), mix(v, r), v)
            for v in range(V)
            if v not in color
        }
        win = [v for v in p if all(u in color or p[u] < p[v] for u in adj[v])]
        for v in win:
            used = {color[u] for u in adj[v] if u in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
        r += 1
        assert r <= 10_000, "degree coloring oracle failed to converge"
    return np.array([color[v] for v in range(V)], dtype=np.int64)


def hyperanf(
    edges: list[tuple[int, int]],
    reg: np.ndarray,
    rho: np.ndarray,
    m: int,
    directed: bool = False,
) -> list[float]:
    """HyperANF replay from the engine's per-vertex register init (vertex v
    holds ``rho[v]`` in register ``reg[v]``): registers max-propagate one
    hop per round to the register fixpoint, and N(h) = Σ_v HLL estimate of
    v's ball (bias constant alpha_m, small-range linear counting). Returns
    [V, N(1), ..., N(h*)], N(0) being the known V."""
    V = len(reg)
    src, dst = _edge_arrays(edges)
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    regs = np.zeros((V, m), dtype=np.int64)
    regs[np.arange(V), reg] = rho
    ladder = [float(V)]
    while True:
        nxt = regs.copy()
        np.maximum.at(nxt, dst, regs[src])
        if (nxt == regs).all():
            return ladder
        regs = nxt
        zeros = (regs == 0).sum(axis=1)
        raw = alpha * m * m / np.exp2(-regs.astype(np.float64)).sum(axis=1)
        small = (zeros > 0) & (raw <= 2.5 * m)
        est = np.where(small, m * np.log(m / np.maximum(zeros, 1)), raw)
        ladder.append(float(est.sum()))
