"""Independent pure-Python oracle implementing the reference semantics
cited in SURVEY.md §2.B — deliberately written dict/loop-style (no
Spark, no DataFrames) so a bug in the engine can't hide in a shared
implementation.  Mirrors the reference's golden-file strategy
(``analytical_engine/test/app_tests.sh:115-125`` exact_verify; python
``tests/unittest/test_app.py`` allclose for floats).
"""

from __future__ import annotations

from collections import Counter, defaultdict


def pagerank_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-06,
    directed: bool = True,
    init: dict[int, float] | None = None,
) -> dict[int, float]:
    """NetworkX-faithful PageRank per ``apps/pagerank/
    pagerank_networkx.h:62-161`` (see operators/pagerank.py), starting
    from ``init`` when given (a warm start), else from ``1/N``."""
    if not directed:
        es = set()
        for u, v in edges:
            if u != v:
                es.add((u, v))
                es.add((v, u))
        edges = sorted(es)
    n = len(vertices)
    if n == 0:
        return {}
    out_nbrs: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        out_nbrs[u].append(v)
    outdeg = {v: len(out_nbrs[v]) for v in vertices}
    r = dict(init) if init is not None else {v: 1.0 / n for v in vertices}
    dangling = [v for v in vertices if outdeg[v] == 0]
    for _ in range(max_iter):
        dsum = alpha * sum(r[v] for v in dangling)
        base = (1.0 - alpha) / n + dsum / n
        contrib: dict[int, float] = defaultdict(float)
        for u in vertices:
            if outdeg[u]:
                share = r[u] / outdeg[u]
                for v in out_nbrs[u]:
                    contrib[v] += share
        new_r = {v: alpha * contrib[v] + base for v in vertices}
        err = sum(abs(new_r[v] - r[v]) for v in vertices)
        r = new_r
        if tol > 0 and err < tol * n:
            break
    return r


def wcc_oracle(vertices: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find; component id = min vertex id in component
    (``wcc_projected.h:76-120``; convention ``test_app.py:195-200``)."""
    parent = {v: v for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in vertices}


def cdlp_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    max_round: int = 10,
    directed: bool = True,
) -> dict[int, int]:
    """LDBC Graphalytics CDLP (``builtin_algorithms.md:89-99``): init
    label=id; each synchronous round every vertex takes the most
    frequent label over in+out neighbor multiset (bidirectional pair
    counts twice), min tie-break; no-neighbor vertices keep theirs."""
    nbr_multiset: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        if u == v:
            continue
        nbr_multiset[v].append(u)
        if directed:
            nbr_multiset[u].append(v)
        # undirected input is assumed already symmetrized (each
        # neighbor appears once per undirected edge)
    labels = {v: v for v in vertices}
    for _ in range(max_round):
        new_labels = {}
        for v in vertices:
            ns = nbr_multiset.get(v)
            if not ns:
                new_labels[v] = labels[v]
                continue
            cnt = Counter(labels[u] for u in ns)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new_labels[v] = best[0]
        labels = new_labels
    return labels


def triangles_oracle(
    vertices: list[int], edges: list[tuple[int, int]]
) -> dict[int, int]:
    """Per-vertex triangle counts on the simple undirected graph
    (``apps/clustering/triangles.h:110-139``)."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    cnt = {v: 0 for v in vertices}
    for v in vertices:
        for u in nbrs[v]:
            if u > v:
                common = nbrs[v] & nbrs[u]
                for w in common:
                    if w > u:
                        cnt[v] += 1
                        cnt[u] += 1
                        cnt[w] += 1
    return cnt


def lcc_oracle(vertices: list[int], edges: list[tuple[int, int]]) -> dict[int, float]:
    """Local clustering coefficient = 2·tri(v)/(deg(v)·(deg(v)−1)) on
    the undirected simple graph (LDBC LCC, SURVEY.md §2.B table)."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    tri = triangles_oracle(vertices, edges)
    out = {}
    for v in vertices:
        d = len(nbrs[v])
        out[v] = 2.0 * tri[v] / (d * (d - 1)) if d >= 2 else 0.0
    return out


def sssp_oracle(
    vertices: list[int],
    wedges: list[tuple[int, int, float]],
    source: int,
    directed: bool = True,
) -> dict[int, float]:
    """Single-source shortest paths (``apps/projected/
    sssp_projected.h``); unreachable = +inf."""
    import heapq

    adj: dict[int, list[tuple[int, float]]] = defaultdict(list)
    for u, v, w in wedges:
        adj[u].append((v, w))
        if not directed:
            adj[v].append((u, w))
    dist = {v: float("inf") for v in vertices}
    dist[source] = 0.0
    pq = [(0.0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd < dist[v]:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def bfs_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    source: int,
    directed: bool = True,
) -> dict[int, int]:
    """BFS depth (``apps/bfs/bfs_generic.h``); unreachable = -1
    (LDBC convention uses a sentinel; we pin -1)."""
    from collections import deque

    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        if not directed:
            adj[v].append(u)
    depth = {v: -1 for v in vertices}
    depth[source] = 0
    q = deque([source])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if depth[v] == -1:
                depth[v] = depth[u] + 1
                q.append(v)
    return depth


def kcore_oracle(
    vertices: list[int], edges: list[tuple[int, int]], k: int
) -> dict[int, int]:
    """1 if v survives iterative peeling to the k-core else 0
    (``apps/kcore/kcore_context.h:31-56``)."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    alive = set(vertices)
    changed = True
    while changed:
        changed = False
        for v in list(alive):
            if len(nbrs[v] & alive) < k:
                alive.discard(v)
                changed = True
    return {v: (1 if v in alive else 0) for v in vertices}


def hits_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    max_iter: int = 100,
    tol: float = 1e-08,
) -> tuple[dict[int, float], dict[int, float]]:
    """HITS hubs/authorities, NetworkX semantics (``apps/hits/hits.h``):
    power iteration with per-round max-normalization, final sum-1
    normalization, convergence on hub L1 delta."""
    h = {v: 1.0 / len(vertices) for v in vertices}
    a = {v: 0.0 for v in vertices}
    in_nbrs: dict[int, list[int]] = defaultdict(list)
    out_nbrs: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        in_nbrs[v].append(u)
        out_nbrs[u].append(v)
    for _ in range(max_iter):
        hlast = h
        a = {v: sum(hlast[u] for u in in_nbrs[v]) for v in vertices}
        h = {v: sum(a[w] for w in out_nbrs[v]) for v in vertices}
        mh = max(h.values()) or 1.0
        ma = max(a.values()) or 1.0
        h = {v: x / mh for v, x in h.items()}
        a = {v: x / ma for v, x in a.items()}
        if sum(abs(h[v] - hlast[v]) for v in vertices) < tol:
            break
    sh = sum(h.values()) or 1.0
    sa = sum(a.values()) or 1.0
    return {v: x / sh for v, x in h.items()}, {v: x / sa for v, x in a.items()}


def degree_centrality_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    degree_type: str = "both",
) -> dict[int, float]:
    """deg/(n-1) per ``apps/centrality/degree/degree_centrality.h``."""
    ind = {v: 0 for v in vertices}
    outd = {v: 0 for v in vertices}
    for u, v in edges:
        outd[u] += 1
        ind[v] += 1
    n = len(vertices)
    denom = (n - 1) if n > 1 else 1
    pick = {
        "in": lambda v: ind[v],
        "out": lambda v: outd[v],
        "both": lambda v: ind[v] + outd[v],
    }[degree_type]
    return {v: pick(v) / denom for v in vertices}


def eigenvector_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    max_iter: int = 100,
    tol: float = 1e-06,
    directed: bool = True,
) -> dict[int, float]:
    """NetworkX eigenvector_centrality: x' = x + A^T x, L2-normalized
    per round, stop when Σ|x'-x| < n·tol."""
    import math

    if not directed:
        es = set()
        for u, v in edges:
            if u != v:
                es.add((u, v))
                es.add((v, u))
        edges = sorted(es)
    n = len(vertices)
    x = {v: 1.0 / n for v in vertices}
    for _ in range(max_iter):
        xlast = x
        x = dict(xlast)
        for u, v in edges:
            x[v] += xlast[u]
        norm = math.sqrt(sum(z * z for z in x.values())) or 1.0
        x = {v: z / norm for v, z in x.items()}
        if sum(abs(x[v] - xlast[v]) for v in vertices) < n * tol:
            break
    return x


def katz_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-06,
) -> dict[int, float]:
    import math

    x = {v: 0.0 for v in vertices}
    for _ in range(max_iter):
        xlast = x
        x = {v: beta for v in vertices}
        for u, v in edges:
            x[v] += alpha * xlast[u]
        if sum(abs(x[v] - xlast[v]) for v in vertices) < len(vertices) * tol:
            break
    norm = math.sqrt(sum(z * z for z in x.values())) or 1.0
    return {v: z / norm for v, z in x.items()}


def closeness_oracle(
    vertices: list[int],
    edges: list[tuple[int, int]],
    directed: bool = True,
    wf_improved: bool = True,
) -> dict[int, float]:
    """Wasserman-Faust closeness over incoming-path distances
    (NetworkX closeness_centrality semantics)."""
    from collections import deque

    in_adj = {v: [] for v in vertices}
    for u, v in edges:
        in_adj[v].append(u)
        if not directed:
            in_adj[u].append(v)
    n = len(vertices)
    out = {}
    for t in vertices:
        # BFS over incoming edges from t: distances of sources TO t
        dist = {t: 0}
        q = deque([t])
        while q:
            w = q.popleft()
            for u in in_adj[w]:
                if u not in dist:
                    dist[u] = dist[w] + 1
                    q.append(u)
        total = sum(dist.values())
        r = len(dist)
        if total > 0:
            cc = (r - 1) / total
            if wf_improved:
                cc *= (r - 1) / (n - 1 if n > 1 else 1)
        else:
            cc = 0.0
        out[t] = cc
    return out


def avg_clustering_oracle(
    vertices: list[int], edges: list[tuple[int, int]]
) -> float:
    lcc = lcc_oracle(vertices, edges)
    return sum(lcc.values()) / len(vertices) if vertices else 0.0


def transitivity_oracle(
    vertices: list[int], edges: list[tuple[int, int]]
) -> float:
    from collections import defaultdict as dd

    nbrs: dict[int, set[int]] = dd(set)
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    tri = triangles_oracle(vertices, edges)
    wedges = sum(len(nbrs[v]) * (len(nbrs[v]) - 1) for v in vertices)
    return (2.0 * sum(tri.values()) / wedges) if wedges else 0.0


def kshell_oracle(
    vertices: list[int], edges: list[tuple[int, int]], k: int
) -> dict[int, int]:
    a = kcore_oracle(vertices, edges, k)
    b = kcore_oracle(vertices, edges, k + 1)
    return {v: (1 if a[v] == 1 and b[v] == 0 else 0) for v in vertices}


def core_numbers_oracle(
    vertices: list[int], edges: list[tuple[int, int]]
) -> dict[int, int]:
    core = {v: 0 for v in vertices}
    k = 1
    while True:
        kc = kcore_oracle(vertices, edges, k)
        if not any(kc.values()):
            break
        for v in vertices:
            if kc[v]:
                core[v] = k
        k += 1
    return core
