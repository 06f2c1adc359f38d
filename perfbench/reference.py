"""Reference results the correctness gate compares against.

Computed without Spark: numpy for the graph apps, ``hashlib`` and
plain string parsing for the miner.  Vertex ids are mapped to dense indices ``0..n-1`` in ascending id order, so
"minimum label" on indices is "minimum label" on ids.
"""

from __future__ import annotations

import hashlib

import numpy as np


def dense(ids: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """``(sorted ids, src index, dst index)``."""
    ids = np.unique(ids)
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(n: int, s: np.ndarray, d: np.ndarray, alpha: float,
             max_iter: int, tol: float) -> tuple[np.ndarray, int]:
    """NetworkX ``pagerank`` on a multigraph: dangling mass spread
    uniformly, stop when ``Σ|r' - r| < tol·n`` or after ``max_iter``
    rounds (``tol <= 0``: exactly ``max_iter``).  Returns ranks and the
    number of supersteps run."""
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    steps = 0
    for steps in range(1, max_iter + 1):
        dsum = alpha * r[dangling].sum()
        contrib = np.bincount(d, weights=r[s] / outdeg[s], minlength=n)
        new = alpha * contrib + (1.0 - alpha) / n + dsum / n
        l1 = np.abs(new - r).sum()
        r = new
        if tol > 0 and l1 < tol * n:
            break
    return r, steps


def wcc(n: int, s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Component label = minimum vertex index in the component."""
    lab = np.arange(n)
    while True:
        m = np.minimum(lab[s], lab[d])
        new = lab.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, d, m)
        while True:  # pointer jumping until every label is a root
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def cdlp(n: int, send: np.ndarray, recv: np.ndarray,
         rounds: int) -> np.ndarray:
    """LDBC CDLP: each round every vertex takes the most frequent label
    among the messages it receives (``send[i]`` → ``recv[i]``), ties to
    the smallest label; a vertex with no messages keeps its label."""
    lab = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        uk, cnt = np.unique(recv * n + lab[send], return_counts=True)
        v, lv = uk // n, uk % n
        order = np.lexsort((lv, -cnt, v))
        first = order[np.r_[True, v[order][1:] != v[order][:-1]]]
        new = lab.copy()
        new[v[first]] = lv[first]
        lab = new
    return lab


def cdlp_messages(s: np.ndarray, d: np.ndarray, symmetric: bool):
    """Message edges of the engine's CDLP.  Directed graph: every edge
    both ways, as a multiset.  Symmetric (``Graph.undirected()``)
    graph: each distinct unordered pair both ways once.  Self-loops
    send nothing."""
    keep = s != d
    s, d = s[keep], d[keep]
    if symmetric:
        pairs = np.unique(np.stack([np.minimum(s, d), np.maximum(s, d)]),
                          axis=1)
        s, d = pairs[0], pairs[1]
    return np.concatenate([s, d]), np.concatenate([d, s])


def triangles(n: int, s: np.ndarray, d: np.ndarray,
              chunk: int = 4_000_000) -> np.ndarray:
    """Triangles through each vertex of the simple undirected graph.

    Edges are oriented low→high in (degree, index) order; a triangle is
    then found exactly once, at its edge ``x→y`` whose endpoints share
    the out-neighbour ``z``.  Each edge scans the shorter of the two
    out-lists and looks the other endpoint's edges up by binary search.
    """
    a, b = np.minimum(s, d), np.maximum(s, d)
    key = np.unique(a[a != b] * n + b[a != b])
    a, b = key // n, key % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    lo = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    x, y = np.where(lo, a, b), np.where(lo, b, a)
    keys = np.sort(x * n + y)
    x, y = keys // n, keys % n
    ptr = np.searchsorted(x, np.arange(n + 1))
    outdeg = np.diff(ptr)
    scan_x = outdeg[x] <= outdeg[y]
    small, other = np.where(scan_x, x, y), np.where(scan_x, y, x)
    cnt = outdeg[small]
    csum = np.cumsum(cnt)
    out = np.zeros(n, dtype=np.int64)
    start = 0
    while start < len(x):  # edges in slices of about ``chunk`` lookups
        done = csum[start - 1] if start else 0
        stop = max(start + 1,
                   int(np.searchsorted(csum, done + chunk, side="right")))
        e = np.arange(start, stop)
        c = cnt[e]
        edge = np.repeat(e, c)
        first = np.repeat(np.cumsum(c) - c, c)
        z = y[np.repeat(ptr[small[e]], c) + np.arange(c.sum()) - first]
        want = other[edge] * n + z
        pos = np.minimum(np.searchsorted(keys, want), len(keys) - 1)
        hit = keys[pos] == want
        for v in (x[edge[hit]], y[edge[hit]], z[hit]):
            out += np.bincount(v, minlength=n)
        start = stop
    return out


def mined(rows: list[dict]) -> tuple[dict, set]:
    """``({(repo, path): sha256 hex}, {(src_repo, dst_repo)})`` from the
    generated rows: imports are parsed line by line from the four
    statement shapes the generator writes, and resolved against the
    repo names."""
    sha = {(r["repo"], r["path"]):
           hashlib.sha256(r["content"].encode()).hexdigest() for r in rows}
    repo_of = {r["repo"].split("/", 1)[1].replace("/", "_"): r["repo"]
               for r in rows}
    edges = set()
    for r in rows:
        for line in r["content"].splitlines():
            token = _import_token(r["lang"], line)
            dst = repo_of.get(token)
            if dst is not None and dst != r["repo"]:
                edges.add((r["repo"], dst))
    return sha, edges


def _import_token(lang: str, line: str) -> str | None:
    if lang == "python" and line.startswith("import "):
        return line[len("import "):].strip()
    if lang == "java" and line.startswith("import com."):
        return line[len("import com."):].split(".", 1)[0]
    if lang == "go" and line.startswith('import "github.com/'):
        return line[len('import "github.com/'):].split("/", 1)[0]
    if lang == "rust" and line.startswith("use "):
        return line[len("use "):].split("::", 1)[0]
    return None
