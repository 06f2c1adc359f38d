"""The workloads: input from a seed, the timed call sequence, and
the correctness gate.

Each ``run`` is one iteration of a closed loop: one client, one call at
a time, through the public API (``sources``, ``graph``,
``operators``, ``plans.checkpoint``).  Every app result is collected to
the driver inside its span, so a span ends when the user has the
result.  ``check`` runs after the iteration, untimed, and returns one
``(call, error or None)`` per checked output.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

import reference as ref
from graphscope_spark.graph import Graph
from graphscope_spark.operators import cdlp, pagerank, triangles, wcc
from graphscope_spark.plans.checkpoint import CheckpointManager
from graphscope_spark.sources.miner import mine_edges
from graphscope_spark.sources.synthetic import (
    gen_code_table,
    gen_powerlaw_edges_df,
)

ALPHA = 0.85
PR_RTOL = 1e-6
RESUME_ATOL = 1e-12


def _materialize(g: Graph) -> Graph:
    """Cut the built graph's lineage, as a user does before handing a
    graph to iterative apps (see NOTES.md on CDLP)."""
    g.vertices = g.vertices.localCheckpoint(eager=True)
    g.edges = g.edges.localCheckpoint(eager=True)
    return g


def _graph_calls(g: Graph, tr, out: dict) -> None:
    with tr.span("graph.adjacency"):
        g.adjacency("out").count()  # cached on g; pagerank reuses it
    with tr.span("graph.degrees") as c:
        deg = g.in_degrees().toPandas()
    c["vertices"] = len(deg)
    c["edges"] = int(deg["in_degree"].sum())
    c["max_in_degree"] = int(deg["in_degree"].max())
    out["in_degree"] = deg


def _pagerank_call(tr, g: Graph, span: str, resumed_from: int = 0,
                   **kw) -> tuple[pd.DataFrame, int]:
    """One PageRank call in span ``span``: its ranks and the supersteps
    it ran."""
    with tr.span(span) as c:
        stats: dict = {}
        ranks = pagerank(g, stats=stats, **kw).toPandas()
    c["supersteps"] = stats["rounds"] - resumed_from
    return ranks, c["supersteps"]


def _app_calls(g: Graph, g_cdlp: Graph, tr, out: dict, sequence: tuple,
               quick: bool = False, **pr_kw) -> None:
    """The apps in ``sequence`` order, PageRank with ``pr_kw``.
    ``quick`` is the warm-up: CDLP for 2 rounds."""
    apps = {"wcc": lambda: wcc(g),
            "cdlp": lambda: cdlp(g_cdlp, max_round=2 if quick else 10),
            "triangles": lambda: triangles(g)}
    out["pagerank"] = []
    for name in sequence:
        if name == "pagerank":
            out["pagerank"].append(_pagerank_call(tr, g, name, **pr_kw))
        else:
            with tr.span(name):
                out[name] = apps[name]().toPandas()


# The warm-up's apps: WCC and triangles are left out, as their first
# call costs no more than later ones (NOTES.md)
WARMUP = ("pagerank", "cdlp")


def _aligned(df: pd.DataFrame, ids: np.ndarray, col: str) -> np.ndarray:
    """``df[col]`` ordered by ``ids``; raises if the id sets differ."""
    s = df.set_index("id")[col]
    if len(s) != len(ids) or not s.index.isin(ids).all():
        raise ValueError(f"{col}: vertex set differs from the graph's")
    return s.reindex(ids).to_numpy()


def _check(name: str, fn) -> tuple[str, str | None]:
    try:
        fn()
        return name, None
    except (AssertionError, ValueError, KeyError) as e:
        return name, f"{type(e).__name__}: {e}"


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


class _GraphRef:
    """Reference results for one dense-id graph, computed on demand."""

    def __init__(self, ids: np.ndarray, src: np.ndarray, dst: np.ndarray,
                 cdlp_symmetric: bool):
        self.ids, self.s, self.d = ref.dense(ids, src, dst)
        self.n = len(self.ids)
        self.cdlp_symmetric = cdlp_symmetric
        self._memo: dict = {}

    def get(self, key, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def pagerank(self, max_iter: int, tol: float):
        return self.get(("pr", max_iter, tol), lambda: ref.pagerank(
            self.n, self.s, self.d, ALPHA, max_iter, tol))

    def check_graph(self, out: dict) -> None:
        want = np.bincount(self.d, minlength=self.n)
        got = _aligned(out["in_degree"], self.ids, "in_degree")
        _expect(np.array_equal(got, want), "in-degrees differ")

    def check_pagerank(self, df: pd.DataFrame, steps: int, max_iter: int,
                       tol: float) -> None:
        want, want_steps = self.pagerank(max_iter, tol)
        _expect(steps == want_steps,
                f"pagerank ran {steps} supersteps, reference {want_steps}")
        got = _aligned(df, self.ids, "rank")
        _expect(np.allclose(got, want, rtol=PR_RTOL, atol=0.0),
                f"pagerank max abs diff {np.abs(got - want).max():.3g}")

    def check_apps(self, out: dict, max_iter: int, tol: float) -> list:
        ids = self.ids
        comp = self.get("wcc", lambda: ref.wcc(self.n, self.s, self.d))
        label = self.get("cdlp", lambda: ref.cdlp(
            self.n, *ref.cdlp_messages(self.s, self.d, self.cdlp_symmetric),
            rounds=10))
        tri = self.get("tri", lambda: ref.triangles(self.n, self.s, self.d))
        return [
            _check("graph", lambda: self.check_graph(out)),
            *(_check("pagerank", lambda df=df, steps=steps:
                     self.check_pagerank(df, steps, max_iter, tol))
              for df, steps in out["pagerank"]),
            _check("wcc", lambda: _expect(np.array_equal(
                _aligned(out["wcc"], ids, "comp"), ids[comp]),
                "wcc components differ")),
            _check("cdlp", lambda: _expect(np.array_equal(
                _aligned(out["cdlp"], ids, "label"), ids[label]),
                "cdlp labels differ")),
            _check("triangles", lambda: _expect(np.array_equal(
                _aligned(out["triangles"], ids, "tricnt"), tri),
                "triangle counts differ")),
        ]


class MinedDeps:
    """Miner → string-keyed dictionary → directed dependency graph.
    PageRank committing a checkpoint every superstep, stopped after
    ``stop_at`` supersteps, and a second call that resumes from the
    latest commit to ``resume_to``.  Then PageRank with its defaults
    (``tol=1e-6``) 4 times, interleaved with WCC, CDLP and triangles,
    all with their defaults: PageRank's calls are fixed-cost bound,
    each a few seconds, and spread over the iteration their median
    does not hang on one stretch of a shared host's load."""

    sequence = ("pagerank", "wcc", "pagerank", "cdlp", "pagerank",
                "triangles", "pagerank")
    stop_at, resume_to = 1, 2
    # miner, graph, checkpointed pagerank, its resume, the sequence
    calls = 4 + len(sequence)

    def __init__(self, ckpt_dir: str):
        self.ckpt_dir = ckpt_dir
        self.k = 0

    def generate(self, seed: int, small: bool) -> list[dict]:
        n_repos, per_repo = (20, 2) if small else (2000, 8)
        return gen_code_table(n_repos=n_repos, files_per_repo=per_repo,
                              seed=seed)

    def load(self, spark, rows: list[dict]) -> dict:
        return {"rows": rows,
                "code": spark.createDataFrame(rows).localCheckpoint(eager=True)}

    def run(self, spark, inp: dict, tr, quick: bool = False) -> dict:
        out: dict = {}
        with tr.span("miner") as c:
            files, edges = mine_edges(inp["code"], use_arrow_udf=True)
            edges = edges.localCheckpoint(eager=True)
            out["files"] = files.select("repo", "path", "sha256").toPandas()
        c["files"] = len(out["files"])
        c["edges"] = edges.count()
        with tr.span("graph.dictionary"):
            g, vmap = Graph.from_string_edges(edges, "src_repo", "dst_repo")
            g = _materialize(g)
        _graph_calls(g, tr, out)
        # PageRank committing every superstep: stopped after
        # ``stop_at``, then resumed; then the sequence.  The warm-up: one
        # checkpointed superstep, no resume.  Every PageRank call keeps
        # tol=1e-6, so the L1-delta plans are compiled before the timed
        # calls
        self.k += 1
        ck = TimedCheckpointManager(self.ckpt_dir, f"run{self.k}", tr)
        if quick:
            _pagerank_call(tr, g, "checkpoint.pagerank", checkpoint=ck,
                           max_iter=1)
            # the supersteps of a real call; the small graph takes
            # several times more to converge
            _app_calls(g, g, tr, out, WARMUP, quick, max_iter=6)
        else:
            out["stopped"] = _pagerank_call(
                tr, g, "checkpoint.pagerank", checkpoint=ck,
                max_iter=self.stop_at)
            out["resumed"] = _pagerank_call(
                tr, g, "checkpoint.resume", checkpoint=ck,
                resumed_from=self.stop_at, max_iter=self.resume_to)
            _app_calls(g, g, tr, out, self.sequence)
        out["_frames"] = (edges, vmap, g)
        return out

    def check(self, spark, inp: dict, out: dict, tr, cache: dict) -> list:
        shutil.rmtree(os.path.join(self.ckpt_dir, f"run{self.k}"),
                      ignore_errors=True)
        edges, vmap, g = out.pop("_frames")
        if "mined" not in cache:
            cache["mined"] = ref.mined(inp["rows"])
        sha, want_edges = cache["mined"]
        results = []

        def miner():
            got = dict(zip(zip(out["files"]["repo"], out["files"]["path"]),
                           out["files"]["sha256"]))
            _expect(len(out["files"]) == len(inp["rows"]) and got == sha,
                    "file rows or sha256 differ from hashlib")
            got_edges = set(map(tuple, edges.toPandas().to_numpy().tolist()))
            _expect(got_edges == want_edges, "mined edges differ")

        results.append(_check("miner", miner))
        vm = vmap.toPandas()
        ge = g.edges.select("src", "dst").toPandas()
        key = (tuple(vm["oid"]), tuple(vm["id"]))
        if cache.get("vmap_key") != key:
            oid_of = dict(zip(vm["id"], vm["oid"]))
            cache["vmap_key"] = key
            cache["graph"] = _GraphRef(
                vm["id"].to_numpy(), ge["src"].to_numpy(),
                ge["dst"].to_numpy(), False)
            cache["dictionary"] = (
                sorted(vm["id"]) == list(range(len(vm)))
                and set(vm["oid"]) == {r for e in want_edges for r in e}
                and sorted(zip(ge["src"].map(oid_of), ge["dst"].map(oid_of)))
                == sorted(want_edges))
        gref = cache["graph"]
        app = gref.check_apps(out, 100, 1e-6)
        if not cache["dictionary"]:
            app[0] = ("graph", "dictionary ids are not a dense bijection "
                      "onto the mined edges")

        def resume():
            # an uninterrupted run of ``resume_to`` supersteps
            want, want_steps = gref.pagerank(self.resume_to, 1e-6)
            ranks, steps = out["resumed"]
            _expect(out["stopped"][1] + steps == want_steps,
                    f"stopped and resumed calls ran {out['stopped'][1]} + "
                    f"{steps} supersteps, uninterrupted {want_steps}")
            diff = np.abs(_aligned(ranks, gref.ids, "rank") - want).max()
            _expect(diff <= RESUME_ATOL,
                    f"resumed ranks differ from uninterrupted by {diff:.3g}")

        return results + app + [
            _check("pagerank.stopped", lambda: gref.check_pagerank(
                *out["stopped"], self.stop_at, 1e-6)),
            _check("pagerank.resume", resume)]


class TimedCheckpointManager(CheckpointManager):
    """Times each checkpoint call as a span and counts bytes written."""

    def __init__(self, base_dir: str, run_name: str, tracer):
        super().__init__(base_dir, run_name)
        self.tr = tracer

    def save(self, superstep, state, metrics) -> None:
        with self.tr.span("checkpoint.save") as c:
            super().save(superstep, state, metrics)
        c["written_mb"] = sum(
            _dir_bytes(self._p(kind, superstep))
            for kind in ("state", "lineage", "metrics")) / 2**20

    def latest_superstep(self):
        with self.tr.span("checkpoint.load"):
            return super().latest_superstep()

    def load_state(self, spark, superstep):
        with self.tr.span("checkpoint.load"):
            return super().load_state(spark, superstep)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class PowerlawHubs:
    """Id-keyed power-law graph with hot hubs: WCC, CDLP on
    ``.undirected()``, triangles, then PageRank for a fixed 10 rounds
    5 times in a row: its calls are data-bound, and the first two on the
    real graph still run code that is being compiled, which the median
    of five leaves out."""

    sequence = ("wcc", "cdlp", "triangles") + ("pagerank",) * 5
    calls = 1 + len(sequence)  # graph, the sequence
    edges, vertices = 300_000, 30_000

    def generate(self, seed: int, small: bool) -> tuple[int, int, int]:
        m, n = ((self.edges // 10, self.vertices // 10) if small
                else (self.edges, self.vertices))
        # seed·m keeps the hash windows of different seeds disjoint
        return m, n, seed * m

    def load(self, spark, params: tuple[int, int, int]):
        m, n, seed = params
        return gen_powerlaw_edges_df(spark, m, n, k=3, seed=seed
                                     ).localCheckpoint(eager=True)

    def run(self, spark, inp, tr, quick: bool = False) -> dict:
        out: dict = {}
        with tr.span("graph.build"):
            g = _materialize(Graph.from_edges(inp))
        with tr.span("graph.undirected"):
            gu = g.undirected()
            gu.edges = gu.edges.localCheckpoint(eager=True)
        _graph_calls(g, tr, out)
        _app_calls(g, gu, tr, out, WARMUP if quick else self.sequence,
                   quick, max_iter=6 if quick else 10, tol=0.0)
        return out

    def check(self, spark, inp, out: dict, tr, cache: dict) -> list:
        if "graph" not in cache:
            e = inp.toPandas()
            s, d = e["src"].to_numpy(), e["dst"].to_numpy()
            cache["graph"] = _GraphRef(np.concatenate([s, d]), s, d, True)
        return cache["graph"].check_apps(out, 10, 0.0)
