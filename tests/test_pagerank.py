"""PageRank superstep loop: warm start, the stats it reports, the
blocks a call leaves cached, and the Spark jobs a converging
superstep runs."""

import math
import time

import pytest

from graphscope_spark.operators.pagerank import pagerank
from graphscope_spark.sources.synthetic import gen_edges
from tests.conftest import df_to_dict, make_graph
from tests.oracle import pagerank_oracle

VS, ES = gen_edges(n=80, m=400, seed=13)


def _cached_rdds(spark) -> int:
    return sum(1 for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
               if info.numCachedPartitions() > 0)


def test_warm_start_missing_vertex(spark):
    g = make_graph(spark, VS, ES)
    prior = pagerank_oracle(VS, ES, max_iter=5, tol=0.0)
    missing = VS[len(VS) // 2]
    init_ranks = spark.createDataFrame(
        [(v, r) for v, r in prior.items() if v != missing], "id long, rank double"
    )
    # the missing vertex starts at 1/N, then the vector is renormalised
    seeded = {v: 1.0 / len(VS) if v == missing else prior[v] for v in VS}
    total = sum(seeded.values())
    want = pagerank_oracle(VS, ES, tol=1e-6,
                           init={v: r / total for v, r in seeded.items()})
    got = df_to_dict(pagerank(g, tol=1e-6, init_ranks=init_ranks))
    assert set(got) == set(want)
    for v in VS:
        assert math.isclose(got[v], want[v], abs_tol=1e-12), v


def test_stats(spark):
    g = make_graph(spark, VS, ES)
    stats: dict = {}
    pagerank(g, max_iter=7, tol=0.0, stats=stats).collect()
    assert stats == {"rounds": 7, "final_l1": 0.0}
    pagerank(g, tol=1e-6, stats=stats).collect()
    assert 0.0 < stats["final_l1"] < 1e-6 * len(VS)
    assert 7 < stats["rounds"] < 100


@pytest.mark.parametrize("tol", [0.0, 1e-6])
def test_ranks_survive_clear_cache(spark, tol):
    """The returned ranks read no block the call released: they still
    collect once every cached table is dropped."""
    g = make_graph(spark, VS, ES)
    ranks = pagerank(g, max_iter=7, tol=tol)
    spark.catalog.clearCache()
    got = df_to_dict(ranks)
    want = pagerank_oracle(VS, ES, max_iter=7, tol=tol)
    assert set(got) == set(want)
    for v in VS:
        assert math.isclose(got[v], want[v], abs_tol=1e-12), v


@pytest.mark.parametrize("tol", [0.0, 1e-6])
def test_call_releases_its_blocks(spark, tol):
    """Everything a call caches is released, except the blocks the
    returned ranks read (the graph's own adjacency and dangling
    table are built once, by the first call)."""
    g = make_graph(spark, VS, ES)
    pagerank(g, max_iter=12, tol=tol).collect()
    before = _cached_rdds(spark)
    ranks = pagerank(g, max_iter=12, tol=tol)
    ranks.collect()
    assert _cached_rdds(spark) <= before + 1


def test_converging_superstep_job_count(spark):
    """At most 2 Spark jobs per converging superstep (a broadcast and
    the one aggregate that fills the new state and returns the L1
    delta with the dangling sum), plus a constant: the vertex count,
    the initial dangling sum, the first superstep's second broadcast
    and the caller's collect.  A separate L1-delta join measured 65
    jobs for the 11 supersteps here."""
    g = make_graph(spark, VS, ES)
    pagerank(g, tol=1e-6).collect()  # builds the graph's cached tables
    sc = spark.sparkContext
    group = f"pagerank-jobs-{time.time_ns()}"
    sc.setJobGroup(group, "job-count guard")
    stats: dict = {}
    try:
        pagerank(g, tol=1e-6, stats=stats).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats["rounds"] >= 5
    assert jobs <= 2 * stats["rounds"] + 4, (jobs, stats["rounds"])
