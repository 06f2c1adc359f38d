"""Physical-plan audit: assert the plans we ship are the plans we
want at 100 TB.  Checks, per representative query:

- parquet scans carry PushedFilters / pruned ReadSchema (no
  read-everything scans);
- small dimension joins are broadcast (no full shuffle of nation);
- aggregations are two-phase (partial_ before the exchange = map-side
  combine, the engine's analog of GAE message combining);
- every superstep a real ``pagerank`` call executes, fixed-round and
  tolerance mode, contains exactly one wide shuffle of messages
  (Exchange on the groupBy key), with the adjacency side reused from
  cache (InMemoryTableScan); in tolerance mode the L1 delta comes
  from one aggregate over the new state, with no join.

Run: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from graphscope_spark.entry import (  # noqa: E402
    load,
    part_graph,
    q_rel_join_topk,
)
from graphscope_spark.operators.pagerank import pagerank  # noqa: E402
from graphscope_spark.session import get_spark  # noqa: E402

CHECKS: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    CHECKS.append((name, ok, detail))
    print(f"{'PASS' if ok else 'FAIL'}  {name}  {detail}")


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def executed_plans(spark, fn) -> list[str]:
    """Physical plans of the SQL executions ``fn`` runs, as the SQL
    status store recorded them, in order — in ``simple`` explain mode:
    one indented line per node, its arguments inline."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    mode = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    try:
        fn()
    finally:
        spark.conf.set("spark.sql.ui.explainMode", mode)
    return [e.physicalPlanDescription() for e in executions()
            if e.executionId() > seen]


def superstep_shape(plan: str) -> dict | None:
    """The shape of the join that builds a PageRank superstep's new
    state — the nearest join above the message explode — or ``None``
    when ``plan`` explodes no adjacency list.  The build plans of
    cached relations nested in it (adjacency, dangling flags) were
    filled before the superstep and do not count.  A split at the
    first ``InMemoryRelation`` does not do: a fixed-round superstep
    runs inside the build plan of the state it persists."""
    nodes = [(len(line) - len(line.lstrip(" :+-")), line.lstrip(" :+-"))
             for line in plan.splitlines()[1:]]
    gen = next((i for i, (_, node) in enumerate(nodes)
                if "Generate explode(dst_list" in node), None)
    if gen is None:
        return None
    depth = nodes[gen][0]
    for join in range(gen - 1, -1, -1):
        if nodes[join][0] < depth:
            depth = nodes[join][0]
            if "Join" in nodes[join][1]:
                break
    else:
        return None
    live, skip = [], None
    for d, node in nodes[join + 1:]:
        if d <= depth:
            break
        if skip is not None and d > skip:
            continue
        skip = d if node.startswith("InMemoryRelation") else None
        live.append(node)
    return {
        "adjacency_cached": any(node.startswith("InMemoryTableScan")
                                and "dst_list" in node for node in live),
        "partial_sum": any("partial_sum" in node for node in live),
        "shuffles": sum(node.startswith("Exchange hashpartitioning")
                        for node in live),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # 1. filter + projection pushdown to the parquet scan
    li = load(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    p = plan_of(q)
    check("scan: filter pushed down", "PushedFilters: [IsNotNull(l_quantity)" in p
          or "GreaterThan(l_quantity" in p, "")
    check("scan: schema pruned to 2 cols",
          "l_extendedprice" not in p.split("ReadSchema")[1][:300]
          if "ReadSchema" in p else False, "")

    # 2. broadcast join of the small dimension
    p = plan_of(q_rel_join_topk(spark, sf_dir))
    check("join: nation broadcast", "BroadcastHashJoin" in p, "")

    # 3. partial aggregation before the exchange
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = plan_of(agg)
    has_partial = "partial_sum" in p
    check("agg: map-side combine (partial_sum)", has_partial, "")

    # 4. the pagerank superstep shape, audited on the plans a real
    #    call executes, in both modes: cached adjacency + a single
    #    message shuffle with partial aggregation; in tolerance mode
    #    the L1 delta and dangling sum come from one aggregate over
    #    the new state, with no second |V|⋈|V| join
    g = part_graph(spark, sf_dir)
    for tol in (0.0, 1e-6):
        stats: dict = {}
        plans = executed_plans(spark, lambda: pagerank(
            g, max_iter=3, tol=tol, stats=stats).collect())
        mode = "tol" if tol > 0 else "fixed"
        shapes = [s for s in map(superstep_shape, plans) if s]
        check(f"superstep[{mode}]: one plan audited per superstep",
              len(shapes) >= stats["rounds"],
              f"{len(shapes)} plans, {stats['rounds']} supersteps")
        check(f"superstep[{mode}]: adjacency read from cache",
              bool(shapes) and all(s["adjacency_cached"] for s in shapes))
        check(f"superstep[{mode}]: partial_sum combine before shuffle",
              bool(shapes) and all(s["partial_sum"] for s in shapes))
        check(f"superstep[{mode}]: exactly one message shuffle",
              bool(shapes) and all(s["shuffles"] == 1 for s in shapes),
              f"live shuffles per superstep={[s['shuffles'] for s in shapes]}")
        if tol > 0:
            deltas = [p for p in plans if "old_rank" in p and "sum(abs(" in p]
            check("superstep[tol]: L1 delta from one aggregate, no join",
                  len(deltas) == stats["rounds"]
                  and not any("Join" in p for p in deltas),
                  f"{len(deltas)} delta aggregates")

    # 5. the registered embedding near-dup is the LSH path: candidate
    #    generation must be bucket-equality joins — a CartesianProduct
    #    or BroadcastNestedLoopJoin here is the O(n²) anti-pattern
    from graphscope_spark.entry import q_embedding_near_dup
    p = plan_of(q_embedding_near_dup(spark, sf_dir))
    check("near-dup: no cartesian/nested-loop join",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p, "")

    # 6. round-3 curation plans
    #    repetition_stats must stay a pure projection (zero Exchange):
    #    the naive formulation shuffles the exploded bigram stream
    from graphscope_spark.entry import (
        q_decontaminate,
        q_pack_sequences,
        q_repetition_stats,
    )
    p = plan_of(q_repetition_stats(spark, sf_dir))
    check("repetition: zero-shuffle projection",
          "Exchange" not in p, "")
    #    decontamination must broadcast the benchmark shingle set —
    #    the training side is the 100 TB side and must not shuffle
    #    for the semi-join
    p = plan_of(q_decontaminate(spark, sf_dir))
    check("decontaminate: benchmark side broadcast",
          "BroadcastHashJoin" in p, "")
    #    packing's prefix sum must not collapse the corpus into one
    #    task: the only unpartitioned Window may run over the tiny
    #    per-partition totals (partitionBy pid covers the data path)
    p = plan_of(q_pack_sequences(spark, sf_dir))
    check("packing: corpus window partitioned by pid",
          "windowspecdefinition(pid" in p, "")

    # 7. hub-skew salting: with a salt threshold the adjacency build
    #    must route hub keys through the two-phase (key, _salt)
    #    aggregation (plans/skew.salted_collect_list) — deterministic
    #    xxhash64 salt, partial lists flattened after the second agg
    adj_salted = part_graph(spark, sf_dir).adjacency(
        "out", cache=False, salt_threshold=1, salt_buckets=8
    )
    p = plan_of(adj_salted)
    check("skew: salted two-phase collect_list engaged",
          "pmod(xxhash64" in p and "flatten" in p, "")

    # 13. triangle close-join is the adjacency-intersection plan:
    # the intersection stays array-side (no wedge-row shuffle between
    # the two adjacency joins) and no cartesian product appears
    from graphscope_spark.operators.triangles import triangle_list

    tri = triangle_list(part_graph(spark, sf_dir))
    p = plan_of(tri)
    check("triangles: adjacency-intersection close",
          "array_intersect" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p, "")

    # 14. semantic dedup: the only nested-loop allowed anywhere is
    # the tiny broadcast against the n_centroids codebook (inside
    # ivf_assign); the intra-cluster pair compare must be a keyed
    # join on cid, never a corpus-wide nested loop.  The assignment
    # is audited uncached (the cached q_semantic_dedup plan hides it
    # behind an InMemoryTableScan leaf).
    import re

    from graphscope_spark.entry import q_semantic_dedup
    from graphscope_spark.functions.similarity import ivf_assign

    emb = load(spark, sf_dir, "embeddings")
    _, assign = ivf_assign(emb)
    p = plan_of(assign)
    # formatted explain prints each node twice (tree + details) —
    # count distinct "(id) Node" detail headers
    n_bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin",
                            p, re.M))
    check("ivf assign: exactly the one centroid-codebook broadcast",
          n_bnlj == 1 and "CartesianProduct" not in p, "")
    p = plan_of(q_semantic_dedup(spark, sf_dir))
    # every nested-loop here must sit INSIDE the cached assignment
    # relation (computed once; the data path reads the cache): the
    # outer joins are keyed, and each tree occurrence of a BNLJ is
    # preceded by more InMemoryRelation markers than complete cached
    # subtrees could close — assert the cheap invariants: no true
    # cartesian anywhere, cache reuse present, and the only BNLJ node
    # ids are the re-printed cached centroid scoring (≤ 2 distinct)
    n_bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin",
                            p, re.M))
    check("semantic-dedup: intra-cluster compare is a keyed join",
          "CartesianProduct" not in p
          and "InMemoryTableScan" in p
          and n_bnlj <= 2, "")

    # 16. line-level dedup: the boilerplate blocklist attaches via a
    # keyed join on the line string (no cartesian / nested loop) and
    # the per-doc reassembly is an array_sort inside the aggregate —
    # never a corpus-wide Window/orderBy
    from graphscope_spark.entry import q_line_dedup

    p = plan_of(q_line_dedup(spark, sf_dir))
    check("line-dedup: keyed joins + array_sort reassembly",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "array_sort" in p
          and "Window" not in p, "")

    # 17. Gopher quality rules: a pure per-row scan — zero exchanges,
    # no join, everything inside whole-stage codegen over the parquet
    # read (the 100-TB shape: map-only, fuses with downstream filters)
    from graphscope_spark.functions.quality import gopher_rules

    p = plan_of(gopher_rules(load(spark, sf_dir, "documents")))
    check("gopher-rules: zero-shuffle per-row scan",
          "Exchange" not in p and "Join" not in p
          and "Scan parquet" in p, "")

    # 18. vocab top-k: partial map-side count before the word
    # exchange, and the final k rows via TakeOrderedAndProject —
    # never a global Sort of the whole vocabulary
    from graphscope_spark.functions.quality import vocab_topk

    p = plan_of(vocab_topk(load(spark, sf_dir, "documents"), k=100))
    check("vocab-topk: map-side combine + TakeOrderedAndProject",
          "partial_count" in p and "TakeOrderedAndProject" in p
          and len(re.findall(r"^\(\d+\) Sort\b", p, re.M)) == 0, "")

    # 19. duplicate-span removal: keyed joins only (span/position),
    # with the untouched-doc fast path visible as a Union — the
    # corpus-sized token reassembly must be confined to one branch
    from graphscope_spark.functions.dedup import remove_duplicated_spans

    p = plan_of(remove_duplicated_spans(
        load(spark, sf_dir, "documents"), n=5, min_docs=2))
    check("span-dedup: keyed joins + untouched-doc Union fast path",
          "CartesianProduct" not in p
          and "Union" in p
          and "array_sort" in p, "")

    # 20. bigram LM: both model passes are hash aggregates with a
    # map-side partial_count; scoring joins are keyed (no nested loop)
    from graphscope_spark.functions.quality import bigram_lm_logprob

    p = plan_of(bigram_lm_logprob(load(spark, sf_dir, "documents")))
    check("bigram-lm: partial-combined counts + keyed score joins",
          "partial_count" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p, "")

    spark.stop()
    fails = [c for c in CHECKS if not c[1]]
    print(f"\n{len(CHECKS) - len(fails)}/{len(CHECKS)} checks passed")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
