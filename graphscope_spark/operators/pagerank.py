"""PageRank — NetworkX-faithful semantics of the reference's
``pagerank_nx`` app (``analytical_engine/apps/pagerank/
pagerank_networkx.h``, 167 LoC; declared as GAE's PageRank definition
in ``docs/analytical_engine/builtin_algorithms.md:257-271``):

- init ``r(v) = 1/N``; per-vertex out-degree cached (ref ``:62-74``);
- ``dangling_sum = α·Σ_{outdeg=0} r(v)`` (ref ``:76-87, 137-161``);
- each round: ``base = (1-α)/N + dangling_sum/N``;
  ``r'(v) = α·Σ_{u→v} r(u)/outdeg(u) + base`` — pull from in-neighbors
  on digraphs, neighbors on undirected (ref ``:108-133``);
- stop when ``Σ_v |r'(v) − r(v)| < tol·N`` or round > max_iter
  (ref ``:135-149``); defaults ``alpha=0.85, max_iter=100, tol=1e-6``
  (``python/graphscope/analytical/app/pagerank.py:91-121``).

Spark shape per superstep (SURVEY.md §4.3): one join of the cached
CSR adjacency with the rank state, one shuffle aggregation of
exploded contributions by ``dst`` (map-side partial sum = GAE's
message combining), the rank update, and one driver aggregate:

- tolerance mode (``tol > 0``, ``_converge``): the state is one
  per-vertex table ``(id, dangling, rank)``; the update is ``state ⋈
  contribs`` carrying the old rank along, cut by a lazy
  ``localCheckpoint``, and ONE aggregate over it fills the cut and
  returns the L1 delta with the next dangling sum.  Measured: 2 Spark
  jobs per superstep (a broadcast and that aggregate) plus 3 per call
  — 15 jobs for the 6 supersteps on the 2,000-repo mined dependency
  graph, against 25 with a separate L1-delta join.
- fixed-round mode (``tol <= 0``, ``_fixed_rounds``): the update is
  ``dangling flags ⋈ contribs``, persisted, cut eagerly every
  ``lineage_truncate_every`` rounds and lazily on the last round; the
  aggregate is the dangling sum.  Measured: 25 jobs for 10 rounds on
  a 300k-edge power-law graph (1 per round, plus the cuts and the
  broadcasts after them).
  Its plan is linear in the state, so the lazy per-superstep cut is
  not used here: on that graph it measured 3.55 s against 3.20 s
  (medians of 8 alternating 10-round calls in one session, 4 cores).

A call releases every block it caches except those its returned ranks
read; the adjacency and the dangling flags are cached on the graph.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import Graph
from graphscope_spark.plans.checkpoint import (
    CheckpointManager,
    maybe_truncate_lineage,
    release,
)


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-06,
    checkpoint: CheckpointManager | None = None,
    lineage_truncate_every: int = 5,
    message_combine: str = "map",
    adaptive: bool = False,
    stats: dict | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, rank double)``.

    ``init_ranks`` warm-starts the iteration from a previous result
    ``(id, rank)`` — vertices missing from it start at ``1/N`` and the
    whole vector is renormalised to sum 1, so a slightly-changed graph
    (streaming micro-batch, incremental update) converges in a few
    rounds instead of from scratch.

    ``adaptive=False`` pins AQE off for the superstep loop (restored
    after): the per-round plan is fixed-shape, skew is handled by
    map-side combine + salting, and adaptive re-planning measured
    ~35% overhead per loop at sf0.1 (see ``plans.adaptive``).

    ``tol <= 0`` gives the fixed-round LDBC/Graphalytics variant
    (``grape::PageRankOpt`` with ``delta=0.85, max_round=10`` pinned in
    ``test/run_app.h:342-358``) — exactly ``max_iter`` rounds.
    ``lineage_truncate_every`` applies to that mode; ``tol > 0`` cuts
    the lineage every superstep (module docstring).

    ``message_combine`` picks the message-reduction strategy:

    - ``"map"`` (default): plain ``groupBy`` — Spark's map-side
      partial sum combines messages before the shuffle.  Wins when the
      per-task dedup factor is high (power-law hubs combine millions
      of messages into one entry).
    - ``"shuffle"``: explicit ``repartition(dst)`` before the
      aggregation, so combining happens only after the shuffle in
      small per-partition tables.  Wins when E/V is small: the partial
      agg's per-task hash table spans ~all vertices, blowing the cache
      for a <2x message reduction (measured 1.3-1.6x faster and
      better core-scaling on the 60M-edge synthetic graph).
    """
    from graphscope_spark.plans.adaptive import superstep_conf

    with superstep_conf(graph.vertices.sparkSession, adaptive):
        return _pagerank_loop(
            graph, alpha, max_iter, tol, checkpoint,
            lineage_truncate_every, message_combine, stats, init_ranks,
        )


def personalized_pagerank(
    graph: Graph,
    source: int,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-06,
) -> DataFrame:
    """Personalized PageRank from a single source (reference
    ``apps/flash/ranking/ppr.h``; NetworkX ``pagerank(personalization=
    {s: 1})`` semantics): teleport and dangling mass both return to the
    SOURCE instead of spreading uniformly::

        r'(v) = α·Σ_{u→v} r(u)/outdeg(u)
                + [v = s]·((1-α) + α·dangling_sum)

    Runs on global PageRank's superstep loop for ``tol`` (module
    docstring); AQE pinned off for the loop."""
    from graphscope_spark.plans.adaptive import superstep_conf

    spark = graph.vertices.sparkSession
    with superstep_conf(spark, False):
        adj, base_v, n = _vertex_base(graph)
        if n == 0:
            return base_v.select("id", F.lit(0.0).alias("rank"))
        is_source = F.col("id") == int(source)
        state = base_v.select(
            "id", "dangling",
            F.when(is_source, 1.0).otherwise(0.0).alias("rank"),
        ).localCheckpoint(eager=False)
        dangling_sum = alpha * _dangling_mass(state)
        run = _supersteps(
            adj, base_v, state, alpha, dangling_sum,
            lambda d: F.when(is_source, F.lit((1.0 - alpha) + d))
            .otherwise(0.0),
            range(max_iter), tol,
        )
        for _, state, l1, _ in run:
            if tol > 0 and l1 < tol * n:
                break
        return state.select("id", "rank")


def articlerank(
    graph: Graph, damping: float = 0.85, max_iter: int = 10
) -> DataFrame:
    """ArticleRank (reference ``apps/flash/ranking/articlerank.h``):
    like PageRank but contributions divide by ``outdeg(u) + ⟨outdeg⟩``
    so low-degree citers are dampened.  Reference protocol exactly:
    init 0, fixed rounds of ``r'(v) = (1-d) + d·Σ_{u→v} r(u)/(deg(u)+avg)``
    (no dangling redistribution, no normalization).  Same cached
    adjacency + one message shuffle superstep; AQE pinned off."""
    from graphscope_spark.plans.adaptive import superstep_conf

    spark = graph.vertices.sparkSession
    with superstep_conf(spark, False):
        adj = graph.adjacency("out" if graph.directed else "both",
                              cache=True)
        if graph.directed:
            deg = graph.out_degrees().withColumnRenamed("out_degree", "deg")
        else:
            deg = graph.degrees().withColumnRenamed("degree", "deg")
        deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
        row = deg.agg(F.sum("deg").alias("t"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
        avg = (row["t"] or 0) / row["n"] if row["n"] else 1.0
        state = deg.select("id", F.lit(0.0).alias("rank"))
        state = state.persist(StorageLevel.MEMORY_AND_DISK)
        for step in range(max_iter):
            contribs = (
                adj.join(state.withColumnRenamed("id", "src"), "src")
                .select(
                    F.explode("dst_list").alias("id"),
                    (F.col("rank") / (F.col("degree") + F.lit(avg))).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("msum"))
            )
            new_state = (
                deg.select("id")
                .join(contribs, "id", "left")
                .select(
                    "id",
                    (damping * F.coalesce("msum", F.lit(0.0))
                     + (1.0 - damping)).alias("rank"),
                )
            )
            new_state = maybe_truncate_lineage(
                new_state.persist(StorageLevel.MEMORY_AND_DISK), step, 5
            )
            new_state.count()
            state.unpersist()
            state = new_state
        return state.select("id", "rank")


def _vertex_base(graph: Graph) -> tuple[DataFrame, DataFrame, int]:
    """The cached adjacency messages flow along, the cached per-vertex
    base table ``(id, dangling)`` and its row count.

    Messages flow src→dst: for the pull-from-in-neighbors digraph
    semantics edges are kept as-is and aggregated on dst; the degree
    divisor is the *out*-degree (or the undirected degree)."""
    adj = graph.adjacency("out" if graph.directed else "both", cache=True)
    base_v = graph.dangling()
    return adj, base_v, base_v.count()


def _contribs(adj: DataFrame, state: DataFrame,
              message_combine: str = "map") -> DataFrame:
    """``(id, msum)``: Σ r(u)/deg(u) over the messages into each
    vertex, combined per ``message_combine`` (see ``pagerank``)."""
    msgs = (
        adj.join(state.select(F.col("id").alias("src"), "rank"), "src")
        .select(
            F.explode("dst_list").alias("id"),
            (F.col("rank") / F.col("degree")).alias("c"),
        )
    )
    if message_combine == "shuffle":
        n_part = int(
            state.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        msgs = msgs.repartition(n_part, "id")
    return msgs.groupBy("id").agg(F.sum("c").alias("msum"))


def _dangling_mass(state: DataFrame) -> float:
    """Σ r(v) over the dangling vertices of ``state``."""
    return state.agg(
        F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0))
    ).collect()[0][0] or 0.0


def _converge(
    adj: DataFrame,
    state: DataFrame,
    alpha: float,
    dangling_sum: float,
    teleport,
    steps: range,
    message_combine: str = "map",
):
    """The convergence superstep over the materialised per-vertex
    state ``(id, dangling, rank)``; yields ``(step, state, l1,
    dangling_sum)`` after each superstep.

    The new rank is ``α·msum + teleport(dangling_sum)``, computed as
    ``state ⋈ contribs`` with the old rank carried along, so ONE
    aggregate over the new state returns both the L1 delta and the
    next dangling sum — no second |V|⋈|V| join.  ``state`` appears
    twice in its own lineage, so it is cut every superstep with a
    lazy ``localCheckpoint`` that this aggregate fills (no job of its
    own); the previous cut is released once the new one is filled."""
    for step in steps:
        new = (
            state.join(_contribs(adj, state, message_combine), "id", "left")
            .select(
                "id",
                "dangling",
                (alpha * F.coalesce("msum", F.lit(0.0))
                 + teleport(dangling_sum)).alias("rank"),
                F.col("rank").alias("old_rank"),
            )
            .localCheckpoint(eager=False)
        )
        row = new.agg(
            F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("l1"),
            F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)
                  ).alias("dsum"),
        ).collect()[0]
        release(state)
        state, dangling_sum = new, (row["dsum"] or 0.0) * alpha
        yield step, state, row["l1"] or 0.0, dangling_sum


def _fixed_rounds(
    adj: DataFrame,
    base_v: DataFrame,
    state: DataFrame,
    alpha: float,
    dangling_sum: float,
    teleport,
    steps: range,
    lineage_truncate_every: int,
    message_combine: str,
):
    """The fixed-round superstep: the new rank is ``base_v ⋈
    contribs``, persisted, with an eager lineage cut every
    ``lineage_truncate_every`` supersteps; the one action per
    superstep is the next dangling sum.  Yields like ``_converge``
    with an L1 delta of 0.0 (never computed).

    The last superstep is cut lazily instead of persisted (its
    dangling-sum action fills the cut), so the returned state reads
    no released block.  Each superstep releases the persisted state
    before it; a cut is released once a newer cut replaces it."""
    cut = state
    for step in steps:
        new = (
            base_v.join(_contribs(adj, state, message_combine), "id", "left")
            .select(
                "id",
                (alpha * F.coalesce("msum", F.lit(0.0))
                 + teleport(dangling_sum)).alias("rank"),
                "dangling",
            )
        )
        if step == steps[-1]:
            new, is_cut = new.localCheckpoint(eager=False), True
        else:
            persisted = new.persist(StorageLevel.MEMORY_AND_DISK)
            new = maybe_truncate_lineage(persisted, step,
                                         lineage_truncate_every)
            is_cut = new is not persisted
            if is_cut:
                release(persisted)
        dangling_sum = alpha * _dangling_mass(new)
        if state is not cut:
            release(state)
        if is_cut:
            release(cut)
            cut = new
        state = new
        yield step, state, 0.0, dangling_sum


def _supersteps(
    adj: DataFrame,
    base_v: DataFrame,
    state: DataFrame,
    alpha: float,
    dangling_sum: float,
    teleport,
    steps: range,
    tol: float,
    lineage_truncate_every: int = 5,
    message_combine: str = "map",
):
    """The superstep loop for ``tol``: ``_converge`` when it is
    positive, else ``_fixed_rounds`` (module docstring)."""
    if tol > 0:
        return _converge(adj, state, alpha, dangling_sum, teleport, steps,
                         message_combine)
    return _fixed_rounds(adj, base_v, state, alpha, dangling_sum, teleport,
                         steps, lineage_truncate_every, message_combine)


def _pagerank_loop(
    graph: Graph,
    alpha: float,
    max_iter: int,
    tol: float,
    checkpoint: CheckpointManager | None,
    lineage_truncate_every: int,
    message_combine: str,
    stats: dict | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    adj, base_v, n = _vertex_base(graph)
    if n == 0:
        return base_v.select("id", F.lit(0.0).alias("rank"))

    # ---- init / resume -------------------------------------------------
    start_step = 0
    if checkpoint is not None and (latest := checkpoint.latest_superstep()) is not None:
        init = base_v.join(
            checkpoint.load_state(graph.vertices.sparkSession, latest), "id"
        )
        start_step = latest + 1
    elif init_ranks is not None:
        # warm start: carry over prior ranks, default new vertices to
        # 1/N, renormalize so the mass invariant (Σ rank = 1) holds
        seeded = base_v.join(
            init_ranks.select("id", F.col("rank").alias("r0")), "id", "left"
        ).select("id", "dangling",
                 F.coalesce("r0", F.lit(1.0 / n)).alias("rank"))
        total = seeded.agg(F.sum("rank")).first()[0] or 1.0
        init = seeded.withColumn("rank", F.col("rank") / F.lit(float(total)))
    else:
        init = base_v.select("id", "dangling", F.lit(1.0 / n).alias("rank"))
    # materialised by the dangling-mass action right below
    state = init.select("id", "dangling", "rank").localCheckpoint(eager=False)
    # dangling_sum = α·Σ_{dangling} r(v) over the current state
    dangling_sum = alpha * _dangling_mass(state)

    def teleport(d: float):
        return F.lit((1.0 - alpha) / n + d / n)

    run = _supersteps(adj, base_v, state, alpha, dangling_sum, teleport,
                      range(start_step, max_iter), tol,
                      lineage_truncate_every, message_combine)
    t0 = time.time()
    for step, state, l1, dangling_sum in run:
        if checkpoint is not None:
            checkpoint.save(
                step,
                state.select("id", "rank"),
                {
                    "l1_delta": float(l1),
                    "dangling_sum": float(dangling_sum),
                    "wall_ms": (time.time() - t0) * 1000.0,
                },
            )
        if stats is not None:
            stats["rounds"] = step + 1
            stats["final_l1"] = float(l1)
        if tol > 0 and l1 < tol * n:
            break
        t0 = time.time()
    return state.select("id", "rank")
