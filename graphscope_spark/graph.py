"""Graph data model: DataFrames all the way down.

Reference mapping (SURVEY.md §1): GraphScope's projected simple
fragment ``gs::ArrowProjectedFragment`` (reference
``analytical_engine/core/fragment/arrow_projected_fragment.h:696-713``)
becomes two DataFrames — ``vertices(id[, vdata])`` and
``edges(src, dst[, weight])``.  Its per-fragment CSR adjacency
(``arrow_projected_fragment.h:857-931``) becomes a src-bucketed
DataFrame ``adj(src, dst_list array<long>, degree int)``.  The
``grape::GlobalVertexMap`` oid→gid dictionary
(``core/vertex_map/global_vertex_map.h:29-68``) becomes a dense-id
dictionary DataFrame built once at load time.

Partitioning contract (the scale story):

- Edges are hash-partitioned by ``src`` (edge-cut, like GAE's
  ``HashPartitioner`` over oids, reference ``test/run_app.h:509-517``).
- Per-vertex algorithm state is partitioned the same way, so the
  state⋈adjacency join per superstep co-locates without a shuffle of
  the (large, static) adjacency side.
- The message shuffle (``groupBy(dst)``) is the one unavoidable
  shuffle per superstep — Spark's hash agg gives map-side partial
  aggregation (the analog of GAE's message combining), and AQE's skew
  handling plus the explicit salting helpers in ``plans.skew`` deal
  with power-law hubs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class Graph:
    """A simple/projected graph: the abstraction every app runs on.

    ``edges`` must have columns ``src: long, dst: long`` and optionally
    ``weight: double``.  ``vertices`` has ``id: long`` (plus optional
    property columns).  ``directed`` mirrors the reference's load flag
    (``python/graphscope/framework/graph.py:254-308``).
    """

    vertices: DataFrame
    edges: DataFrame
    directed: bool = True
    num_partitions: int | None = None
    #: the edge table is KNOWN to hold both directions of every edge
    #: (set by .undirected()) — lets undirected message passes (cdlp,
    #: fluid) skip a redundant symmetrize+dedup shuffle; plain
    #: from_edges(directed=False) leaves it False and those operators
    #: symmetrize defensively (storage-agnostic correctness)
    edges_symmetric: bool = False
    _cache: dict = field(default_factory=dict, repr=False)

    # ---------------------------------------------------------- build
    @classmethod
    def from_edges(
        cls,
        edges: DataFrame,
        directed: bool = True,
        vertices: DataFrame | None = None,
        num_partitions: int | None = None,
    ) -> "Graph":
        """Build a graph from an edge DataFrame; derive the vertex set
        from edge endpoints if not given (matches the loader behavior
        when no vertex table is supplied).
        """
        if vertices is None:
            vertices = (
                edges.select(F.col("src").alias("id"))
                .unionByName(edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        if num_partitions:
            edges = edges.repartition(num_partitions, "src")
            vertices = vertices.repartition(num_partitions, "id")
        return cls(vertices=vertices, edges=edges, directed=directed,
                   num_partitions=num_partitions)

    @classmethod
    def from_string_edges(
        cls,
        edges: DataFrame,
        src_col: str = "src",
        dst_col: str = "dst",
        directed: bool = True,
        num_partitions: int | None = None,
    ) -> tuple["Graph", DataFrame]:
        """String-keyed edge table → dense long ids + graph.

        The oid→gid dictionary mirrors ``grape::GlobalVertexMap``
        (``global_vertex_map.h:62`` packs fragment id into the gid; we
        just need *dense, deterministic* longs).  Scale shape: ids are
        assigned per hash partition — within-partition ``row_number``
        plus a cumulative partition offset (the zipWithIndex pattern) —
        so no row ever flows through a single global-sort task.  A
        global ``row_number().over(Window.orderBy(...))`` here would
        serialize the whole oid dictionary (billions of rows at
        10^12-file scale) through ONE task.  Ids are deterministic for
        a fixed partition count (hash(oid) → partition, sorted within).

        Returns ``(graph, vmap)`` where ``vmap(oid string, id long)``.
        """
        spark = edges.sparkSession
        # id assignment depends on the oid→partition hash, so a FIXED
        # default keeps ids stable across sessions regardless of
        # spark.sql.shuffle.partitions; pass num_partitions explicitly
        # to size for the cluster (ids change with it, deterministically)
        nparts = num_partitions or 64
        oids = (
            edges.select(F.col(src_col).alias("oid"))
            .unionByName(edges.select(F.col(dst_col).alias("oid")))
            .distinct()
            .repartition(nparts, "oid")
        )
        tagged = oids.withColumn("pid", F.spark_partition_id()).persist()
        counts = {r["pid"]: r["cnt"] for r in
                  tagged.groupBy("pid").agg(
                      F.count(F.lit(1)).alias("cnt")).collect()}
        offsets, acc = [], 0
        for pid in sorted(counts):
            offsets.append((pid, acc))
            acc += counts[pid]
        off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
        vmap = (
            tagged.join(F.broadcast(off_df), "pid")
            .withColumn(
                "id",
                (F.col("off")
                 + F.row_number().over(
                     Window.partitionBy("pid").orderBy("oid"))
                 - 1).cast("long"),
            )
            .select("oid", "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        vmap.count()        # materialize the dictionary once ...
        tagged.unpersist()  # ... then drop the tagged oid cache
        # map through unambiguous temp names: renaming vmap's id onto
        # src/dst directly breaks when the input's string columns are
        # ALREADY named src/dst (the defaults!) — the rename creates
        # duplicate column names and the final select raises
        # AMBIGUOUS_REFERENCE
        e = (
            edges.join(
                vmap.select(
                    F.col("oid").alias(src_col),
                    F.col("id").alias("_src_id"),
                ),
                src_col,
            )
            .join(
                vmap.select(
                    F.col("oid").alias(dst_col),
                    F.col("id").alias("_dst_id"),
                ),
                dst_col,
            )
            .select(
                F.col("_src_id").alias("src"),
                F.col("_dst_id").alias("dst"),
                *[c for c in edges.columns if c not in (src_col, dst_col)],
            )
        )
        g = cls.from_edges(e, directed=directed,
                           vertices=vmap.select("id"),
                           num_partitions=num_partitions)
        return g, vmap

    # ------------------------------------------------- direction views
    def symmetrized_edges(self, dedup: bool = True) -> DataFrame:
        """Both-direction edge set (TO_UNDIRECTED view, reference
        ``grape_instance.cc:1389-1410``): union of (src,dst) and
        (dst,src), self-loops removed, optionally de-duplicated.
        """
        cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        fwd = self.edges.select("src", "dst", *cols)
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *cols
        )
        e = fwd.unionByName(rev).where(F.col("src") != F.col("dst"))
        if dedup:
            e = e.dropDuplicates(["src", "dst"])
        return e

    def reversed_edges(self) -> DataFrame:
        cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        return self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *cols
        )

    def undirected(self) -> "Graph":
        g = Graph.from_edges(
            self.symmetrized_edges(), directed=False,
            vertices=self.vertices, num_partitions=self.num_partitions,
        )
        g.edges_symmetric = True
        return g

    # --------------------------------------------------------- degrees
    def out_degrees(self) -> DataFrame:
        """``(id, out_degree)`` — vertices with no out-edges included
        with degree 0 (needed for PageRank dangling handling,
        reference ``apps/pagerank/pagerank_networkx.h:62-87``)."""
        d = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("out_degree")
        )
        return (
            self.vertices.select("id")
            .join(d, "id", "left")
            .select("id", F.coalesce("out_degree", F.lit(0)).alias("out_degree"))
        )

    def in_degrees(self) -> DataFrame:
        d = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("in_degree")
        )
        return (
            self.vertices.select("id")
            .join(d, "id", "left")
            .select("id", F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
        )

    def degrees(self, symmetrized: bool = True) -> DataFrame:
        """Undirected degree ``(id, degree)`` over the symmetrized
        simple edge set (what triangle orientation needs,
        ``apps/clustering/triangles.h:49-53``)."""
        e = self.symmetrized_edges() if symmetrized else self.edges
        d = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        return (
            self.vertices.select("id")
            .join(d, "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).alias("degree"))
        )

    def dangling(self) -> DataFrame:
        """``(id, dangling boolean)``: whether a vertex has no out-edges
        (no edges at all on an undirected graph) — PageRank's dangling
        set.  Persisted and cached on the graph like ``adjacency`` (and
        partitioned by ``id`` when ``num_partitions`` is set), so
        repeated rank calls skip the degree shuffle; ``unpersist``
        releases it."""
        key = ("dangling",)
        if key not in self._cache:
            if self.directed:
                deg = self.out_degrees().withColumnRenamed("out_degree", "d")
            else:
                deg = self.degrees().withColumnRenamed("degree", "d")
            flags = deg.select("id", (F.col("d") == 0).alias("dangling"))
            if self.num_partitions:
                flags = flags.repartition(self.num_partitions, "id")
            self._cache[key] = flags.persist(StorageLevel.MEMORY_AND_DISK)
        return self._cache[key]

    # ------------------------------------------------------- adjacency
    #: auto-salt trigger: if any vertex's degree exceeds this, the
    #: collect_list build routes hub keys through the two-phase salted
    #: aggregation without the caller having to know about skew.
    AUTO_SALT_DEGREE = 2_000_000

    def adjacency(
        self,
        direction: str = "out",
        cache: bool = True,
        sort_lists: bool = False,
        salt_threshold: int | None | str = "auto",
        salt_buckets: int = 16,
    ) -> DataFrame:
        """CSR-like adjacency: ``(src, dst_list array<long>, degree int)``.

        The DataFrame analog of the reference's per-fragment CSR
        (``arrow_projected_fragment.h:857-931``): one row per vertex
        that has edges, partitioned by ``src`` so the per-superstep
        state join is co-located.  ``direction``:

        - ``out``  — out-neighbors of directed edges (kOnlyOut load)
        - ``in``   — in-neighbors (pull-style PageRank on digraphs)
        - ``both`` — symmetrized neighbors (kBothOutIn load)

        ``salt_threshold``: hub-skew guard for the build itself —
        ``collect_list`` has no map-side combine, so one reducer task
        sees ALL edges of a hub vertex; at web scale a 100M-degree hub
        stalls the stage.  Keys with degree above the threshold are
        aggregated through the two-phase salted path
        (``plans.skew.salted_collect_list``); everything else stays on
        the single-shuffle fast path.  The default ``"auto"`` measures
        the max degree with one map-combined aggregation and engages
        salting only above ``AUTO_SALT_DEGREE`` — no hand-tuned knob.
        """
        key = ("adj", direction, sort_lists, salt_threshold, salt_buckets)
        if key in self._cache:
            return self._cache[key]
        if direction == "out":
            e = self.edges
        elif direction == "in":
            e = self.reversed_edges()
        elif direction == "both":
            e = self.symmetrized_edges()
        else:
            raise ValueError(f"bad direction {direction!r}")
        if salt_threshold == "auto":
            maxdeg = (
                e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
                .agg(F.max("d")).collect()[0][0]
            ) or 0
            salt_threshold = (
                self.AUTO_SALT_DEGREE if maxdeg > self.AUTO_SALT_DEGREE
                else None
            )
        dst_list = F.collect_list("dst")
        if sort_lists:
            dst_list = F.sort_array(dst_list)
        if salt_threshold is not None:
            from graphscope_spark.plans.skew import (
                salted_collect_list,
                top_hub_keys,
            )

            hubs = top_hub_keys(e, "src", salt_threshold)
            e_hub = e.join(F.broadcast(hubs), "src", "left_semi")
            e_rest = e.join(F.broadcast(hubs), "src", "left_anti")
            hub_adj = salted_collect_list(
                e_hub.select("src", "dst"), "src", "dst",
                buckets=salt_buckets, out="dst_list",
            ).select(
                "src",
                (F.sort_array("dst_list") if sort_lists
                 else F.col("dst_list")).alias("dst_list"),
                F.size("dst_list").cast("int").alias("degree"),
            )
            rest_adj = e_rest.groupBy("src").agg(
                dst_list.alias("dst_list"),
                F.count(F.lit(1)).cast("int").alias("degree"),
            )
            adj = rest_adj.unionByName(hub_adj)
        else:
            adj = e.groupBy("src").agg(
                dst_list.alias("dst_list"),
                F.count(F.lit(1)).cast("int").alias("degree"),
            )
        if self.num_partitions:
            adj = adj.repartition(self.num_partitions, "src")
        if cache:
            adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
            self._cache[key] = adj
        return adj

    # ----------------------------------------------------- graph ops
    def induce_subgraph(self, vertex_ids: DataFrame) -> "Graph":
        """Vertex-induced subgraph via two semi-joins
        (INDUCE_SUBGRAPH, reference ``grape_instance.cc:1411-1421``)."""
        vs = vertex_ids.select(F.col(vertex_ids.columns[0]).alias("id"))
        e = (
            self.edges.join(vs.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(vs.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        v = self.vertices.join(vs, "id", "left_semi")
        return Graph.from_edges(e, directed=self.directed, vertices=v,
                                num_partitions=self.num_partitions)

    def add_labels(
        self,
        vertices: DataFrame | None = None,
        edges: DataFrame | None = None,
    ) -> "Graph":
        """ADD_LABELS (reference ``core/grape_instance.cc:1453-1457``):
        append additional labeled vertex/edge tables to the graph.
        Property columns that exist on only one side are kept and
        null-filled on the other (``allowMissingColumns``), matching
        the property-graph union of label schemas."""
        v = self.vertices
        if vertices is not None:
            v = v.unionByName(vertices, allowMissingColumns=True)
        e = self.edges
        if edges is not None:
            e = e.unionByName(edges, allowMissingColumns=True)
        return Graph.from_edges(
            e, directed=self.directed, vertices=v,
            num_partitions=self.num_partitions,
        )

    def consolidate_columns(
        self, columns: list[str], out: str = "consolidated"
    ) -> DataFrame:
        """Pack several vertex property columns into one array column
        (CONSOLIDATE_COLUMNS, reference ``core/grape_instance.cc:
        1458-1462``): returns the vertex table with ``out`` =
        array(columns), originals dropped."""
        packed = F.array(*[F.col(c).cast("double") for c in columns])
        keep = [c for c in self.vertices.columns if c not in columns]
        return self.vertices.select(*keep, packed.alias(out))

    def add_column(self, result: DataFrame, on: str = "id") -> DataFrame:
        """Join an app result back onto the vertex table (ADD_COLUMN,
        reference ``grape_instance.cc:1493-1497``, python
        ``framework/graph.py:772-801``)."""
        return self.vertices.join(result, on, "left")

    def report(self) -> dict:
        """REPORT_GRAPH (reference ``core/fragment/fragment_reporter.h``)."""
        return {
            "num_vertices": self.vertices.count(),
            "num_edges": self.edges.count(),
            "directed": self.directed,
            "edge_schema": self.edges.schema.simpleString(),
        }

    def unpersist(self) -> None:
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()


def spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession
