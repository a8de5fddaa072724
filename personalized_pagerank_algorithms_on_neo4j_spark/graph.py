"""Property-graph data model: Spark DataFrames + an optional driver-local CSR view.

The reference loads the whole graph once into in-memory ragged adjacency arrays
(`HeavyGraph`, reference PPR.java:136-152) and runs every algorithm against that
snapshot. The Spark-native equivalent is a pair of cached DataFrames
(`nodes(id, name)`, `edges(src, dst)`) plus derived cached tables:

- ``degrees(node, out_degree, in_degree)``  — groupBy counts, outer-joined to nodes
- ``edges_deg(src, dst, src_out_degree)``   — edges enriched with the source's
  out-degree (every push/walk weights by 1/out(src)); hash-partitioned by the
  join key and persisted so each superstep's join only shuffles the (small)
  state side, never the edge table.
- ``adj(node, neighbors, out_degree)``      — array adjacency, the columnar
  analogue of HeavyGraph's ragged arrays: the counted-walk superstep
  (operators/monte_carlo.py) joins it onto its walk rows and picks neighbors
  by position with hashed (step, start, cur) draws, not ``rand()``, so walks
  do not depend on the partition layout.

``LocalGraph`` is the driver-side CSR snapshot used when the graph fits on the
driver (config.LOCAL_EDGE_THRESHOLD edges, analogous to a broadcast-join
cutoff): vectorized numpy kernels then replace the per-superstep Spark jobs,
which is the right physical plan for sub-1e7-edge graphs exactly the way
broadcast beats shuffle for sub-10MB tables. Both paths implement identical
semantics and are cross-checked in tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import LOCAL_EDGE_THRESHOLD


@dataclass
class LocalGraph:
    """Driver-local CSR snapshot (dense ids are positions in ``ids``)."""

    ids: np.ndarray  # sorted original node ids (int64); dense id = index
    indptr: np.ndarray  # CSR out-adjacency
    indices: np.ndarray
    rindptr: np.ndarray  # CSR in-adjacency
    rindices: np.ndarray
    out_deg: np.ndarray
    in_deg: np.ndarray
    edge_src: np.ndarray  # COO (dense) — used by the synchronous kernels
    edge_dst: np.ndarray

    @property
    def n(self) -> int:
        return len(self.ids)

    @property
    def m(self) -> int:
        return len(self.edge_src)

    @classmethod
    def from_coo(cls, ids: np.ndarray, src: np.ndarray, dst: np.ndarray) -> LocalGraph:
        """CSR snapshot of the dense edge list ``src -> dst`` over sorted
        ``ids``."""
        n = len(ids)
        out_deg = np.bincount(src, minlength=n).astype(np.int64)
        in_deg = np.bincount(dst, minlength=n).astype(np.int64)
        return cls(
            ids=ids,
            indptr=np.concatenate(([0], np.cumsum(out_deg))),
            indices=dst[np.argsort(src, kind="stable")],
            rindptr=np.concatenate(([0], np.cumsum(in_deg))),
            rindices=src[np.argsort(dst, kind="stable")],
            out_deg=out_deg,
            in_deg=in_deg,
            edge_src=src,
            edge_dst=dst,
        )

    def dense(self, orig_id: int) -> int:
        pos = int(np.searchsorted(self.ids, orig_id))
        if pos >= len(self.ids) or self.ids[pos] != orig_id:
            raise KeyError(f"node id {orig_id} not in graph")
        return pos


class PropertyGraph:
    """nodes(id: long, name: string) + edges(src: long, dst: long).

    ``nodes_cover_edges``: loaders that GUARANTEE by construction that every
    edge endpoint appears in the nodes table (csv_graph maps endpoints
    through inner joins on the id map; tpch_graph derives them from the node
    tables' own keys) may pass True, letting `dangling_nodes` skip an O(m)
    union-distinct over edge destinations. Default False stays safe for
    arbitrary caller-supplied tables — an uncovered dst that accumulates
    push residue would otherwise silently leak probability mass."""

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        nodes_cover_edges: bool = False,
    ):
        self.spark = spark
        self.nodes_cover_edges = nodes_cover_edges
        self.nodes = nodes.select(
            F.col("id").cast("long").alias("id"), F.col("name").cast("string").alias("name")
        ).cache()
        self.edges = edges.select(
            F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
        ).cache()

    # ---- stats ----------------------------------------------------------
    @cached_property
    def n(self) -> int:
        return self.nodes.count()

    @cached_property
    def m(self) -> int:
        return self.edges.count()

    def stats(self) -> dict[str, int]:
        return {"nodes": self.n, "edges": self.m}

    def warm(self) -> dict[str, int]:
        """Materialize the nodes/edges/degrees caches and derive n and m in
        ONE Spark action.

        The degrees build already scans every edge and every node; when the
        loader guarantees endpoint coverage (``nodes_cover_edges``) the same
        aggregate yields both counts — ``n`` = degrees row count (degrees is
        built FROM the nodes table, one row per node) and ``m`` =
        sum(out_degree) (every edge's src is a node). Replaces the three
        separate jobs (nodes.count, edges.count, degrees.count) the naive
        load sequence pays; the reference similarly derives nodeCount/
        relationshipCount from the one-shot HeavyGraph load (PPR.java:136-152)
        rather than separate store scans.
        """
        if self.nodes_cover_edges:
            row = self.degrees.agg(
                F.count(F.lit(1)).alias("n"), F.sum("out_degree").alias("m")
            ).first()
            self.__dict__["n"] = int(row["n"])
            self.__dict__["m"] = int(row["m"] or 0)
        else:
            # uncovered dst ids may carry in-degree rows absent from nodes;
            # fall back to exact per-table counts (still materializes caches)
            self.degrees.count()
            self.stats()
        return self.stats()

    # ---- derived tables --------------------------------------------------
    @cached_property
    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    @cached_property
    def degrees(self) -> DataFrame:
        """(node, out_degree, in_degree) for every node; missing => 0.

        Both directions in ONE shuffle: each edge contributes an
        (endpoint, out, in) increment pair, map-side partial aggregation
        collapses them to <= 2n rows before the exchange — half the shuffle
        barriers of separate out/in groupBys followed by a 3-way join."""
        both = (
            self.edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("src").alias("node"),
                            F.lit(1).alias("o"),
                            F.lit(0).alias("i"),
                        ),
                        F.struct(
                            F.col("dst").alias("node"),
                            F.lit(0).alias("o"),
                            F.lit(1).alias("i"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.*")
            .groupBy("node")
            .agg(F.sum("o").alias("od"), F.sum("i").alias("id_"))
        )
        deg = (
            self.nodes.select(F.col("id").alias("node"))
            .join(both, "node", "left")
            .select(
                "node",
                F.coalesce("od", F.lit(0)).cast("long").alias("out_degree"),
                F.coalesce("id_", F.lit(0)).cast("long").alias("in_degree"),
            )
        ).cache()
        return deg

    @cached_property
    def edges_deg(self) -> DataFrame:
        """(src, dst, src_out_degree), partitioned by src and persisted.

        Every forward push / walk step joins state.node == edges.src; keeping
        the big side pre-partitioned on the join key means only the state side
        shuffles per superstep.
        """
        shuffle_n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        e = (
            self.edges.join(
                self.out_degrees.withColumnRenamed("node", "src"), "src"
            )
            .select("src", "dst", F.col("out_degree").alias("src_out_degree"))
            .repartition(shuffle_n, "src")
        ).cache()
        return e

    @cached_property
    def dangling_nodes(self) -> DataFrame:
        """(node) — nodes with no out-edges (sinks).

        Built from nodes UNION edge destinations, not the nodes table alone:
        a dst id missing from `nodes` can still accumulate residue in a push
        superstep, and without a virtual edge in `edges_push` its mass would
        silently leak (zeroed by the kept branch, never pushed). The
        union-distinct is one m-row shuffle, once per graph, cached — and
        skipped entirely when the loader guarantees endpoint coverage
        (``nodes_cover_edges``)."""
        ids = self.nodes.select(F.col("id").alias("node"))
        if not self.nodes_cover_edges:
            ids = ids.unionByName(
                self.edges.select(F.col("dst").alias("node"))
            ).distinct()
        return ids.join(self.out_degrees, "node", "left_anti").cache()

    @cached_property
    def edges_push(self) -> DataFrame:
        """``edges_deg`` plus one virtual edge (v, -1, degree 1) per dangling
        node, partitioned by src and persisted.

        The PPR dangling rule (out-degree-0 nodes return (1-alpha)*r to the
        *source*, Power_Method.java:79-87) becomes structural: a dangling
        node's push traverses its virtual edge, which the power method's
        per-query projection (operators/power_method.source_set_edges)
        points at the query's source set. The superstep loop then needs
        neither a per-node out-degree join nor a per-superstep global
        aggregation over the (usually empty) dangling branch — two fewer
        exchanges per superstep, which at 1000-executor scale is two fewer
        shuffle barriers per iteration. Size cost: at most one extra row per
        sink node (<= n on top of m), cached once per graph and shared by
        every query.
        """
        shuffle_n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        virt = self.dangling_nodes.select(
            F.col("node").alias("src"),
            F.lit(-1).cast("long").alias("dst"),
            F.lit(1).cast("long").alias("src_out_degree"),
        )
        return (
            self.edges_deg.unionByName(virt).repartition(shuffle_n, "src").cache()
        )

    @cached_property
    def edges_by_dst(self) -> DataFrame:
        """Same enriched edges partitioned by dst — the backward-push join key."""
        shuffle_n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return self.edges_deg.repartition(shuffle_n, "dst").cache()

    @cached_property
    def adj(self) -> DataFrame:
        """(node, neighbors: array<long>, out_degree) — random-walk adjacency."""
        return (
            self.edges.groupBy(F.col("src").alias("node"))
            .agg(F.collect_list("dst").alias("neighbors"))
            .select("node", "neighbors", F.size("neighbors").alias("out_degree"))
        ).cache()

    # ---- name resolution (P1: broadcast join against nodes) ---------------
    def id_of(self, name: str) -> int:
        rows = self.nodes.where(F.col("name") == name).select("id").take(2)
        if not rows:
            raise KeyError(f"no node named {name!r}")
        return rows[0][0]

    def with_names(self, df: DataFrame, node_col: str = "node") -> DataFrame:
        """Attach node names via a broadcast hash join (reference Algo_Util.java:21-30)."""
        return df.join(
            F.broadcast(self.nodes.select(F.col("id").alias(node_col), "name")),
            node_col,
            "left",
        )

    # ---- graph analytics (the GDS-style verbs a Neo4j user expects) -------
    # Thin delegations: the implementations (and their DuckDB oracles and
    # tests) live in operators/ and functions/graphstats; these just make
    # `g.bfs("Eddard")` work the way `eng.ppr("Eddard")` does.

    def _resolve(self, node: int | str) -> int:
        return self.id_of(node) if isinstance(node, str) else int(node)

    def bfs(self, source: int | str, max_hops: int = 20) -> DataFrame:
        from .operators.bfs import bfs_distances

        return bfs_distances(self, self._resolve(source), max_hops=max_hops)

    def hits(self, iterations: int = 10) -> DataFrame:
        from .operators.hits import hits as _hits

        return _hits(self, iterations=iterations)

    def triangle_counts(self) -> DataFrame:
        from .functions.graphstats import triangle_counts as _tri

        return _tri(self.edges)

    def node_similarity(
        self, threshold: float = 0.2, hub_cap: int | None = 1_000
    ) -> DataFrame:
        from .functions.graphstats import node_similarity as _sim

        return _sim(self.edges, threshold=threshold, hub_cap=hub_cap)

    def k_core(self, k: int = 3, max_rounds: int | None = None) -> DataFrame:
        from .functions.graphstats import k_core as _kcore

        return _kcore(self.edges, k=k, max_rounds=max_rounds)

    def clustering_coefficient(self) -> DataFrame:
        from .functions.graphstats import clustering_coefficient as _cc

        return _cc(self.edges)

    def adamic_adar(
        self, threshold: float = 0.0, hub_cap: int | None = 1_000
    ) -> DataFrame:
        from .functions.graphstats import adamic_adar as _aa

        return _aa(self.edges, threshold=threshold, hub_cap=hub_cap)

    def pagerank(
        self, iterations: int = 10, alpha: float | None = None, mode: str = "auto"
    ) -> DataFrame:
        """Whole-graph (non-personalized) PageRank — the gds.pageRank verb;
        see operators/pagerank.pagerank_global."""
        from .config import DEFAULT_ALPHA
        from .operators.pagerank import pagerank_global

        return pagerank_global(
            self,
            iterations=iterations,
            alpha=DEFAULT_ALPHA if alpha is None else alpha,
            mode=mode,
        )

    def label_propagation(self, rounds: int = 5) -> DataFrame:
        """(node, label) synchronous plurality label propagation
        (operators/lpa.label_propagation — the gds.labelPropagation
        community verb)."""
        from .operators.lpa import label_propagation

        return label_propagation(self, rounds=rounds)

    def connected_components(self, max_iters: int = 30) -> DataFrame:
        """(node, component) over nodes with at least one edge; component
        id = smallest node id in the component (min-label propagation —
        functions/dedup.dedup_clusters on the edge list)."""
        from .functions.dedup import dedup_clusters

        pairs = self.edges.select(
            F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
        )
        out = dedup_clusters(pairs, max_iters=max_iters, strict=True)
        return out.select(
            F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
        )

    # ---- driver-local snapshot --------------------------------------------
    def fits_local(self) -> bool:
        return self.m <= LOCAL_EDGE_THRESHOLD

    def resolve_mode(self, mode: str) -> str:
        """An operator's ``mode`` argument as the strategy to run: "auto"
        picks "local" below the driver-local cutoff, else "distributed"."""
        if mode == "auto":
            return "local" if self.fits_local() else "distributed"
        if mode not in ("local", "distributed"):
            raise ValueError(
                f"mode must be 'auto', 'local' or 'distributed', got {mode!r}"
            )
        return mode

    @cached_property
    def local(self) -> LocalGraph:
        node_ids = np.sort(
            self.nodes.select("id").toPandas()["id"].to_numpy(dtype=np.int64),
            kind="stable",
        )
        epd = self.edges.toPandas()
        src_orig = epd["src"].to_numpy(dtype=np.int64)
        dst_orig = epd["dst"].to_numpy(dtype=np.int64)
        src = np.searchsorted(node_ids, src_orig).astype(np.int64)
        dst = np.searchsorted(node_ids, dst_orig).astype(np.int64)
        n = len(node_ids)
        # searchsorted returns insertion points — an edge endpoint missing
        # from the nodes table would silently alias a neighboring id
        src_bad = (src >= n) | (node_ids[np.minimum(src, n - 1)] != src_orig)
        dst_bad = (dst >= n) | (node_ids[np.minimum(dst, n - 1)] != dst_orig)
        if src_bad.any() or dst_bad.any():
            missing = set(src_orig[src_bad][:5]) | set(dst_orig[dst_bad][:5])
            raise ValueError(
                f"edges reference node ids absent from nodes table: {sorted(missing)!r}..."
            )

        return LocalGraph.from_coo(node_ids, src, dst)

    @cached_property
    def local_broadcast(self):
        """Spark broadcast of the CSR snapshot — pickled ONCE per graph.

        Executor-side vectorized kernels (`_base_all_local`'s per-target
        reverse pushes) read it; caching avoids re-serializing ~tens of MB
        per operator call. Only valid on the local-cutoff path (same size
        regime as a broadcast join side)."""
        return self.spark.sparkContext.broadcast(self.local)
