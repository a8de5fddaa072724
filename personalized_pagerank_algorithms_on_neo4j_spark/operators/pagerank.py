"""Classic personalized PageRank comparator (I8) and the whole-graph
PageRanks in Neo4j's convention.

Reference: Neo4j_Method.java:66-98 runs Neo4j's built-in PageRank with
damping = 1 - alpha (inverted convention), the source node as the only
restart target, a fixed iteration count, then sum-normalizes the scores.
That algorithm drops dangling mass instead of returning it to the source, so
it does *not* tightly match the Power-Method oracle — the reference observes
exactly that (dissertation section 5.3); this comparator reproduces the
convention, not the oracle.

rank_{i+1}(v) = (1-d)*[v = s] + d * sum_{u->v} rank_i(u)/out(u), d = 1-alpha,
followed by rank / sum(rank).

It is the power method's recurrence with another restart vector and with
dangling mass dropped, so both backends are shared: the local kernel is
`_kernels.pagerank` (rank form, start and restart vectors passed in), and
every distributed loop here — the comparator, `pagerank_global`,
`article_rank` and `pagerank_weighted` — is `power_method.propagate` over
`graph.edges_deg` (or a weighted edge table), where a dangling node has no
edge to push along. `pagerank_snapshots` keeps its own (snap, node)-keyed
loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, LOCAL_EDGE_THRESHOLD
from ..graph import PropertyGraph
from ..plans.iterative import (
    BROADCAST_NODE_BOUND,
    SuperstepLoop,
    loop_shuffle_partitions,
    static_superstep_plan,
)
from . import _kernels
from ._result import ppr_result_from_dense
from .power_method import propagate, source_restart


def personalized_pagerank(
    graph: PropertyGraph,
    source: int,
    iterations: int = 100,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
) -> DataFrame:
    d = 1.0 - alpha
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        start = np.zeros(lg.n)
        start[lg.dense(source)] = 1.0
        rank = _kernels.pagerank(lg, start, (1.0 - d) * start, alpha, iterations)
        total = rank.sum()
        return ppr_result_from_dense(graph, rank / total if total > 0 else rank)
    restart = source_restart(graph, [int(source)], 1.0 - d)
    scores = propagate(
        edges=graph.edges_deg,
        contrib=F.lit(d) * F.col("rank") / F.col("src_out_degree"),
        restart=restart,
        n=graph.n,
        iterations=iterations,
        rank0=restart.select("node", F.lit(1.0).alias("rank")),
    )
    # P4 sum-normalization (Neo4j_Method.java:80-98): ONE scalar aggregate
    # broadcast back over the vector — never a window over (), which
    # WindowExec executes in a single partition (the whole O(n) rank
    # vector through one task at scale). Checkpoint first: the frame is
    # read twice (scalar aggregate + the join branch).
    pos = scores.where(F.col("score") > 0).localCheckpoint(eager=True)
    total = pos.agg(F.sum("score").alias("_t"))
    return pos.crossJoin(F.broadcast(total)).select(
        "node", (F.col("score") / F.col("_t")).alias("ppr")
    )


def pagerank_global(
    graph: PropertyGraph,
    iterations: int = 10,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
) -> DataFrame:
    """Whole-graph (non-personalized) PageRank: uniform 1/n start and
    restart, damping d = 1-alpha, dangling mass dropped, fixed iterations,
    raw (unnormalized) scores — the gds.pageRank default a Neo4j user runs
    before any personalization (Neo4j_Method.java:66-98 minus sourceNodes).
    Returns DataFrame(node, score) with one row per node (every node holds
    at least the restart mass).

    Distributed shape: the rank vector is O(n) state shuffled on `node`
    each superstep against the cached pre-partitioned edge table; the
    restart vector is derived once from the node table and checkpointed.
    """
    d = 1.0 - alpha
    if graph.resolve_mode(mode) == "local":
        import pandas as pd

        lg = graph.local
        r = _kernels.pagerank(
            lg, np.full(lg.n, 1.0 / lg.n), np.full(lg.n, (1.0 - d) / lg.n), alpha, iterations
        )
        pdf = pd.DataFrame({"node": lg.ids, "score": r})
        return graph.spark.createDataFrame(pdf, schema="node long, score double")
    return propagate(
        edges=graph.edges_deg,
        contrib=F.lit(d) * F.col("rank") / F.col("src_out_degree"),
        restart=_uniform_restart_vector(graph, d),
        n=graph.n,
        iterations=iterations,
    )


def _uniform_restart_vector(graph: PropertyGraph, d: float) -> DataFrame:
    """Checkpointed (node, (1-d)/n) restart vector over every node —
    read by every superstep of the uniform-restart loops
    (`pagerank_global`, `article_rank`); derived once."""
    return graph.nodes.select(
        F.col("id").alias("node"),
        F.lit((1.0 - d) / graph.n).alias("rank"),
    ).localCheckpoint(eager=True)


def article_rank(
    graph: PropertyGraph,
    iterations: int = 10,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """ArticleRank (gds.articleRank): the PageRank variant that dampens the
    influence of low-out-degree sources by dividing each contribution by
    ``out(u) + avg_out`` instead of ``out(u)`` —

        rank_{i+1}(v) = (1-d)/n + d * sum_{u->v} rank_i(u) / (out(u) + avg),
        avg = m / n,

    with the same conventions as `pagerank_global` (uniform 1/n start,
    damping d = 1-alpha, dangling mass dropped, fixed iterations, raw
    scores).  The centrality verb sits beside gds.pageRank in the
    reference's host-platform catalogue; same Neo4j_Method.java:66-98
    execution shape, different contribution denominator.

    Cross-engine exactness: ``avg`` is one correctly-rounded IEEE division
    of the exact integer pair (m, n) — bit-identical in Spark and DuckDB —
    and every per-edge term is a scalar expression over it, so the unrolled
    oracle replays the recurrence exactly (ROUND(_, 9) on final values).

    Scale shape: identical to `pagerank_global` — the O(n) rank vector is
    the only per-superstep shuffle against the cached pre-partitioned edge
    table (`power_method.propagate`'s discipline)."""
    d = 1.0 - alpha
    avg_out = graph.m / graph.n  # exact ints -> one IEEE division, portable
    # Driver-local kernel under the LocalGraph cutoff (the pagerank_global
    # idiom one function up): the same recurrence on a dense vector, the
    # identical per-edge float expression (d*rank)/(od+avg); only the
    # bincount summation ORDER differs from the hash aggregate, the drift
    # class the unrolled oracle already tolerates under ROUND(_, 9).
    if graph.fits_local():
        import pandas as pd

        lg = graph.local
        r_val = (1.0 - d) / graph.n
        denom = lg.out_deg[lg.edge_src] + avg_out
        rank = np.full(lg.n, 1.0 / graph.n)
        for _ in range(iterations):
            rank = (
                np.bincount(
                    lg.edge_dst,
                    weights=(d * rank[lg.edge_src]) / denom,
                    minlength=lg.n,
                )
                + r_val
            )
        return graph.spark.createDataFrame(
            pd.DataFrame({"node": lg.ids, "score": rank}),
            "node long, score double",
        )
    return propagate(
        edges=graph.edges_deg,
        contrib=F.lit(d)
        * F.col("rank")
        / (F.col("src_out_degree") + F.lit(avg_out)),
        restart=_uniform_restart_vector(graph, d),
        n=graph.n,
        iterations=iterations,
    )


def article_rank_oracle_sql(
    edges_sql: str,
    nodes_sql: str,
    iterations: int = 10,
    alpha: float = DEFAULT_ALPHA,
) -> str:
    """DuckDB twin of `article_rank` over any (src, dst) edge SQL and
    (id, ...) node SQL: the identical unrolled recurrence with
    avg = COUNT(edges)::DOUBLE / COUNT(nodes)::DOUBLE."""
    d = 1.0 - alpha
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        "dg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src)",
        """ew AS MATERIALIZED (
  SELECT e.src, e.dst, dg.od FROM e JOIN dg ON e.src = dg.src)""",
        f"nod AS MATERIALIZED (SELECT id FROM ({nodes_sql}))",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nod)",
        """av AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM e)
  / (SELECT n FROM nn) AS a)""",
        """ar0 AS MATERIALIZED (
  SELECT id AS node, 1.0 / (SELECT n FROM nn) AS rank FROM nod)""",
    ]
    for i in range(iterations):
        ctes.append(
            f"""ar{i + 1} AS MATERIALIZED (
  SELECT node, SUM(rank) AS rank FROM (
    SELECT ew.dst AS node,
           {d} * t.rank / (ew.od + (SELECT a FROM av)) AS rank
    FROM ar{i} t JOIN ew ON t.node = ew.src
    UNION ALL
    SELECT id AS node, {alpha} / (SELECT n FROM nn) AS rank FROM nod
  ) u GROUP BY node)"""
        )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT node, ROUND(rank, 9) AS score FROM ar{iterations}
"""


def pagerank_snapshots(
    edges_t: DataFrame,
    nodes: DataFrame,
    iterations: int = 6,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """(snap, node, score): whole-graph PageRank over T graph SNAPSHOTS —
    ``edges_t`` is (snap, src, dst) — batched through ONE superstep loop
    with (snap, node)-keyed state, the same batching design win as the
    multi-landmark SSSP (operators/sssp.sssp_weighted_multi): running T
    snapshots singly costs T driver round-trips per iteration and T
    separate shuffled jobs; the composite key turns the time dimension
    into ordinary parallelism, so the loop's job count is independent of
    how many snapshots you analyze.  Same conventions per snapshot as
    `pagerank_global` over the SHARED node set ``nodes`` (uniform 1/n
    start, restart mass alpha/n on every node, damping d = 1-alpha,
    dangling mass dropped, raw scores) — the temporal-trend analytic: how centrality
    moved between snapshots.

    Scale shape: the O(T*n) state shuffles on (snap, node) each superstep
    against the checkpointed (snap)-sliced edge table; the restart frame
    derives once; broadcast gating scales by T*n (per the
    payload-scaled-gate rule), so a wide time range degrades gracefully to
    the shuffled path."""
    spark = edges_t.sparkSession
    edges_t = edges_t.localCheckpoint(eager=True)  # degrees + every superstep
    snaps = edges_t.select("snap").distinct()
    n = nodes.count()
    t_count = snaps.count()
    d = 1.0 - alpha
    # Driver-local kernel under the edge cutoff: the (snap, node)-keyed
    # recurrence as a dense (T x n) matrix — one bincount per iteration
    # replaces the T-batched join + union + aggregate + checkpoint jobs
    # (and, gated BEFORE the degree join below, skips that whole derived
    # checkpoint — the kernel recomputes the same integer out-degrees
    # from its collected edge list).  Falls through to the distributed
    # loop when the dense state would outgrow the driver bound.
    if edges_t.count() <= LOCAL_EDGE_THRESHOLD:
        local = _pagerank_snapshots_local(
            spark, edges_t, nodes, t_count, n, d, alpha, iterations
        )
        if local is not None:
            return local
    deg_t = edges_t.groupBy("snap", "src").agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    et = edges_t.join(deg_t, ["snap", "src"]).localCheckpoint(eager=True)
    restart = (
        snaps.crossJoin(nodes.select(F.col("id").alias("node")))
        .select("snap", "node", F.lit((1.0 - d) / n).alias("rank"))
        .localCheckpoint(eager=True)
    )
    rank = restart.select("snap", "node", F.lit(1.0 / n).alias("rank"))
    loop = SuperstepLoop(checkpoint_every=4)
    small = t_count * n <= BROADCAST_NODE_BOUND
    loop_parts = loop_shuffle_partitions(spark, t_count * n) if small else None
    with static_superstep_plan(spark, shuffle_partitions=loop_parts):
        for _ in range(iterations):
            # name-keyed join: attribute conditions (rj.snap == et.snap)
            # trip Spark's ambiguous-self-join check once rank's lineage
            # includes et (non-checkpointed rounds)
            rs = rank.withColumnRenamed("node", "src")
            rj = F.broadcast(rs) if small else rs
            step = rj.join(et, ["snap", "src"]).select(
                "snap",
                F.col("dst").alias("node"),
                (F.lit(d) * F.col("rank") / F.col("out_deg")).alias("rank"),
            )
            rank = (
                step.unionAll(restart)
                .groupBy("snap", "node")
                .agg(F.sum("rank").alias("rank"))
            )
            rank = loop.materialize(rank)
    return rank.select("snap", "node", F.col("rank").alias("score"))


_SNAP_STATE_CELLS = 32_000_000  # T x n doubles, ~256 MB dense bound


def _pagerank_snapshots_local(
    spark,
    edges_t: DataFrame,
    nodes: DataFrame,
    t_count: int,
    n: int,
    d: float,
    alpha: float,
    iterations: int,
) -> DataFrame | None:
    """Dense (T x ids) replay of `pagerank_snapshots`.  Row semantics are
    faithful to the union-groupBy loop: restart keeps every (snap, node)
    row for nodes of the SHARED node table; an edge dst outside the node
    table holds a row exactly while it receives (strictly positive)
    contributions — dense mass > 0 reproduces that set."""
    import pandas as pd

    from .._nputil import unique_stable

    epd = edges_t.select("snap", "src", "dst").toPandas()
    sn_o = epd["snap"].to_numpy(dtype=np.int64)
    es_o = epd["src"].to_numpy(dtype=np.int64)
    ed_o = epd["dst"].to_numpy(dtype=np.int64)
    nd_o = (
        nodes.select(F.col("id").cast("long").alias("id"))
        .toPandas()["id"]
        .to_numpy(dtype=np.int64)
    )
    snaps = unique_stable(sn_o)
    ids = unique_stable(np.concatenate([nd_o, es_o, ed_o]))
    n_ids = len(ids)
    if t_count * n_ids > _SNAP_STATE_CELLS:
        return None
    k = np.searchsorted(snaps, sn_o)
    es = np.searchsorted(ids, es_o)
    ed = np.searchsorted(ids, ed_o)
    ni = np.searchsorted(ids, nd_o)
    # per-(snap, src) out-degree — same integer the groupBy count derives
    od_flat = np.bincount(k * n_ids + es, minlength=t_count * n_ids)
    od_e = od_flat[k * n_ids + es].astype(np.float64)
    is_node = np.zeros(n_ids, dtype=bool)
    is_node[ni] = True
    rank = np.zeros((t_count, n_ids))
    rank[:, is_node] = 1.0 / n
    r_val = (1.0 - d) / n
    flat_dst = k * n_ids + ed
    for _ in range(iterations):
        contrib = (d * rank[k, es]) / od_e
        rank = np.bincount(
            flat_dst, weights=contrib, minlength=t_count * n_ids
        ).reshape(t_count, n_ids)
        rank[:, is_node] += r_val
    keep = is_node[None, :] | (rank > 0.0)
    ki, vi = np.nonzero(keep)
    return spark.createDataFrame(
        pd.DataFrame(
            {"snap": snaps[ki], "node": ids[vi], "score": rank[keep]}
        ),
        "snap long, node long, score double",
    )


def pagerank_snapshots_oracle_sql(
    edges_t_sql: str,
    nodes_sql: str,
    iterations: int = 6,
    alpha: float = DEFAULT_ALPHA,
) -> str:
    """DuckDB twin of `pagerank_snapshots` over any (snap, src, dst) edge
    SQL and (id) node SQL — the unrolled recurrence with snap carried
    through every CTE."""
    d = 1.0 - alpha
    ctes = [
        f"ps_e AS MATERIALIZED ({edges_t_sql})",
        """ps_deg AS (
  SELECT snap, src, CAST(COUNT(*) AS BIGINT) AS out_deg
  FROM ps_e GROUP BY 1, 2)""",
        """ps_et AS MATERIALIZED (
  SELECT e.snap, e.src, e.dst, g.out_deg
  FROM ps_e e JOIN ps_deg g ON e.snap = g.snap AND e.src = g.src)""",
        f"ps_nd AS MATERIALIZED (SELECT id AS node FROM ({nodes_sql}))",
        "ps_nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ps_nd)",
        "ps_sn AS (SELECT DISTINCT snap FROM ps_e)",
        """ps_r0 AS MATERIALIZED (
  SELECT s.snap, d.node, 1.0 / (SELECT n FROM ps_nn) AS rank
  FROM ps_sn s CROSS JOIN ps_nd d)""",
    ]
    for i in range(iterations):
        ctes.append(
            f"""ps_r{i + 1} AS MATERIALIZED (
  SELECT snap, node, SUM(rank) AS rank FROM (
    SELECT e.snap, e.dst AS node, {d} * t.rank / e.out_deg AS rank
    FROM ps_r{i} t JOIN ps_et e ON t.snap = e.snap AND t.node = e.src
    UNION ALL
    SELECT s.snap, d.node, {alpha} / (SELECT n FROM ps_nn) AS rank
    FROM ps_sn s CROSS JOIN ps_nd d
  ) u GROUP BY 1, 2)"""
        )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT snap, node, ROUND(rank, 9) AS score FROM ps_r{iterations}
"""


def pagerank_weighted(
    edges_w: DataFrame,
    iterations: int = 10,
    alpha: float = DEFAULT_ALPHA,
    source: int | None = None,
) -> DataFrame:
    """Whole-graph PageRank over a WEIGHTED edge list (src, dst, weight) —
    the gds.pageRank relationshipWeightProperty shape: a node's rank
    splits over its out-edges proportionally to weight,
    rank_{i+1}(v) = (1-d)/n + d * sum_u rank_i(u) * w(u,v) / W(u),
    W(u) = sum of u's out-weights. Same conventions as `pagerank_global`
    (uniform 1/n start and restart, dangling mass dropped, fixed
    iterations, raw scores). Zero/negative weights are rejected — they
    would make W(u) meaningless.

    Scale shape: the weighted edge table with its precomputed W(u) is
    derived once and checkpointed; each superstep shuffles only the
    O(n) rank vector against it. Weight ratios are exact per-edge
    divisions, not accumulated floats, so the oracle CTE replays them
    identically."""
    # materialize the (possibly expensive, lazily derived) edge input ONCE:
    # validation, the out-weight marginal, the probability join, and both
    # node-union branches would otherwise each re-derive it from source
    edges_w = edges_w.localCheckpoint(eager=True)
    # explicit NULL arm: NOT(NULL > 0) is NULL, so a pure negation filter
    # would drop NULL-weight rows and let them silently vanish from the
    # recurrence (SUM skips their NULL contribution)
    bad = (
        edges_w.where(F.col("weight").isNull() | (F.col("weight") <= 0))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError("pagerank_weighted: weights must be positive (and non-null)")
    # Driver-local kernel under the edge cutoff (the article_rank idiom):
    # dense replay of the identical recurrence — per-edge (d*rank)*p with
    # p = weight/W(u) the same two IEEE ops, only aggregation ORDER
    # differing (the drift class the unrolled oracle tolerates under
    # ROUND(_, 9)).  The checkpoint above already materialized the edge
    # list, so the gate count and the collect are both cheap.
    if edges_w.count() <= LOCAL_EDGE_THRESHOLD:
        return _pagerank_weighted_local(
            edges_w.sparkSession, edges_w, iterations, alpha, source
        )
    w_tot = edges_w.groupBy("src").agg(F.sum("weight").alias("w_out"))
    ew = (
        edges_w.join(w_tot, "src")
        .select("src", "dst", (F.col("weight") / F.col("w_out")).alias("p"))
        .localCheckpoint(eager=True)  # read every superstep
    )
    nodes = (
        edges_w.select(F.col("src").alias("node"))
        .unionAll(edges_w.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    d = 1.0 - alpha
    spark = edges_w.sparkSession
    if source is None:
        restart = nodes.select("node", F.lit((1.0 - d) / n).alias("rank"))
        rank0 = None  # uniform 1/n derives from restart inside the loop
    else:
        # PERSONALIZED weighted variant (gds.pageRank sourceNodes +
        # relationshipWeightProperty together): all restart and start
        # mass on one node; unreachable nodes get no row
        restart = spark.createDataFrame(
            [(int(source), 1.0 - d)], "node long, rank double"
        ).localCheckpoint(eager=True)
        rank0 = spark.createDataFrame(
            [(int(source), 1.0)], "node long, rank double"
        )
    return propagate(
        edges=ew,
        contrib=F.lit(d) * F.col("rank") * F.col("p"),
        restart=restart,
        n=n,
        iterations=iterations,
        rank0=rank0,
    )


def _pagerank_weighted_local(
    spark,
    edges_w: DataFrame,
    iterations: int,
    alpha: float,
    source: int | None,
) -> DataFrame:
    """Dense numpy replay of `pagerank_weighted`'s recurrence.  Faithful
    row semantics: the uniform flavor's restart covers every incident
    node so every node keeps a row; the personalized flavor emits only
    nodes holding mass (contributions are strictly positive products, so
    mass > 0 is exactly the distributed loop's reachable ∪ {source} row
    set)."""
    import pandas as pd

    from .._nputil import group_by_key, unique_stable

    epd = edges_w.select("src", "dst", "weight").toPandas()
    es_o = epd["src"].to_numpy(dtype=np.int64)
    ed_o = epd["dst"].to_numpy(dtype=np.int64)
    w = epd["weight"].to_numpy(dtype=np.float64)
    parts = [es_o, ed_o]
    if source is not None:
        parts.append(np.asarray([int(source)], dtype=np.int64))
    ids = unique_stable(np.concatenate(parts))
    n_ids = len(ids)
    es = np.searchsorted(ids, es_o)
    ed = np.searchsorted(ids, ed_o)
    # W(u): per-src weight sums (one stable-sort groupby; summation order
    # differs from the hash aggregate — tolerated drift, see docstring)
    w_out = np.zeros(n_ids)
    order, starts, uniq = group_by_key(es)
    if len(uniq):
        w_out[uniq] = np.add.reduceat(w[order], starts)
    p = w / w_out[es]
    # n counts INCIDENT nodes only (the distributed node-union count),
    # never the appended personalization source
    n = len(unique_stable(np.concatenate([es_o, ed_o])))
    d = 1.0 - alpha
    rank = np.zeros(n_ids)
    restart = np.zeros(n_ids)
    if source is None:
        rank[:] = 1.0 / n
        restart[:] = (1.0 - d) / n
    else:
        s_idx = int(np.searchsorted(ids, int(source)))
        rank[s_idx] = 1.0
        restart[s_idx] = 1.0 - d
    for _ in range(iterations):
        rank = (
            np.bincount(ed, weights=(d * rank[es]) * p, minlength=n_ids)
            + restart
        )
    if source is None:
        keep = np.ones(n_ids, dtype=bool)
    else:
        keep = rank > 0.0
    return spark.createDataFrame(
        pd.DataFrame({"node": ids[keep], "score": rank[keep]}),
        "node long, score double",
    )


def pagerank_weighted_oracle_sql(
    edges_sql: str, iterations: int = 10, alpha: float = DEFAULT_ALPHA
) -> str:
    """DuckDB twin of `pagerank_weighted` over any (src, dst, weight) SQL."""
    d = 1.0 - alpha
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        """wt AS (SELECT src, SUM(weight) AS w_out FROM e GROUP BY src)""",
        """ew AS MATERIALIZED (
  SELECT e.src, e.dst, e.weight / wt.w_out AS p
  FROM e JOIN wt ON e.src = wt.src)""",
        """nd AS MATERIALIZED (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e))""",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nd)",
        """wr0 AS MATERIALIZED (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nd)""",
    ]
    for i in range(iterations):
        ctes.append(
            f"""wr{i + 1} AS MATERIALIZED (
  SELECT node, SUM(rank) AS rank FROM (
    SELECT ew.dst AS node, {d} * t.rank * ew.p AS rank
    FROM wr{i} t JOIN ew ON t.node = ew.src
    UNION ALL
    SELECT node, {alpha} / (SELECT n FROM nn) AS rank FROM nd
  ) u GROUP BY node)"""
        )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT node, ROUND(rank, 9) AS score FROM wr{iterations}
"""


def pagerank_weighted_personalized_oracle_sql(
    edges_sql: str,
    source_sql: str,
    iterations: int = 10,
    alpha: float = DEFAULT_ALPHA,
) -> str:
    """DuckDB twin of `pagerank_weighted(source=...)` over any
    (src, dst, weight) SQL: all restart and start mass on the single node
    produced by `source_sql` (a one-row, one-column SELECT); unreachable
    nodes get no row, matching the Spark side's score > 0 filter."""
    d = 1.0 - alpha
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        """wt AS (SELECT src, SUM(weight) AS w_out FROM e GROUP BY src)""",
        """ew AS MATERIALIZED (
  SELECT e.src, e.dst, e.weight / wt.w_out AS p
  FROM e JOIN wt ON e.src = wt.src)""",
        f"srcw AS (SELECT CAST(({source_sql}) AS BIGINT) AS s)",
        """pw0 AS MATERIALIZED (
  SELECT s AS node, CAST(1.0 AS DOUBLE) AS rank FROM srcw)""",
    ]
    for i in range(iterations):
        ctes.append(
            f"""pw{i + 1} AS MATERIALIZED (
  SELECT node, SUM(rank) AS rank FROM (
    SELECT ew.dst AS node, {d} * t.rank * ew.p AS rank
    FROM pw{i} t JOIN ew ON t.node = ew.src
    UNION ALL
    SELECT s AS node, CAST({alpha} AS DOUBLE) AS rank FROM srcw
  ) u GROUP BY node)"""
        )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT node, ROUND(rank, 9) AS score FROM pw{iterations}
WHERE ROUND(rank, 9) > 0
"""
