"""Workload definitions: set-up, seeded query lists, verbs and checks.

Two workloads, each a closed loop of four clients over a fixed, seeded list
of (verb, source) queries in the default ``mode="auto"``:

``local_serving``
    Five PPR verbs in equal shares.  The graph is under the 8M-edge local
    cutoff, so every query runs the driver-local numpy kernels.  Loads the
    kernels, result shaping and top-k; leaves the BASE store idle.
``prep_lookup``
    Writes a BASE store over a fixed target set, then serves
    ``base_lookup`` and ``base_topk_lookup`` over sources the store holds.
    Loads the store's read path (``read_prep``) and, in set-up, its write
    path; leaves the kernels nearly idle.

Every traced run ends with ``distributed_probe``: a few serial
``mode="distributed"`` queries (the path graphs over the local cutoff take),
which load ``plans/iterative``, ``graph.edges_push`` and the superstep
shuffle for the per-layer report.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from . import oracle

K = 10
EPSILON = 0.5
FWDPUSH_TOPK_RMAX = 1e-6
# BASE store: a fixed target set of one supplier at this threshold holds
# 29 source partitions at full scale (every lookup lists them all)
STORE_TARGETS = (0,)  # supplier keys
STORE_THRESHOLD = 5.5e-3
SETUP_SAMPLES = 2
# distributed probe: top-k over power at a fixed superstep count, and
# whole-graph forward push at an rmax that keeps a query to a few seconds
DIST_POWER_ITERATIONS = 5
DIST_FWDPUSH_RMAX = 1e-2


@dataclass(frozen=True)
class Query:
    qid: int
    verb: str
    source: int


@dataclass
class Workload:
    name: str
    clients: int
    verbs: tuple[str, ...]
    # queries per second of --seconds: fixes the work of a run, sized so a
    # run measures about --seconds on a 4-core machine
    queries_per_second: float
    # untimed warm-up: rounds of this many queries per verb
    warmup_rounds: int
    warmup_per_verb: int


WORKLOADS = {
    "local_serving": Workload(
        "local_serving", 4, ("fora_topk", "fwdpush_topk", "fora", "montecarlo", "power"),
        4.5, 3, 3,
    ),
    "prep_lookup": Workload("prep_lookup", 4, ("base_lookup", "base_topk"), 10.0, 4, 15),
}
# one client: ``static_superstep_plan`` flips the session-wide AQE setting,
# so distributed loops must not overlap; one untimed warm-up query per verb
PROBE = Workload("distributed_probe", 1, ("dist_power_topk", "dist_fwdpush"), 0.0, 1, 1)
PROBE_PER_VERB = 1


@dataclass
class Bench:
    """Live state of a run after set-up."""

    spark: object
    graph: object
    engine: object
    ref: oracle.Reference
    store: str | None = None
    store_sources: list[int] = field(default_factory=list)
    targets: list[int] = field(default_factory=list)


# ---------------------------------------------------------------------------
# verbs: the engine call and its materialized result
# ---------------------------------------------------------------------------


def execute(b: Bench, verb: str, s: int):
    """One query, materialized: a list of Rows (top-k) or a pandas frame."""
    eng = b.engine
    if verb == "fora_topk":
        return eng.topk(s, K, algo="fora_topk", epsilon=EPSILON).collect()
    if verb == "fwdpush_topk":
        return eng.topk(s, K, algo="fwdpush", rmax=FWDPUSH_TOPK_RMAX).collect()
    if verb == "fora":
        return eng.ppr(s, algo="fora", epsilon=EPSILON).toPandas()
    if verb == "montecarlo":
        return eng.ppr(s, algo="montecarlo", epsilon=EPSILON).toPandas()
    if verb == "power":
        return eng.ppr(s, algo="power", iterations=oracle.ITERATIONS).toPandas()
    if verb == "base_lookup":
        return eng.ppr(s, algo="base", prep_path=b.store).toPandas()
    if verb == "base_topk":
        return eng.topk(s, K, algo="base", prep_path=b.store).collect()
    if verb == "dist_power_topk":
        return eng.topk(s, K, algo="power", iterations=DIST_POWER_ITERATIONS,
                        mode="distributed").collect()
    if verb == "dist_fwdpush":
        return eng.ppr(s, algo="fwdpush", rmax=DIST_FWDPUSH_RMAX, mode="distributed").toPandas()
    raise ValueError(verb)


def as_arrays(out) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, scores) of a materialized result."""
    if isinstance(out, list):
        return (
            np.array([r["node"] for r in out], dtype=np.int64),
            np.array([r["ppr"] for r in out], dtype=np.float64),
        )
    return out["node"].to_numpy(dtype=np.int64), out["ppr"].to_numpy(dtype=np.float64)


def reference_for(b: Bench, verb: str, s: int):
    if verb in ("base_lookup", "base_topk"):
        return b.ref.ppr(s, dangling="absorb")
    if verb == "dist_power_topk":
        return b.ref.ppr(s, iterations=DIST_POWER_ITERATIONS)
    return b.ref.ppr(s)


def check(b: Bench, verb: str, s: int, nodes, vals) -> tuple[bool, float | None]:
    ref = reference_for(b, verb, s)
    if verb == "fora_topk":
        return oracle.check_topk(ref, nodes, vals, K, margin=oracle.TRUNCATION, rel=EPSILON)
    if verb == "fwdpush_topk":
        margin = b.ref.residue_bound(s, FWDPUSH_TOPK_RMAX) + oracle.TRUNCATION
        return oracle.check_topk(ref, nodes, vals, K, margin=margin)
    if verb in ("fora", "montecarlo"):
        return oracle.check_eps(ref, nodes, vals, EPSILON, 1.0 / b.ref.n)
    if verb == "power":
        return oracle.check_exact(ref, nodes, vals)
    if verb == "base_lookup":
        return oracle.check_base(ref, b.targets, nodes, vals, STORE_THRESHOLD)
    if verb == "base_topk":
        return oracle.check_base_topk(ref, b.targets, nodes, vals, K, STORE_THRESHOLD)
    if verb == "dist_power_topk":
        return oracle.check_topk_exact(ref, nodes, vals, K)
    if verb == "dist_fwdpush":
        return oracle.check_push(ref, nodes, vals, b.ref.residue_bound(s, DIST_FWDPUSH_RMAX))
    raise ValueError(verb)


# ---------------------------------------------------------------------------
# query lists
# ---------------------------------------------------------------------------


def source_pool(b: Bench, verb: str) -> np.ndarray:
    if verb in ("base_lookup", "base_topk"):
        return np.array(b.store_sources, dtype=np.int64)
    if verb.startswith("dist_"):
        # customers: a supplier (out-degree 1) and its nation form a
        # two-cycle that takes several times the supersteps to converge
        return b.ref.ids[b.ref.out_deg > 1]
    return b.ref.ids[b.ref.out_deg > 0]


def query_list(b: Bench, w: Workload, seed: int, per_verb: int, first_qid: int = 0):
    """``per_verb`` queries of every verb in a seeded order; each verb's
    sources are drawn without replacement unless its pool is smaller."""
    rng = np.random.default_rng(seed)
    plan = []
    for verb in w.verbs:
        pool = source_pool(b, verb)
        picks = rng.choice(pool, per_verb, replace=per_verb > len(pool))
        plan += [(verb, int(s)) for s in picks]
    order = rng.permutation(len(plan))
    return [Query(first_qid + i, *plan[j]) for i, j in enumerate(order)]


# ---------------------------------------------------------------------------
# closed loop
# ---------------------------------------------------------------------------


@dataclass
class LoopResult:
    wall: float
    queries: list[Query]
    latency: list[float]
    output: list
    error: list[str | None]
    spark_counts: list[tuple[int, int, int] | None]


def closed_loop(b: Bench, queries, clients: int, tracer=None, counter=None) -> LoopResult:
    n = len(queries)
    res = LoopResult(0.0, queries, [0.0] * n, [None] * n, [None] * n, [None] * n)
    lock = threading.Lock()
    nxt = [0]

    def client():
        while True:
            with lock:
                i = nxt[0]
                if i >= n:
                    return
                nxt[0] += 1
            q = queries[i]
            group = counter.start(q.qid) if counter else None
            if tracer:
                tracer.set_query(q.qid)
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(f"engine.{q.verb}"):
                        res.output[i] = execute(b, q.verb, q.source)
                else:
                    res.output[i] = execute(b, q.verb, q.source)
            except Exception as e:  # a failed query is counted, not fatal
                res.error[i] = f"{type(e).__name__}: {e}"
            res.latency[i] = time.perf_counter() - t0
            if tracer:
                tracer.set_query(None)
            if counter:
                res.spark_counts[i] = counter.finish(group)

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res.wall = time.perf_counter() - t0
    return res


def grade(b: Bench, res: LoopResult) -> tuple[list[bool], list[float | None]]:
    passed, precision = [], []
    for q, out, err in zip(res.queries, res.output, res.error):
        if err is not None:
            passed.append(False)
            precision.append(None)
            continue
        ok, p = check(b, q.verb, q.source, *as_arrays(out))
        passed.append(ok)
        precision.append(p)
    return passed, precision


def warm_up(b: Bench, w: Workload, seed: int) -> list[float]:
    """Untimed, fixed warm-up work: ``w.warmup_rounds`` rounds of
    ``w.warmup_per_verb`` queries per verb on fresh sources.  The Spark JVM
    keeps compiling for minutes, so a fixed amount (not "until it levels
    off") puts every run at the same point of that curve.  Returns each
    round's queries per second."""
    qps = []
    for r in range(w.warmup_rounds):
        qs = query_list(b, w, seed * 1_000_003 + r + 1, w.warmup_per_verb, 10**6 * (r + 1))
        res = closed_loop(b, qs, w.clients)
        qps.append(len(qs) / res.wall)
    return qps


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.driver.memory": "3g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            total += os.path.getsize(os.path.join(root, f))
            files += f.endswith(".parquet")
    return total, files


def setup_once(w: Workload, data: str, store: str, cpus: int, tmp: str) -> tuple[Bench, dict]:
    """One full set-up; returns the live bench and its phase timings."""
    from personalized_pagerank_algorithms_on_neo4j_spark import (
        PPREngine, build_spark, load_tpch_graph,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import base_all_pair
    from personalized_pagerank_algorithms_on_neo4j_spark.sources import prep_store
    from personalized_pagerank_algorithms_on_neo4j_spark.sources.tpch_graph import SUPP_BASE

    t = {}
    t0 = time.perf_counter()
    spark = build_spark(app_name="perfbench", master=f"local[{cpus}]",
                        shuffle_partitions=cpus, extra_conf=spark_conf(tmp))
    t1 = time.perf_counter()
    g = load_tpch_graph(spark, data)
    t2 = time.perf_counter()
    g.warm()
    t3 = time.perf_counter()
    t["session.build_s"], t["sources.load_graph_s"], t["graph.warm_s"] = t1 - t0, t2 - t1, t3 - t2
    b = Bench(spark, g, PPREngine(g), None)
    g.local
    t4 = time.perf_counter()
    g.local_broadcast
    t5 = time.perf_counter()
    t["graph.local_csr_s"] = t4 - t3
    t["graph.derived_cache_s"] = t5 - t3
    if w.name == "prep_lookup":
        b.targets = [SUPP_BASE + k for k in STORE_TARGETS]
        targets = spark.createDataFrame([(x,) for x in b.targets], "target long")
        frame = base_all_pair.base_preprocess(g, STORE_THRESHOLD, targets=targets)
        t6 = time.perf_counter()
        prep_store.write_prep(frame, store)
        t7 = time.perf_counter()
        t["operators.base_preprocess_s"], t["sources.write_prep_s"] = t6 - t5, t7 - t6
        t["prep_s"] = t7 - t5
        t["prep_store_mb"] = dir_bytes(store)[0] / 1e6
        b.store = store
    else:
        # the local paths serve from the driver CSR snapshot and its broadcast
        t7 = t5
        t["prep_s"] = t5 - t3
        t["prep_store_mb"] = sum(
            a.nbytes for a in vars(g.local).values() if isinstance(a, np.ndarray)
        ) / 1e6
    t["setup_s"] = t7 - t0
    return b, t


def setup(w: Workload, data: str, work: str, cpus: int, tmp: str, log) -> tuple[Bench, dict]:
    """One set-up on the cold JVM, then ``SETUP_SAMPLES`` more; the last
    stays live.  Between set-ups every cached table, the broadcast and the
    store are dropped, so each rebuilds them; the Spark context and its JVM
    stay up.  Every timing is the median over the warm samples: the cold one
    is mostly JVM class loading and compilation, and is only printed."""
    samples = []
    b = None
    for i in range(SETUP_SAMPLES + 1):
        if b is not None:
            b.graph.local_broadcast.destroy()
            b.spark.catalog.clearCache()
            shutil.rmtree(b.store or "", ignore_errors=True)
            b = None  # the old snapshot is freed before the next is built
        store = os.path.join(work, f"store-{i}")
        b, t = setup_once(w, data, store, cpus, tmp)
        if i:
            samples.append(t)
        log(f"setup {'sample ' + str(i) if i else 'cold'}: "
            + " ".join(f"{k}={v:.3f}" for k, v in sorted(t.items())))
    med = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    return b, med


def distributed_probe(b: Bench, seed: int, tracer, counter) -> tuple[LoopResult, float]:
    """Serial ``mode="distributed"`` queries after the measured loop.
    Materializes the tables the distributed loops read (``edges_deg``, then
    ``edges_push`` over it; ``degrees`` is already cached by ``warm()``),
    runs one untimed query per verb, then ``PROBE_PER_VERB`` traced ones.
    Returns the traced loop and the seconds the tables took to build."""
    g = b.graph
    t0 = time.perf_counter()
    g.edges_deg.count()
    g.edges_push.count()
    built = time.perf_counter() - t0
    warm_up(b, PROBE, seed)
    queries = query_list(b, PROBE, seed, PROBE_PER_VERB, first_qid=10**8)
    for q in queries:
        reference_for(b, q.verb, q.source)
    return closed_loop(b, queries, PROBE.clients, tracer, counter), built


def attach_reference(b: Bench) -> None:
    nodes = b.graph.nodes.select("id").toPandas()["id"].to_numpy(dtype=np.int64)
    edges = b.graph.edges.toPandas()
    b.ref = oracle.Reference(
        nodes, edges["src"].to_numpy(dtype=np.int64), edges["dst"].to_numpy(dtype=np.int64)
    )
    if b.store:
        b.store_sources = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(b.store) if d.startswith("source=")
        )


def store_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return rows
