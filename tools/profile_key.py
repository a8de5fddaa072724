"""Per-key profiler: run one bench key with the event log on, then break
its wall-clock into Spark jobs/stages (guide section 1: measure first).

Usage:  python tools/profile_key.py <key> [<key> ...]

Keys are the bench.py names (without the historical q_ prefix).  Each key
is run ONCE (cold, after the same graph warm-up bench.py performs), with
``spark.sparkContext.setJobDescription(key)`` so the event log attributes
every job to its key.  After the run the event log is parsed and a compact
report printed per key:

    wall, #jobs, sum(job wall), #stages, sum(task time),
    shuffle read/write bytes, top-5 slowest jobs

The gap between wall and sum(job wall) is driver think-time (planning,
collects, createDataFrame); the gap between job wall and task time is
scheduling/launch overhead — the two quantities that decide whether a key
needs fewer jobs or cheaper tasks.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
import __spark_entry_ext__ as X  # noqa: E402
from personalized_pagerank_algorithms_on_neo4j_spark import (  # noqa: E402
    PPREngine,
    build_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def key_fns(spark, g, eng, src):
    """name -> zero-arg callable, mirroring bench.py's wiring for the keys
    worth profiling (extend as needed)."""
    return {
        "graph_kpaths": lambda: X.q_graph_kpaths(spark, SF_DIR).count(),
        "graph_mst": lambda: E.q_graph_mst(spark, SF_DIR).count(),
        "ppr_incremental": lambda: X.q_ppr_incremental(spark, SF_DIR).count(),
        "ppr_incr_delete": lambda: X.q_ppr_incremental_delete(spark, SF_DIR).count(),
        "ppr_incr_mixed": lambda: X.q_ppr_incremental_mixed(spark, SF_DIR).count(),
        "louvain": lambda: E.q_graph_louvain(spark, SF_DIR).count(),
        "louvain_weighted": lambda: E.q_graph_louvain_weighted(spark, SF_DIR).count(),
        "louvain_refined": lambda: X.q_graph_louvain_refined(spark, SF_DIR).count(),
        "node2vec": lambda: E.q_graph_node2vec(spark, SF_DIR).count(),
        "bpe_encode": lambda: X.q_bpe_encode(spark, SF_DIR).count(),
        "knn_communities": lambda: E.q_knn_communities(spark, SF_DIR).count(),
        "knn_graph": lambda: E.q_graph_knn(spark, SF_DIR).count(),
        "scc": lambda: E.q_graph_scc(spark, SF_DIR).count(),
        "graph_astar": lambda: X.q_graph_astar(spark, SF_DIR).count(),
        "astar_multi": lambda: X.q_graph_astar_multi(spark, SF_DIR).count(),
        "ktruss": lambda: E.q_graph_ktruss(spark, SF_DIR).count(),
        "eigenvector": lambda: E.q_graph_eigenvector(spark, SF_DIR).count(),
        "conductance": lambda: E.q_graph_conductance(spark, SF_DIR).count(),
        "modularity": lambda: E.q_graph_modularity(spark, SF_DIR).count(),
        "lpa": lambda: E.q_graph_lpa(spark, SF_DIR).count(),
        "skipgrams": lambda: E.q_walk_skipgrams(spark, SF_DIR).count(),
        "pagerank_snapshots": lambda: E.q_pagerank_snapshots(spark, SF_DIR).count(),
        "corpus_funnel": lambda: X.q_corpus_funnel(spark, SF_DIR).count(),
        "corpus_pipeline": lambda: X.q_corpus_pipeline(spark, SF_DIR).count(),
        "ppr_docs": lambda: E.q_ppr_docs(spark, SF_DIR).count(),
        "hits": lambda: E.q_graph_hits(spark, SF_DIR).count(),
        "graph_salsa": lambda: X.q_graph_salsa(spark, SF_DIR).count(),
        "graph_mis": lambda: X.q_graph_mis(spark, SF_DIR).count(),
        "hyperball": lambda: X.q_graph_hyperball(spark, SF_DIR).count(),
        "triangles": lambda: E.q_triangle_counts(spark, SF_DIR).count(),
        "conduct": lambda: E.q_graph_conductance(spark, SF_DIR).count(),
        "walks": lambda: E.q_graph_walks(spark, SF_DIR).count(),
        "wcc": lambda: E.q_graph_wcc(spark, SF_DIR).count(),
        "sssp": lambda: E.q_sssp_weighted(spark, SF_DIR).count(),
        "sssp_multi": lambda: E.q_sssp_landmarks(spark, SF_DIR).count(),
        "dedup_eval": lambda: E.q_dedup_eval(spark, SF_DIR).count(),
        "bpe_exact_apply": lambda: X.q_bpe_exact_apply(spark, SF_DIR).count(),
        "bpe_apply": lambda: E.q_bpe_compression(spark, SF_DIR).count(),
        "bpe": lambda: E.q_bpe_merges(spark, SF_DIR).count(),
        "mc_dist10": lambda: eng.ppr(
            src, algo="montecarlo", epsilon=0.5, mode="distributed",
            max_supersteps=10,
        ).count(),
        "power_dist10": lambda: eng.ppr(
            src, algo="power", iterations=10, mode="distributed"
        ).count(),
        "fwdpush_dist10": lambda: eng.ppr(
            src, algo="fwdpush", rmax=1e-6, mode="distributed", max_supersteps=10
        ).count(),
        "eigen": lambda: E.q_graph_eigenvector(spark, SF_DIR).count(),
    }


def _event_lines(path):
    """Yield JSON lines from a Spark event log file OR an eventlog_v2
    rolling directory."""
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            fp = os.path.join(path, f)
            if os.path.isfile(fp) and "events" in f:
                yield from open(fp)
    else:
        yield from open(path)


def parse_events(path):
    jobs = {}  # id -> dict
    stages = {}  # id -> dict
    for line in _event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "desc": ev.get("Properties", {}).get(
                    "spark.job.description", ""
                ),
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif t == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            acc = {
                a.get("Name"): a.get("Value")
                for a in si.get("Accumulables", [])
            }
            stages[si["Stage ID"]] = {
                "name": si.get("Stage Name", ""),
                "tasks": si.get("Number of Tasks", 0),
                "ms": (si.get("Completion Time", 0) or 0)
                - (si.get("Submission Time", 0) or 0),
                "run_ms": acc.get("internal.metrics.executorRunTime", 0) or 0,
                "sh_read": acc.get(
                    "internal.metrics.shuffle.read.remoteBytesRead", 0
                )
                or 0 + (
                    acc.get("internal.metrics.shuffle.read.localBytesRead", 0)
                    or 0
                ),
                "sh_write": acc.get(
                    "internal.metrics.shuffle.write.bytesWritten", 0
                )
                or 0,
            }
    return jobs, stages


def report(key, wall, jobs, stages):
    mine = {jid: j for jid, j in jobs.items() if j.get("desc") == key and "end" in j}
    job_wall = sum(j["end"] - j["start"] for j in mine.values()) / 1000.0
    sids = set()
    for j in mine.values():
        sids.update(j["stages"])
    st = [stages[s] for s in sids if s in stages]
    task_ms = sum(s["run_ms"] for s in st)
    ntasks = sum(s["tasks"] for s in st)
    shr = sum(s["sh_read"] for s in st)
    shw = sum(s["sh_write"] for s in st)
    print(
        f"== {key}: wall={wall:.2f}s jobs={len(mine)} "
        f"job_wall={job_wall:.2f}s stages={len(st)} tasks={ntasks} "
        f"task_time={task_ms / 1000.0:.2f}s "
        f"shuffleR={shr / 1e6:.1f}MB shuffleW={shw / 1e6:.1f}MB"
    )
    slow = sorted(mine.values(), key=lambda j: j["start"] - j["end"])[:8]
    for j in slow:
        ms = j["end"] - j["start"]
        nst = len(j["stages"])
        print(f"   job {ms:6d}ms stages={nst}")


def main():
    keys = sys.argv[1:]
    evdir = tempfile.mkdtemp(prefix="sparkev_")
    spark = build_spark(
        app_name="ppr_profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    g = E._graph(spark, SF_DIR)
    g.warm()
    eng = PPREngine(g)
    src = E._source(g)
    fns = key_fns(spark, g, eng, src)
    walls = {}
    for key in keys:
        spark.sparkContext.setJobDescription(key)
        t0 = time.perf_counter()
        fns[key]()
        walls[key] = time.perf_counter() - t0
        print(f"wall {key} {walls[key]:.2f}s", flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    # event log file: one file in evdir
    evfiles = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    jobs, stages = parse_events(max(evfiles, key=os.path.getmtime))
    for key in keys:
        report(key, walls[key], jobs, stages)


if __name__ == "__main__":
    main()
