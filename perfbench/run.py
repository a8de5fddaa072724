"""PPR engine benchmark.

    python3 perfbench/run.py --workload local_serving --seed 1 --seconds 10 --trace 0

Run from the repository root.  Builds its inputs from ``--seed`` (see
``datagen`` and ``workloads``), sets the engine up three times (one cold, two
timed) and keeps the last, warms every verb, then runs a fixed seeded query
list in a closed loop and checks every answer against the benchmark's own
reference.  Human-readable lines go to stdout first; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Every file the run writes stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "pass_ratio": "ratio",
    "prep_s": "s",
    "prep_store_mb": "MB",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s",
    "sources.load_graph_s": "s",
    "graph.warm_s": "s",
    "graph.derived_cache_s": "s",
    "graph.edges_push_s": "s",
    "engine.query_s": "s",
    "engine.self_s": "s",
    "operators.self_s": "s",
    "operators.topk_cut_s": "s",
    "plans.superstep_s": "s",
    "plans.supersteps_per_query": "count",
    "spark.self_s": "s",
    "spark.action_s": "s",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "trace.qps_ratio": "ratio",
}


def log(msg: str) -> None:
    print(msg, flush=True)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="dataset size relative to TPC-H sf0.1 (smoke tests use 0.01)")
    return ap.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile that
    has at least ten samples beyond it; the maximum when there are fewer
    than eleven samples."""
    xs = sorted(latencies)
    n = len(xs)
    i = n - 11 if n >= 11 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot; zeros where /proc is absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def reset_peak_rss() -> bool:
    """Restart the process's RSS high-water mark (Linux ``clear_refs``)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    """RSS high-water mark since the last reset (``VmHWM``); the whole
    process's ``ru_maxrss`` where /proc is absent."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main(argv=None) -> int:
    args = parse(argv)
    # everything the run (and Spark under it) writes stays in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    try:
        import personalized_pagerank_algorithms_on_neo4j_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = W.WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        result = run(args, w, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, w, run_dir: str) -> dict:
    from perfbench import datagen
    from perfbench import workloads as W

    cpus = os.cpu_count() or 4
    log(f"perfbench workload={w.name} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} nproc={cpus} clients={w.clients} "
        f"loadavg1={os.getloadavg()[0]:.2f}")
    data = os.path.join(run_dir, "data")
    # a child process writes the tables, so their frames never count
    # towards this process's memory
    subprocess.run([sys.executable, "-m", "perfbench.datagen", data, str(args.scale)],
                   cwd=ROOT, check=True)
    sizes = datagen.table_sizes(args.scale)
    log("dataset " + " ".join(f"{k}={v}" for k, v in sizes.items()))

    b, setup = W.setup(w, data, run_dir, cpus, os.path.join(WORK, "tmp"), log)
    try:
        t0 = time.perf_counter()
        W.attach_reference(b)
        per_verb = max(1, round(args.seconds * w.queries_per_second / len(w.verbs)))
        queries = W.query_list(b, w, args.seed, per_verb)
        for q in queries:  # references are built before any timing
            W.reference_for(b, q.verb, q.source)
        log(f"graph nodes={b.ref.n} edges={b.ref.m} reference_s={time.perf_counter() - t0:.2f}")
        if b.store:
            size, files = W.dir_bytes(b.store)
            log(f"store targets={len(b.targets)} threshold={W.STORE_THRESHOLD:g} "
                f"partitions={len(b.store_sources)} files={files} "
                f"rows={W.store_rows(b.store)} bytes={size}")
        else:
            log(f"serving state: local CSR snapshot mb={setup['prep_store_mb']:.3f}")
        t0 = time.perf_counter()
        rounds = W.warm_up(b, w, args.seed)
        log(f"warm-up rounds={len(rounds)} seconds={time.perf_counter() - t0:.2f} "
            "queries_per_s=" + ",".join(f"{x:.2f}" for x in rounds))

        hwm_reset = reset_peak_rss()
        steal0, total0 = cpu_ticks()
        plain = W.closed_loop(b, queries, w.clients)
        steal1, total1 = cpu_ticks()
        setup["driver_peak_rss_mb"] = peak_rss_mb()
        log(f"measured phase: loadavg1={os.getloadavg()[0]:.2f} cpu_steal_pct="
            f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f} "
            f"rss_peak_scope={'measured loop' if hwm_reset else 'whole run'}")
        traced = tracer = probe = probe_tracer = None
        if args.trace:
            from perfbench.spans import SparkCounter, Tracer

            counter = SparkCounter(b.spark.sparkContext)
            tracer = Tracer()
            tracer.install(b.spark)
            try:
                traced = W.closed_loop(b, queries, w.clients, tracer, counter)
            finally:
                tracer.uninstall()
            probe_tracer = Tracer()
            probe_tracer.install(b.spark)
            try:
                probe, setup["graph.edges_push_s"] = W.distributed_probe(
                    b, args.seed, probe_tracer, counter)
            finally:
                probe_tracer.uninstall()
        loops = [plain] + [r for r in (traced, probe) if r]
        graded = [W.grade(b, r) for r in loops]
    finally:
        stop_spark(b.spark)

    e2e = end_to_end(plain, graded[0][0], setup)
    report_end_to_end(plain, graded[0], e2e)
    attempted = sum(len(r.queries) for r in loops)
    failed = sum(p.count(False) for p, _ in graded)
    for r, (passed, _) in zip(loops, graded):
        for q, ok, err in zip(r.queries, passed, r.error):
            if not ok:
                log(f"FAILED q{q.qid} {q.verb} source={q.source} {err or 'wrong answer'}")
    if args.trace:
        layers = per_layer(traced, tracer.spans, setup, e2e["queries_per_s"])
        layers.update(superstep_layers(probe, probe_tracer.spans))
        report_layers(w, traced, tracer.spans, setup, layers)
        report_probe(probe, probe_tracer.spans, graded[-1][0])
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{w.name}-seed{args.seed}.json")
        tracer.spans += probe_tracer.spans  # one dump; probe query ids start at 1e8
        tracer.write(path)
        log(f"spans={len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(res, passed: list[bool], setup: dict) -> dict:
    done = [lat for lat, err in zip(res.latency, res.error) if err is None] or [res.wall]
    value, pct, beyond = tail(done)
    return {
        "setup_s": setup["setup_s"],
        "queries_per_s": len(res.queries) / res.wall,
        "query_p50_s": statistics.median(done),
        "query_tail_s": value,
        "tail_percentile": pct,
        "tail_beyond": beyond,
        "samples": len(done),
        "pass_ratio": sum(passed) / len(passed),
        "prep_s": setup["prep_s"],
        "prep_store_mb": setup["prep_store_mb"],
        "driver_peak_rss_mb": setup["driver_peak_rss_mb"],
    }


def report_end_to_end(res, graded, e2e: dict) -> None:
    passed, precision = graded
    by_verb: dict[str, list] = {}
    for q, lat, ok, p in zip(res.queries, res.latency, passed, precision):
        by_verb.setdefault(q.verb, []).append((lat, ok, p))
    for verb, rows in by_verb.items():
        ps = [p for _, _, p in rows if p is not None]
        prec = f" precision@k={statistics.fmean(ps):.3f}" if ps else ""
        log(f"verb {verb}: n={len(rows)} p50_s={statistics.median(r[0] for r in rows):.4f} "
            f"passed={sum(r[1] for r in rows)}{prec}")
    log(f"measured queries={len(res.queries)} wall_s={res.wall:.3f}")
    for k, unit in END_TO_END.items():
        extra = ""
        if k == "query_tail_s":
            extra = (f"  (p{e2e['tail_percentile']:.1f}, {e2e['tail_beyond']} samples beyond, "
                     f"{e2e['samples']} samples)")
        log(f"  {k:<22} {e2e[k]:>12.4f} {unit}{extra}")


def _per_query(spans, selfs, test) -> dict[int, float]:
    out: dict[int, float] = {}
    for i, s in enumerate(spans):
        if s[4] is not None and test(i, s):
            out[s[4]] = out.get(s[4], 0.0) + (selfs[i] if selfs else s[2] - s[1])
    return out


def per_layer(res, spans, setup: dict, plain_qps: float) -> dict:
    from perfbench.spans import SPARK_ACTIONS, self_times, under

    selfs = self_times(spans)
    n = len(res.queries)

    def mean_self(layer):
        return sum(_per_query(spans, selfs, lambda i, s: s[0].split(".")[0] == layer).values()) / n

    engine = _per_query(spans, None, lambda i, s: s[0].startswith("engine."))
    cut = _per_query(spans, None, lambda i, s: s[0] == "operators.topk_cut")
    actions = _per_query(
        spans, None,
        lambda i, s: s[0].split(".", 1)[-1] in SPARK_ACTIONS and s[0].startswith("spark.")
        and not under(spans, i, "spark."),
    )
    counts = [c for c in res.spark_counts if c is not None]
    return {
        **{k: setup[k] for k in ("session.build_s", "sources.load_graph_s", "graph.warm_s",
                                 "graph.derived_cache_s", "graph.edges_push_s")},
        "engine.query_s": statistics.median(engine.values()),
        "engine.self_s": mean_self("engine"),
        "operators.self_s": mean_self("operators"),
        "operators.topk_cut_s": statistics.median(cut.values()) if cut else 0.0,
        "spark.self_s": mean_self("spark"),
        "spark.action_s": sum(actions.values()) / n,
        "spark.jobs_per_query": statistics.fmean(c[0] for c in counts),
        "spark.stages_per_query": statistics.fmean(c[1] for c in counts),
        "spark.tasks_per_query": statistics.fmean(c[2] for c in counts),
        "trace.qps_ratio": (len(res.queries) / res.wall) / plain_qps,
    }


def _supersteps(spans) -> tuple[dict[int, float], dict[int, int]]:
    """Per query: seconds inside superstep loops, and supersteps run (one
    per materialization of the loop state, ``localCheckpoint``)."""
    from perfbench.spans import under

    loop = _per_query(spans, None, lambda i, s: s[0] == "plans.superstep_loop")
    steps: dict[int, int] = {}
    for i, s in enumerate(spans):
        if s[0] == "spark.localCheckpoint" and s[4] is not None and under(spans, i, "plans."):
            steps[s[4]] = steps.get(s[4], 0) + 1
    return loop, steps


def superstep_layers(res, spans) -> dict:
    """``plans.superstep_s``: seconds inside the superstep loops over
    supersteps run, across the probe; ``plans.supersteps_per_query``."""
    loop, steps = _supersteps(spans)
    total = sum(steps.values())
    return {
        "plans.superstep_s": sum(loop.values()) / max(1, total),
        "plans.supersteps_per_query": total / len(res.queries),
    }


def report_probe(res, spans, passed) -> None:
    loop, steps = _supersteps(spans)
    cut = _per_query(spans, None, lambda i, s: s[0] == "operators.topk_cut")
    for q, lat, ok, c in zip(res.queries, res.latency, passed, res.spark_counts):
        n = steps.get(q.qid, 0)
        jobs = f" jobs={c[0]} stages={c[1]} tasks={c[2]}" if c else ""
        log(f"  probe {q.verb} source={q.source} query_s={lat:.3f} supersteps={n} "
            f"superstep_s={loop.get(q.qid, 0.0) / max(1, n):.4f} "
            f"topk_cut_s={cut.get(q.qid, 0.0):.4f}{jobs} passed={ok}")


def report_layers(w, res, spans, setup: dict, layers: dict) -> None:
    """Every per-layer figure, per verb where it applies; ``idle`` marks a
    layer this workload does not load."""
    from perfbench.spans import self_times, under

    selfs = self_times(spans)
    verb_of = {q.qid: q.verb for q in res.queries}
    lines = []

    def med_by_verb(name, test):
        per_q = _per_query(spans, None, test)
        vals: dict[str, list] = {}
        for qid, v in per_q.items():
            vals.setdefault(verb_of[qid], []).append(v)
        if not vals:
            lines.append((name, "idle"))
        for verb in w.verbs:
            if verb in vals:
                lines.append((f"{name}[{verb}]", f"{statistics.median(vals[verb]):.4f} s"))

    for k in ("graph.local_csr_s", "operators.base_preprocess_s", "sources.write_prep_s"):
        lines.append((k, f"{setup[k]:.4f} s (median of warm set-ups)" if k in setup else "idle"))
    med_by_verb("engine.query_s", lambda i, s: s[0].startswith("engine."))
    med_by_verb("operators.kernel_s", lambda i, s: s[0].startswith("operators.kernel.")
                and not under(spans, i, "operators.kernel."))
    med_by_verb("operators.result_frame_s", lambda i, s: s[0] == "operators.result_frame")
    rows = [len(out) for q, out in zip(res.queries, res.output)
            if out is not None and q.verb in ("fora", "montecarlo", "power")]
    lines.append(("operators.result_rows", f"{statistics.fmean(rows):.1f} rows/query"
                  if rows else "idle"))
    med_by_verb("operators.topk_cut_s", lambda i, s: s[0] == "operators.topk_cut")
    med_by_verb("sources.read_prep_s", lambda i, s: s[0] == "sources.read_prep")
    for k in PER_LAYER:
        lines.append((k, f"{layers[k]:.4f}"))
    for layer in ("engine", "operators", "sources", "spark"):
        tot = sum(selfs[i] for i, s in enumerate(spans)
                  if s[4] is not None and s[0].split(".")[0] == layer)
        lines.append((f"self.{layer}_s_per_query", f"{tot / len(res.queries):.4f} s"))
    lines.append(("tracing overhead (traced/untraced queries_per_s)",
                  f"{layers['trace.qps_ratio']:.3f}"))
    for name, value in lines:
        log(f"  layer {name:<44} {value}")


if __name__ == "__main__":
    sys.exit(main())
