"""In-memory span tracing around the calls into each layer of the engine.

The traced run patches a fixed list of public functions from the outside
(nothing in the package changes) so that every call records a span: name,
start, end, parent span and query id.  Spans stay in memory and are written
as JSON when the run ends.  A layer is the first component of a span name
(``engine``, ``operators``, ``sources``, ``plans``, ``spark``); a span's
self time is its duration minus the time its child spans cover.

``SparkCounter`` counts Spark jobs, stages and tasks per query from outside:
each query runs under its own job group and the status tracker is read back
after the query.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

# several operator modules bind ``ppr_result_from_dense`` by name, so each
# binding is patched
PKG = "personalized_pagerank_algorithms_on_neo4j_spark"
KERNELS = ("power_method", "forward_push_batch", "fora_whole_graph", "fora_topk", "monte_carlo")
RESULT_FRAME_MODULES = ("power_method", "forward_push", "fora", "monte_carlo")
# operator modules whose distributed loops run under ``static_superstep_plan``
SUPERSTEP_MODULES = ("power_method", "forward_push")
SPARK_ACTIONS = ("collect", "toPandas", "count", "take", "first", "isEmpty", "localCheckpoint")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, qid]
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def set_query(self, qid: int | None) -> None:
        self._local.qid = qid

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        record = [name, time.perf_counter(), None, stack[-1] if stack else -1,
                  getattr(self._local, "qid", None)]
        with self._lock:
            self.spans.append(record)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            record[2] = time.perf_counter()

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def _patch_context(self, owner, attr: str, name: str) -> None:
        """Like ``_patch`` for a context-manager factory: the span covers
        the whole ``with`` block, not just the call that opens it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        @contextmanager
        def traced(*args, **kwargs):
            with tracer.span(name), orig(*args, **kwargs) as value:
                yield value

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Patch the layer entry points; ``spark`` supplies the concrete
        session and DataFrame classes whose methods run the actions."""
        import importlib

        kernels = importlib.import_module(f"{PKG}.operators._kernels")
        for fn in KERNELS:
            self._patch(kernels, fn, f"operators.kernel.{fn}")
        for mod in RESULT_FRAME_MODULES:
            m = importlib.import_module(f"{PKG}.operators.{mod}")
            self._patch(m, "ppr_result_from_dense", "operators.result_frame")
        self._patch(importlib.import_module(f"{PKG}.operators.topk"), "kth_value",
                    "operators.topk_cut")
        self._patch(importlib.import_module(f"{PKG}.operators.base_all_pair"), "read_prep",
                    "sources.read_prep")
        for mod in SUPERSTEP_MODULES:
            m = importlib.import_module(f"{PKG}.operators.{mod}")
            self._patch_context(m, "static_superstep_plan", "plans.superstep_loop")
        frame_cls = type(spark.range(1))
        for action in SPARK_ACTIONS:
            self._patch(frame_cls, action, f"spark.{action}")
        self._patch(type(spark), "createDataFrame", "spark.createDataFrame")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(zip(("name", "start", "end", "parent", "query"), s)) for s in self.spans],
                f,
            )


def self_times(spans: list[list]) -> list[float]:
    """Per span: duration minus the durations of its direct children
    (children run on the parent's thread, so they never overlap)."""
    child = [0.0] * len(spans)
    for name, start, end, parent, _ in spans:
        if parent >= 0 and end is not None:
            child[parent] += end - start
    return [
        (s[2] - s[1]) - child[i] if s[2] is not None else 0.0 for i, s in enumerate(spans)
    ]


def under(spans: list[list], idx: int, prefix: str) -> bool:
    """Whether span ``idx`` has an ancestor whose name starts with ``prefix``."""
    parent = spans[idx][3]
    while parent >= 0:
        if spans[parent][0].startswith(prefix):
            return True
        parent = spans[parent][3]
    return False


class SparkCounter:
    """Jobs, stages and tasks each query ran, read from the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def start(self, qid: int) -> str:
        group = f"perfbench-q{qid}"
        self.sc.setJobGroup(group, group)
        return group

    def finish(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = self.tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return len(jobs), stages, tasks
