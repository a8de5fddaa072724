"""User-facing engine: the reference's three query verbs, Spark-first.

Query lifecycle mapping (SURVEY section 3): the reference's Java API exposes
computeWholeGraphPPR / computeTopKPPR / preprocessing+readPreprocessedPPR
(Whole_Graph_Util_Interface.java:10-11, Topk_Util_Interface.java:9-11,
Preprocessing_Interface.java:3-15). Here each verb builds a DataFrame plan;
algorithm selection mirrors the reference's factory (Gen_Util.java:66-97).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT_ALPHA, DEFAULT_EPSILON, POWER_ITERATIONS
from .graph import PropertyGraph
from .operators import (
    backward_search,
    base_all_pair,
    fora,
    metrics,
    monte_carlo,
    pagerank,
    power_method,
    topk as topk_ops,
)

PPR_ALGOS = (
    "power",  # Power Method oracle (I3)
    "fwdpush",  # Forward Push (I1)
    "montecarlo",  # Monte-Carlo walks (R2/A1)
    "fora",  # FORA whole-graph (I5)
    "backward",  # Backward Search (I4)
    "pagerank",  # classic PPR comparator (I8)
    "base",  # all-pair prep lookup (I7)
)
TOPK_ALGOS = PPR_ALGOS + ("fora_topk",)  # FORA top-k (I6) answers only top-k

# The keyword parameters each algorithm takes; any other raises TypeError.
ALGO_PARAMS = {
    "power": {"iterations"},
    "fwdpush": {"rmax", "epsilon", "max_supersteps"},
    "montecarlo": {"epsilon", "seed", "max_supersteps"},
    "fora": {"epsilon", "seed", "push_halvings"},
    "fora_topk": {"epsilon", "seed"},
    "backward": {"rmax"},
    "pagerank": {"iterations"},
    "base": {"prep_path"},
}


def _check_params(algo: str, params: dict, accepted: tuple[str, ...]) -> None:
    if algo not in accepted:
        raise ValueError(f"unknown algo {algo!r}; one of {accepted}")
    unknown = sorted(set(params) - ALGO_PARAMS[algo])
    if unknown:
        raise TypeError(f"algo {algo!r} takes no parameter {', '.join(unknown)}")
    if algo == "base" and "prep_path" not in params:
        raise TypeError("algo 'base' requires the parameter prep_path")


class PPREngine:
    def __init__(self, graph: PropertyGraph, alpha: float = DEFAULT_ALPHA):
        self.graph = graph
        self.alpha = alpha

    def ppr_multi(
        self,
        sources: list[int | str],
        iterations: int | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """PPR personalized on a SET of sources (uniform restart over the
        set; dangling mass returns to the set) — the gds.pageRank
        sourceNodes-list shape. Names resolve like `ppr`'s source."""
        from .operators.power_method import power_method_multi

        g = self.graph
        resolved = [self._resolve(s) for s in sources]
        kwargs = {} if iterations is None else {"iterations": iterations}
        return power_method_multi(
            g, resolved, alpha=self.alpha, mode=mode, **kwargs
        )

    # -- whole-graph SSPPR ---------------------------------------------------
    def ppr(
        self,
        source: int | str,
        algo: str = "power",
        mode: str = "auto",
        **params,
    ) -> DataFrame:
        """Single-source PPR -> DataFrame(node, ppr), descending not implied."""
        _check_params(algo, params, PPR_ALGOS)
        s = self._resolve(source)
        g, a = self.graph, self.alpha
        if algo == "power":
            return power_method.power_method(
                g, s, alpha=a, iterations=params.get("iterations", POWER_ITERATIONS), mode=mode
            )
        if algo == "fwdpush":
            return forward_push_df(g, s, a, mode, params)
        if algo == "montecarlo":
            return monte_carlo.monte_carlo(
                g, s, epsilon=params.get("epsilon", DEFAULT_EPSILON), alpha=a,
                mode=mode, seed=params.get("seed", 42),
                max_supersteps=params.get("max_supersteps", 1_000),
            )
        if algo == "fora":
            return fora.fora_whole_graph(
                g, s, epsilon=params.get("epsilon", DEFAULT_EPSILON), alpha=a,
                mode=mode, seed=params.get("seed", 42),
                push_halvings=params.get("push_halvings", 2),
            )
        if algo == "backward":
            return backward_search.backward_search(
                g, s, rmax=params.get("rmax", 1e-4), alpha=a, mode=mode
            )
        if algo == "pagerank":
            return pagerank.personalized_pagerank(
                g, s, iterations=params.get("iterations", 100), alpha=a, mode=mode
            )
        return base_all_pair.base_lookup(g, params["prep_path"], s)

    # -- top-k ----------------------------------------------------------------
    def topk(
        self, source: int | str, k: int, algo: str = "power", mode: str = "auto", **params
    ) -> DataFrame:
        """Tie-aware top-k (result may exceed k rows, reference T3 semantics)."""
        _check_params(algo, params, TOPK_ALGOS)
        s = self._resolve(source)
        if algo == "fora_topk":
            full = fora.fora_topk(
                self.graph, s, k, epsilon=params.get("epsilon", DEFAULT_EPSILON),
                alpha=self.alpha, mode=mode, seed=params.get("seed", 42),
            )
        elif algo == "base":
            return base_all_pair.base_topk_lookup(self.graph, params["prep_path"], s, k)
        else:
            full = self.ppr(source, algo=algo, mode=mode, **params)
        return topk_ops.retrieve_topk(full, k)

    # -- preprocessing --------------------------------------------------------
    def preprocess(
        self, path: str, threshold: float, k: int | None = None
    ) -> None:
        base_all_pair.base_preprocess_to_store(
            self.graph, path, threshold, alpha=self.alpha, k=k
        )

    # -- scoring ---------------------------------------------------------------
    def score(
        self, est: DataFrame, gnd: DataFrame, k: int | None = None
    ) -> dict[str, float | None]:
        if k is None:
            return {"max_err": metrics.max_err(est, gnd)}
        est_k = topk_ops.retrieve_topk(est, k)
        gnd_k = topk_ops.retrieve_topk(gnd, k)
        return {
            "precision": metrics.precision_at_k(est_k, gnd_k),
            "ndcg": metrics.ndcg_at_k(est_k, gnd_k),
        }

    # -- helpers ----------------------------------------------------------------
    def _resolve(self, source: int | str) -> int:
        return self.graph.id_of(source) if isinstance(source, str) else int(source)

    def with_names(self, df: DataFrame) -> DataFrame:
        return self.graph.with_names(df).orderBy(F.desc("ppr"))


def forward_push_df(g, s, a, mode, params):
    from .config import WholeGraphConf
    from .operators import forward_push as fp

    rmax = params.get("rmax")
    if rmax is None:
        eps = params.get("epsilon", DEFAULT_EPSILON)
        rmax = WholeGraphConf(alpha=a, n=g.n, m=g.m).fora_rmax(eps)
    return fp.forward_push(
        g, s, rmax=rmax, alpha=a, mode=mode,
        max_supersteps=params.get("max_supersteps", 10_000),
    )
