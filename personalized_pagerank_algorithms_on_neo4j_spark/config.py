"""Algorithm configuration & parameter derivations.

Mirrors the reference's Algo_Conf (reference: Algo_Conf.java:25-81): whole-graph
algorithms run with delta = pfail = 1/n (the reference's rsum = 1.0 is the
unit source mass, which no formula here needs); FORA top-k starts at
delta = 1/k, floors at min_delta = 1/n, and uses
pfail' = 1/n^2/ln(n/k) (Algo_Conf.java:71-81).

The FORA bound formulas (Fora_Whole_Graph.java:86-87, Fora_Topk.java:112-133):
  rmax  = eps * sqrt(delta / (3 m ln(2/pfail))) / (1 - alpha)   [whole-graph]
  rmax' = r * sqrt(m r) * 3,  r = eps' * sqrt(delta / (3 m ln(2/pfail')))
                                                       [top-k, per round]
  omega = (eps + 2) * ln(2/pfail) / eps^2 / delta
Monte-Carlo walk count (Monte_Carlo.java:145):
  omega_mc = 3 * ln(2/pfail) / eps^2 / delta
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

DEFAULT_ALPHA = 0.15  # PPR.java:177
DEFAULT_EPSILON = 0.5  # PPR.java:178
DEFAULT_K = 10  # PPR.java:180
POWER_ITERATIONS = 100  # Power_Method.java:57

# Driver-local kernel cutoff: graphs with at most this many edges are computed
# on the driver with vectorized numpy (analogous to a broadcast-join cutoff);
# larger graphs run the distributed DataFrame loops.  Parameterised like a
# broadcast threshold so a cluster deployment can raise/lower it (or set 0 to
# force the distributed path everywhere); the default keeps the driver-local
# working set in the low hundreds of MB.
LOCAL_EDGE_THRESHOLD = int(
    os.environ.get("SPARK_GRAFT_LOCAL_EDGE_THRESHOLD", 8_000_000)
)

# Driver-local corpus cutoff for the tokenizer-training kernels
# (functions/bpe.py): a corpus whose document count AND total text bytes
# both fit collects once to the driver and replays the exact recurrence
# in vectorized numpy; above either bound the distributed pipelines run
# unchanged.  The count probe is metadata-cheap (parquet row counts); the
# byte probe only runs under the count gate, so at warehouse scale the
# gate costs one row-count job.  Set either to 0 to force the
# distributed path everywhere.
LOCAL_DOC_COUNT = int(os.environ.get("SPARK_GRAFT_LOCAL_DOC_COUNT", 2_000_000))
LOCAL_TEXT_BYTES = int(
    os.environ.get("SPARK_GRAFT_LOCAL_TEXT_BYTES", 256 * 1024 * 1024)
)


@dataclass
class WholeGraphConf:
    """delta = pfail = 1/n (Algo_Conf.java:29-45)."""

    alpha: float
    n: int
    m: int
    delta: float = field(init=False)
    pfail: float = field(init=False)

    def __post_init__(self) -> None:
        self.delta = 1.0 / self.n
        self.pfail = 1.0 / self.n

    def mc_omega(self, epsilon: float) -> int:
        return int(3.0 * math.log(2.0 / self.pfail) / epsilon / epsilon / self.delta)

    def fora_rmax(self, epsilon: float) -> float:
        return (
            epsilon
            * math.sqrt(self.delta / 3.0 / self.m / math.log(2.0 / self.pfail))
            / (1.0 - self.alpha)
        )

    def fora_omega(self, epsilon: float) -> float:
        return (epsilon + 2.0) * math.log(2.0 / self.pfail) / epsilon / epsilon / self.delta


@dataclass
class TopkConf:
    """delta = 1/k, min_delta = 1/n, pfail' = 1/n^2/ln(n/k) (Algo_Conf.java:71-81)."""

    alpha: float
    n: int
    m: int
    k: int
    delta: float = field(init=False)
    min_delta: float = field(init=False)
    pfail: float = field(init=False)

    def __post_init__(self) -> None:
        # the reference formula assumes k < n (log(n/k) = 0 at k == n would
        # divide by zero; k > n would flip signs) — clamp k into [1, n-1]
        self.k = max(1, min(self.k, self.n - 1)) if self.n > 1 else 1
        self.delta = 1.0 / self.k
        self.min_delta = 1.0 / self.n
        log_term = math.log(self.n / self.k) if self.n > self.k else 1.0
        self.pfail = 1.0 / self.n / self.n / log_term

    def round_rmax(self, epsilon_halved: float, delta: float) -> float:
        """Push threshold of the round at ``delta``: eps' * sqrt(delta / (3 m
        ln(2/pfail))) (Fora_Topk.java:112), scaled by sqrt(m * rmax) * 3
        (Fora_Topk.java:133). At ``min_delta`` it is the final round's
        threshold, the two-threshold push's floor."""
        rmax = epsilon_halved * math.sqrt(delta / 3.0 / self.m / math.log(2.0 / self.pfail))
        rmax *= math.sqrt(self.m * rmax) * 3.0
        return rmax

    def round_omega(self, epsilon_halved: float, delta: float) -> float:
        """Walk budget omega of the round at ``delta``."""
        eps = epsilon_halved
        return (eps + 2.0) * math.log(2.0 / self.pfail) / eps / eps / delta
