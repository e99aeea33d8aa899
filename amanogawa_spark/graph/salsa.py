"""SALSA: stochastic hubs & authorities over the directed link graph.

Lempel/Moran's SALSA replaces HITS' mutual-reinforcement sums with a
random walk on the bipartite hub/authority view: an authority step walks
BACKWARD along a uniformly-chosen in-link (1/indeg), then FORWARD along a
uniformly-chosen out-link (1/outdeg). Both transition matrices are
stochastic, which makes SALSA far more resistant to the tightly-knit-
community (TKC) effect that inflates HITS — and gives it a closed-form
sanity check: the in-degree-proportional vector is an EXACT fixed point
of the authority chain (resp. out-degree for hubs) on a connected
support, which the pytest pins.

Execution shape: HITS' step (:func:`~amanogawa_spark.graph.hits.hub_authority`)
over the same two-direction layout, with the edge table carrying the
walk's ``w_out`` = 1/outdeg and ``w_in`` = 1/indeg weights, computed
once. Per iteration the authority chain is backward-then-forward and the
hub chain forward-then-backward, four narrow pushes in ONE job whose L1
sums and lagged delta are observed in the same pass — so a converged run
may take one iteration more than a same-iteration delta would. The
oracle variant runs fixed iterations so the DuckDB unrolled-CTE mirror is
exact. L1 renormalization per iteration keeps mass comparisons stable
when the support has isolated or dangling vertices (where the pure chain
would leak mass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amanogawa_spark.graph.hits import HitsResult, Push, hub_authority

SalsaResult = HitsResult  # scores, iterations, delta, history


def _salsa_chain(push: Push, scores: DataFrame) -> tuple[DataFrame, DataFrame]:
    def walk(col: str, forward: bool) -> DataFrame:  # one step there and back
        return push(push(scores.select("id", F.col(col).alias("x")), forward), not forward)

    return walk("authority", False), walk("hub", True)


def salsa(
    vertices: DataFrame,
    edges: DataFrame,
    tol: float = 1e-8,
    max_iter: int = 50,
    num_partitions: int | None = None,
) -> SalsaResult:
    e = edges.select("src_id", "dst_id").distinct()
    outd = e.groupBy("src_id").agg((1.0 / F.count("*")).alias("w_out"))
    ind = e.groupBy("dst_id").agg((1.0 / F.count("*")).alias("w_in"))
    weighted = e.join(outd, "src_id").join(ind, "dst_id")
    return hub_authority(vertices, weighted, _salsa_chain, tol, max_iter, num_partitions)


def salsa_fixed_iterations(
    vertices: DataFrame, edges: DataFrame, iterations: int
) -> DataFrame:
    """Exactly-k-iteration SALSA — the SQL-oracle variant."""
    return salsa(vertices, edges, tol=-1.0, max_iter=iterations).scores
