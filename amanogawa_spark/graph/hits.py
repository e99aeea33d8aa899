"""HITS (hubs and authorities) over the directed edge table.

Kleinberg's algorithm: authority(v) = sum of hub scores pointing at v;
hub(u) = sum of authority scores u points at; normalize each vector per
iteration. L1 normalization (sum = 1) rather than L2 — same fixed-point
ranking, but the per-iteration scalar is a plain SUM, which keeps the
DuckDB oracle an exact unrolled-CTE mirror (an L2 norm's sqrt would
introduce a second association order to match).

Execution shape: :func:`hub_authority` is the step HITS and SALSA
(``graph/salsa.py``) share, run by the superstep loop
(``graph/superstep.py``) over one
:func:`~amanogawa_spark.graph.pagerank.two_way_layout`: the edge table
hashed on ``src_id`` and again on ``dst_id``, so a forward push (along
out-edges) and a backward push (along in-edges) are each a narrow join
plus an O(V) ``groupBy``. HITS is forward(hub), then backward(the new
authority), every edge weighing 1. Each iteration is ONE job: the state
carries iteration k's raw scores and iteration k-1's normalized ones, and
the L1 sums of the raw scores and the L1 delta of the k-2 → k-1
transition are observed in that job. Convergence is therefore seen one
iteration late (at most one extra iteration; the first iteration's delta
measures the start vector against zero). The returned scores are the
final raw scores over their observed sums — no extra job.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amanogawa_spark.graph.pagerank import two_way_layout
from amanogawa_spark.graph.superstep import supersteps

# push(frame (id, x), forward) -> (id, x); chain(push, scores) -> the raw
# (authority, hub) frames of one iteration from the normalized scores
Push = Callable[[DataFrame, bool], DataFrame]


@dataclass
class HitsResult:
    scores: DataFrame  # (id long, hub double, authority double)
    iterations: int
    delta: float  # lagged L1 delta of the last round, -1.0 when none ran
    history: list[dict] = field(default_factory=list)


def _normalized(raw: str, total: float) -> F.Column:
    return F.col(raw) / F.lit(total or 1.0)


def hub_authority(
    vertices: DataFrame,
    edges: DataFrame,
    chain: Callable[[Push, DataFrame], tuple[DataFrame, DataFrame]],
    tol: float,
    max_iter: int,
    num_partitions: int | None,
) -> HitsResult:
    """Iterate ``chain`` from the uniform vector until the lagged L1 delta
    is at most ``tol``. ``edges`` is (src_id, dst_id, w_out, w_in): a value
    pushed forward along an edge is multiplied by ``w_out``, backward by
    ``w_in``. ``chain(push, scores)`` maps the normalized ``(id, hub,
    authority)`` scores to the raw authority and hub frames ``(id, x)``."""
    with two_way_layout(vertices, edges, num_partitions) as lay:

        def push(frame: DataFrame, forward: bool) -> DataFrame:
            w = F.col("w_out" if forward else "w_in")
            return lay.contributions(frame, forward).agg(F.sum(F.col("x") * w).alias("x"))

        def step(state: DataFrame, prev: dict) -> DataFrame:
            scores = state.select(
                "id",
                _normalized("hub_raw", prev["hub_sum"]).alias("hub"),
                _normalized("auth_raw", prev["auth_sum"]).alias("authority"),
                F.col("hub").alias("p_hub"),
                F.col("authority").alias("p_auth"),
            )
            auth, hub = chain(push, scores)
            return (
                scores.join(auth.hint("shuffle_hash"), "id", "left")
                .withColumnRenamed("x", "auth_raw")
                .join(hub.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    "hub",
                    "authority",
                    (
                        F.abs(F.col("hub") - F.col("p_hub"))
                        + F.abs(F.col("authority") - F.col("p_auth"))
                    ).alias("d"),
                    F.coalesce("x", F.lit(0.0)).alias("hub_raw"),
                    F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw"),
                )
            )

        u = F.lit(1.0 / max(lay.n, 1))
        run = supersteps(
            lay.verts.select(
                "id",
                u.alias("hub_raw"),
                u.alias("auth_raw"),
                F.lit(0.0).alias("hub"),
                F.lit(0.0).alias("authority"),
            ),
            step,
            {
                "hub_sum": F.sum("hub_raw"),
                "auth_sum": F.sum("auth_raw"),
                "delta": F.sum("d"),
            },
            max_iter,
            lambda m, _: m["delta"] <= tol,
            start_metrics={"hub_sum": 1.0, "auth_sum": 1.0},
        )
    m = run.metrics
    return HitsResult(
        scores=run.state.select(
            "id",
            _normalized("hub_raw", m["hub_sum"]).alias("hub"),
            _normalized("auth_raw", m["auth_sum"]).alias("authority"),
        ),
        iterations=run.rounds,
        delta=m.get("delta", -1.0),
        history=run.history,
    )


def _hits_chain(push: Push, scores: DataFrame) -> tuple[DataFrame, DataFrame]:
    # the classic two-phase update: hubs from the NEW (raw) authorities
    auth = push(scores.select("id", F.col("hub").alias("x")), True)
    return auth, push(auth, False)


def hits(
    vertices: DataFrame,
    edges: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 50,
    num_partitions: int | None = None,
) -> HitsResult:
    unit = (
        edges.select("src_id", "dst_id")
        .distinct()
        .select("*", F.lit(1.0).alias("w_out"), F.lit(1.0).alias("w_in"))
    )
    return hub_authority(vertices, unit, _hits_chain, tol, max_iter, num_partitions)


def hits_fixed_iterations(
    vertices: DataFrame, edges: DataFrame, iterations: int
) -> DataFrame:
    """Exactly-k-iteration HITS — the SQL-oracle variant."""
    return hits(vertices, edges, tol=-1.0, max_iter=iterations).scores
