"""HyperBall: per-vertex neighborhood-size estimation with HLL registers.

The scale path for distance-based centrality (Boldi & Vigna, 2013 —
"HyperBall: beyond 1.4 billion pairs"): each vertex carries an HLL
sketch of its out-ball B(v, t); one relaxation round unions every
neighbor's ball into it (register-wise max — HLL union is exact), so
after r rounds the sketch estimates |B(v, r)|. State is O(V · 2^p)
small integers however large the graph; each round is ONE edge join +
ONE (id, bucket) max-aggregate — shuffle-native, no per-pair
materialization (the exact form in
:mod:`amanogawa_spark.graph.centrality` is the verify baseline).

Registers use the engine-portable md5 scheme from
:mod:`amanogawa_spark.operators.sketch`, so a DuckDB oracle computing
the EXACT ball then sketching it reproduces these estimates
bit-for-bit — the estimate is a deterministic function of the ball set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.graph.superstep import checkpoint_observing
from amanogawa_spark.operators.sketch import _h32_md5, _rho


def hyperball_registers(
    vertices: DataFrame,
    edges: DataFrame,
    radius: int = 2,
    p: int = 6,
) -> DataFrame:
    """(id, bucket, rho) — HLL registers of each vertex's out-ball
    B(id, radius) = {id} ∪ {v : d(id → v) ≤ radius}.
    """
    tail_bits = 32 - p
    e = (
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
    )

    def regs_of(member: F.Column) -> tuple[F.Column, F.Column]:
        h = _h32_md5(member)
        bucket = F.shiftright(h, tail_bits)
        tail = h.bitwiseAND(F.lit((1 << tail_bits) - 1))
        return bucket, _rho(tail, tail_bits)

    b0, r0 = regs_of(F.col("id"))
    state = (
        vertices.select("id", b0.alias("bucket"), r0.alias("rho"))
        .groupBy("id", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    for _ in range(radius):
        state = _relax(e, state)
    return state


def _relax(e: DataFrame, state: DataFrame) -> DataFrame:
    """One relaxation round, materialized by an eager local checkpoint:
    each vertex u's next ball absorbs every out-neighbor w's current ball
    (register-wise max over ``e``'s (src_id, dst_id) edges)."""
    contrib = e.join(
        state.select(F.col("id").alias("dst_id"), "bucket", "rho"), "dst_id"
    ).select(F.col("src_id").alias("id"), "bucket", "rho")
    return (
        state.unionAll(contrib)
        .groupBy("id", "bucket")
        .agg(F.max("rho").alias("rho"))
        .localCheckpoint(eager=True)
    )


def hyperball_estimates(registers: DataFrame, p: int = 6) -> DataFrame:
    """(id, estimate) — per-vertex ball-size estimate from a register
    table (raw HLL estimator + small-range linear-counting correction,
    the grouped form of :func:`~amanogawa_spark.operators.sketch.hll_estimate`)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy("id").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
        F.count("*").alias("v_present"),
    )
    s = F.col("s_present") + (F.lit(m) - F.col("v_present"))
    zeros = F.lit(m) - F.col("v_present")
    raw = F.lit(alpha * m * m) / s
    corrected = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select("id", corrected.alias("estimate"))


def hyperball(
    vertices: DataFrame, edges: DataFrame, radius: int = 2, p: int = 6
) -> DataFrame:
    """(id, estimate) — estimated |B(id, radius)| per vertex (incl. self)."""
    return hyperball_estimates(
        hyperball_registers(vertices, edges, radius, p), p
    )


def neighborhood_function(
    vertices: DataFrame,
    edges: DataFrame,
    max_radius: int = 32,
    p: int = 6,
    rel_tol: float = 1e-3,
) -> list[tuple[int, float]]:
    """HyperANF: [(r, N(r))] where N(r) = Σ_v |B(v, r)| estimated.

    One relaxation round + one 1-row aggregate per radius; stops when
    N(r) stops growing (relative change < ``rel_tol``) — the balls have
    saturated, i.e. r reached the graph's (apparent) diameter. This is
    the classic distance-distribution summary at O(V·2^p) state —
    the exact computation is all-pairs BFS and does not exist at scale.
    """
    tail_bits = 32 - p
    e = (
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = hyperball_registers(vertices, e, radius=0, p=p)
    curve: list[tuple[int, float]] = []
    prev_total = float(
        hyperball_estimates(state, p).agg(F.sum("estimate")).collect()[0][0] or 0.0
    )
    curve.append((0, prev_total))
    for r in range(1, max_radius + 1):
        state = _relax(e, state)
        total = float(
            hyperball_estimates(state, p).agg(F.sum("estimate")).collect()[0][0] or 0.0
        )
        curve.append((r, total))
        if prev_total > 0 and abs(total - prev_total) / prev_total < rel_tol:
            break
        prev_total = total
    e.unpersist()
    return curve


def effective_diameter(
    vertices: DataFrame,
    edges: DataFrame,
    q: float = 0.9,
    max_radius: int = 32,
    p: int = 6,
) -> float:
    """q-effective diameter (HyperANF): the interpolated radius at which
    the neighborhood function reaches a ``q`` fraction of its final
    (saturated) value — the standard "90% of reachable pairs are within
    d hops" web-graph statistic."""
    curve = neighborhood_function(vertices, edges, max_radius, p)
    final = curve[-1][1]
    if final <= 0:
        return 0.0
    target = q * final
    for (r0, n0), (r1, n1) in zip(curve, curve[1:]):
        if n1 >= target:
            if n1 == n0:
                return float(r1)
            return r0 + (target - n0) / (n1 - n0)
    return float(curve[-1][0])


def hyperball_closeness(
    vertices: DataFrame,
    edges: DataFrame,
    max_radius: int = 8,
    p: int = 6,
    rel_tol: float = 1e-3,
) -> DataFrame:
    """(id, reached, sum_dist, closeness) — closeness centrality from the
    HyperBall distance distribution (Boldi & Vigna's application of ANF
    sketches to centrality): sum_dist(v) = Σ_r r·(|B(v,r)| − |B(v,r−1)|)
    and closeness(v) = (|B(v,R)| − |B(v,0)|) / sum_dist(v) (0.0 for
    vertices reaching nothing). All quantities are the deterministic HLL
    estimates, so a radius-bounded oracle reproduces them bit-for-bit.
    Per radius: one edge join + one register max-aggregate + one O(V)
    accumulate join — O(V·2^p) state at any graph size.
    """
    e = (
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = hyperball_registers(vertices, e, radius=0, p=p)
    est0 = hyperball_estimates(state, p)
    acc, m = checkpoint_observing(
        est0.select(
            "id",
            F.col("estimate").alias("b0"),
            F.col("estimate").alias("prev"),
            F.lit(0.0).alias("sum_dist"),
        ),
        {"total": F.sum("prev")},
    )
    prev_total = float(m["total"])
    for r in range(1, max_radius + 1):
        state = _relax(e, state)
        est_r = hyperball_estimates(state, p).withColumnRenamed("estimate", "cur")
        acc, m = checkpoint_observing(
            acc.join(est_r, "id").select(
                "id",
                "b0",
                F.col("cur").alias("prev"),
                (
                    F.col("sum_dist")
                    + F.lit(float(r)) * (F.col("cur") - F.col("prev"))
                ).alias("sum_dist"),
            ),
            {"total": F.sum("prev")},
        )
        total = float(m["total"])
        if prev_total > 0 and abs(total - prev_total) / prev_total < rel_tol:
            break
        prev_total = total
    e.unpersist()
    return acc.select(
        "id",
        F.col("prev").alias("reached"),
        "sum_dist",
        F.when(
            F.col("sum_dist") > 0,
            (F.col("prev") - F.col("b0")) / F.col("sum_dist"),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )
