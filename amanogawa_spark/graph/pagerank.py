"""PageRank as an iterative DataFrame program.

Semantics (north rule): damping 0.85, dangling-mass redistribution,
L1-delta convergence (default 1e-6), per-vertex scores.

Scale design (SURVEY.md §4.2):
- the partition count is chosen FIRST (>=250k edges per partition, capped
  at ``spark.sql.shuffle.partitions``), then :func:`loop_layout` builds
  the two persisted layouts under the loop's own conf (AQE off, shuffle
  partitions = that count): the degree-annotated edge table hashed on
  ``src_id`` and the vertex table hashed on ``id``. Built that way the
  cached relations expose their ``HashPartitioning``, so the planner sees
  both per-iteration joins as co-partitioned. (Persisted under AQE they
  cache an ``AdaptiveSparkPlan`` that hides its partitioning, and every
  iteration re-shuffles the whole edge table.)
- the loop carries ONE state frame ``(id, dang, rank)`` hashed on ``id``.
  Per iteration the only shuffle is the ``groupBy(dst_id)`` partial+final
  hash aggregate of the contributions — O(V) rows; ``edges ⋈ state`` and
  ``state ⋈ contributions`` are both narrow.
- every iteration is one small plan of fixed size and ONE job: the next
  state (with ``old_rank`` carried along) is materialized and truncated by
  an eager ``localCheckpoint``, and the L1 delta and the NEXT iteration's
  dangling mass (``sum(rank * dang)``) are observed aggregates of that same
  pass (``DataFrame.observe``) — no separate aggregate stage or plan.
  (Measured against a lazy checkpoint plus an ``agg().collect()`` over
  it: same results, ~18% lower per-iteration time, one stage fewer.) No
  per-iteration persist/unpersist.
- a :class:`CheckpointManager` snapshot of the materialized state every
  ``checkpoint_every`` iterations makes the run resumable; per-iteration
  metrics (delta, dangling mass, wall time) go to the metrics journal.
- hub-vertex skew in ``groupBy(dst_id)`` is collapsed map-side by the
  partial aggregate; ``adaptive=True`` opts back into AQE skew handling,
  and ``graph/skew.py`` has the two-level salted aggregate.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.checkpoint import CheckpointManager
from amanogawa_spark.graph.iter_conf import iteration_conf

# size-aware partitioning: a loop re-touches the SAME cached partitioning
# every iteration, and a 43k-edge graph spread over 32 partitions pays 32
# task launches per stage for microseconds of work each
EDGES_PER_PARTITION = 250_000


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id long, rank double)
    iterations: int
    delta: float
    history: list[dict] = field(default_factory=list)


@dataclass
class LoopLayout:
    edges: DataFrame  # (src_id, dst_id, out_degree[, weight]) hashed on src_id
    verts: DataFrame  # (id, dang) hashed on id
    n: int  # vertex count
    n_dangling: int


@contextmanager
def loop_layout(
    vertices: DataFrame,
    edges: DataFrame,
    num_partitions: int | None = None,
    adaptive: bool = False,
    weight_col: str | None = None,
) -> Iterator[LoopLayout]:
    """Persisted edge and vertex layouts for a PageRank-shaped loop, with
    the loop conf in force for the whole ``with`` block.

    The conf (AQE off unless ``adaptive``, shuffle partitions pinned to the
    layout's partition count) is entered BEFORE the layouts are built, so
    the cached relations report ``HashPartitioning`` on ``src_id`` / ``id``
    with exactly the partition count the loop's own exchanges use — the
    precondition for narrow per-iteration joins. ``out_degree`` is the
    out-edge count, or the out-weight sum under ``weight_col``; ``dang`` is
    1.0 for vertices without out-edges. Both caches are released and the
    conf restored on exit; results handed out of the block must already be
    materialized (``localCheckpoint``) or they recompute from the sources.
    """
    spark = vertices.sparkSession
    n_part = num_partitions
    if n_part is None:
        session = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_part = min(session, max(2, edges.count() // EDGES_PER_PARTITION + 1))
    with iteration_conf(spark, disable_aqe=not adaptive, shuffle_partitions=n_part):
        out_deg = edges.groupBy("src_id").agg(
            (
                F.sum(F.col(weight_col).cast("double"))
                if weight_col is not None
                else F.count("*").cast("double")
            ).alias("out_degree")
        )
        edge_cols = ["src_id", "dst_id"] + ([weight_col] if weight_col else [])
        edges_w = (
            edges.select(*edge_cols)
            .join(out_deg, "src_id")
            .repartition(n_part, "src_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        verts = (
            vertices.select("id")
            .distinct()
            .join(out_deg.withColumnRenamed("src_id", "id"), "id", "left")
            .select("id", F.col("out_degree").isNull().cast("double").alias("dang"))
            .repartition(n_part, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # one job materializes the vertex cache; the edge cache fills
            # inside the first iteration's job
            n, n_dang = verts.agg(F.count("*"), F.sum("dang")).collect()[0]
            yield LoopLayout(edges_w, verts, int(n), int(n_dang or 0))
        finally:
            edges_w.unpersist()
            verts.unpersist()


def _contributions(
    edges_w: DataFrame, state: DataFrame, value: str, weight_col: str | None = None
) -> DataFrame:
    """(id, in_mass): ``value`` of each source pushed along its out-edges,
    split by out-degree (``value="rank"``) or summed whole (any other
    column, e.g. Katz scores). The state side is O(V) rows and already
    hashed like the edges, so the shuffle_hash hint keeps the join narrow
    (a broadcast would ship the whole vector through the driver every
    iteration; sort-merge would re-sort the cached edge table)."""
    if value != "rank":
        contrib = F.col(value)
    elif weight_col is not None:
        contrib = F.col("rank") * F.col(weight_col) / F.col("out_degree")
    else:
        contrib = F.col("rank") / F.col("out_degree")
    # every DataFrame call re-analyzes the growing plan on the driver, so
    # the step is written with as few of them as possible
    return (
        edges_w.join(state.hint("shuffle_hash"), edges_w.src_id == state.id)
        .groupBy(F.col("dst_id").alias("id"))
        .agg(F.sum(contrib).alias("in_mass"))
    )


def _checkpoint_observing(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, list[float]]:
    """Materialize ``df`` as a local checkpoint in ONE job and return it
    with the values of the aggregate ``metrics`` over its rows, computed
    in that same pass (0.0 for an empty frame)."""
    obs = Observation()
    names = [f"m{i}" for i in range(len(metrics))]
    df = df.observe(obs, *(m.alias(k) for m, k in zip(metrics, names)))
    out = df.localCheckpoint(eager=True)
    got = obs.get
    return out, [got[k] or 0.0 for k in names]


def _dangling_mass() -> Column:
    return F.sum(F.col("rank") * F.col("dang"))


def _advance(nxt: DataFrame) -> tuple[DataFrame, float, float]:
    """Run an iteration's single job over ``nxt`` (carrying ``rank``,
    ``old_rank``, ``dang``): returns (materialized state, L1 delta,
    dangling mass of the new ranks)."""
    state, (delta, dm) = _checkpoint_observing(
        nxt, F.sum(F.abs(F.col("rank") - F.col("old_rank"))), _dangling_mass()
    )
    return state, delta, dm


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_every: int = 5,
    checkpoint: CheckpointManager | None = None,
    num_partitions: int | None = None,
    weight_col: str | None = None,
    adaptive: bool = False,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Power iteration: r' = (1-d)/N + d * (A^T r/outdeg + dangling/N).

    ``weight_col``: optional positive edge-weight column — each source
    splits its rank proportionally to weight instead of uniformly
    (contrib = rank * w / sum-of-outgoing-w). The reference's ``to_graph``
    emits similarity-weighted kNN edges (to_graph.cpp:82-117), and
    domain-rollup graphs carry multi-edge counts; both rank correctly only
    under the weighted walk. Execution shape is IDENTICAL to the unweighted
    path — ``out_degree`` simply becomes the out-weight sum, computed once
    into the persisted edge table, so per-iteration cost does not change.

    ``checkpoint``: resumes from its latest snapshot and writes one every
    ``checkpoint_every`` iterations. ``initial_ranks`` (id, rank) warm-starts
    a cold run. ``adaptive=True`` keeps AQE on inside the loop.
    """
    with loop_layout(vertices, edges, num_partitions, adaptive, weight_col) as lay:
        n = lay.n
        if n == 0:
            return PageRankResult(
                ranks=lay.verts.select("id", F.lit(0.0).alias("rank")),
                iterations=0,
                delta=0.0,
            )

        start_iter = 0
        start = None
        if checkpoint is not None:
            last = checkpoint.latest_iteration()
            if last is not None:
                start = checkpoint.load(last)
                start_iter = last
        warm = start is None and initial_ranks is not None
        if warm:
            # warm start (incremental recrawl): yesterday's scores projected
            # onto today's vertex set — new pages get the uniform share,
            # dropped pages vanish — renormalized below to unit mass so the
            # dangling redistribution algebra stays exact. The fixpoint is
            # unchanged (power iteration has a unique attractor); a nearby
            # start only takes fewer iterations to reach it.
            start = initial_ranks
        if start is None:
            state = lay.verts.select("id", "dang", F.lit(1.0 / n).alias("rank"))
            dangling_mass = lay.n_dangling / n
        else:
            state = lay.verts.join(
                start.select("id", F.col("rank").alias("_r0")), "id", "left"
            ).select("id", "dang", F.coalesce("_r0", F.lit(1.0 / n)).alias("rank"))
            state, (mass, dangling_mass) = _checkpoint_observing(
                state, F.sum("rank"), _dangling_mass()
            )
            if warm:
                mass = mass or 1.0
                state = state.select(
                    "id", "dang", (F.col("rank") / F.lit(mass)).alias("rank")
                )
                dangling_mass /= mass

        base = (1.0 - damping) / n
        history: list[dict] = []
        delta = float("inf")
        it = start_iter
        while it < max_iter and delta > tol:
            t0 = time.time()
            it += 1
            contribs = _contributions(lay.edges, state, "rank", weight_col)
            nxt = state.join(contribs.hint("shuffle_hash"), "id", "left").select(
                "id",
                "dang",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("in_mass", F.lit(0.0)) + F.lit(dangling_mass / n))
                ).alias("rank"),
                F.col("rank").alias("old_rank"),
            )
            state, delta, dangling_mass = _advance(nxt)
            if checkpoint is not None and it % checkpoint_every == 0:
                # written from the materialized state; the loop goes on
                # from the local checkpoint, which keeps its partitioning
                checkpoint.save(state.select("id", "rank"), it)
            row = {
                "iteration": it,
                "l1_delta": float(delta),
                "dangling_mass": float(dangling_mass),
                "seconds": time.time() - t0,
            }
            history.append(row)
            if checkpoint is not None:
                checkpoint.log_metrics(
                    it,
                    l1_delta=row["l1_delta"],
                    dangling_mass=row["dangling_mass"],
                    seconds=row["seconds"],
                )

    ranks = state.select("id", "rank")
    return PageRankResult(ranks=ranks, iterations=it, delta=float(delta), history=history)


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    adaptive: bool = False,
) -> PageRankResult:
    """Personalized PageRank: restart vector concentrated on ``seeds``.

    r' = (1-d)·s + d·(Aᵀ r/outdeg + dangling_mass·s), r₀ = s, where
    s_i = 1/|S| on the seed set and 0 elsewhere — random walks teleport
    back to the seeds, so scores measure proximity to them (the standard
    seeded-relevance ranking over a link graph). Same execution shape as
    :func:`pagerank` (same :func:`loop_layout`, one state frame that also
    carries the restart value ``sv``, ONE driver action per iteration).
    """
    seed_ids = seeds.select("id").distinct()
    n_seeds = seed_ids.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank requires a non-empty seed set")
    with loop_layout(vertices, edges, num_partitions, adaptive) as lay:
        sv = F.when(F.col("_is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
        state, (dangling_mass,) = _checkpoint_observing(
            lay.verts.join(seed_ids.withColumn("_is_seed", F.lit(True)), "id", "left")
            .select("id", "dang", sv.alias("sv"), sv.alias("rank")),
            _dangling_mass(),
        )
        history: list[dict] = []
        delta = float("inf")
        it = 0
        while it < max_iter and delta > tol:
            t0 = time.time()
            it += 1
            contribs = _contributions(lay.edges, state, "rank")
            nxt = state.join(contribs.hint("shuffle_hash"), "id", "left").select(
                "id",
                "dang",
                "sv",
                (
                    F.col("sv")
                    * (F.lit(1.0 - damping) + F.lit(damping * dangling_mass))
                    + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
                ).alias("rank"),
                F.col("rank").alias("old_rank"),
            )
            state, delta, next_dangling = _advance(nxt)
            history.append(
                {
                    "iteration": it,
                    "l1_delta": float(delta),
                    "dangling_mass": float(dangling_mass),
                    "seconds": time.time() - t0,
                }
            )
            dangling_mass = next_dangling
    ranks = state.select("id", "rank")
    return PageRankResult(ranks=ranks, iterations=it, delta=float(delta), history=history)


def katz_centrality(
    vertices: DataFrame,
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    iterations: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, katz) — Katz centrality by fixed-point iteration:
    x' = α·Aᵀx + β (x₀ = β·1). Counts ALL walks into a vertex damped by
    length — unlike PageRank it does not split a source's influence by
    out-degree, so a hub endorses every target at full strength (the
    citation/endorsement reading). α must stay below 1/λ_max for the
    series to converge; the fixed-iteration form is the oracle-friendly
    truncation. Same execution shape as :func:`pagerank`: the
    :func:`loop_layout` edge table, per iteration only the score vector's
    contributions shuffle, state truncated by a localCheckpoint whose
    materialization is the round's one job."""
    with loop_layout(vertices, edges, num_partitions) as lay:
        scores = lay.verts.select("id", F.lit(beta).alias("katz"))
        for _ in range(iterations):
            contribs = _contributions(lay.edges, scores, "katz")
            scores = (
                scores.join(contribs.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    (
                        F.lit(alpha) * F.coalesce("in_mass", F.lit(0.0)) + F.lit(beta)
                    ).alias("katz"),
                )
                .localCheckpoint(eager=True)
            )
    return scores


def pagerank_fixed_iterations(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int,
    damping: float = 0.85,
    weight_col: str | None = None,
) -> DataFrame:
    """Exactly-k-iteration PageRank (no convergence test) — the oracle-
    friendly variant matched against unrolled SQL CTEs in DuckDB."""
    res = pagerank(
        vertices,
        edges,
        damping=damping,
        tol=-1.0,  # never converge early
        max_iter=iterations,
        weight_col=weight_col,
    )
    return res.ranks
