"""PageRank as an iterative DataFrame program.

Semantics (north rule): damping 0.85, dangling-mass redistribution,
L1-delta convergence (default 1e-6), per-vertex scores.

Scale design (SURVEY.md §4.2) — one loop, two layouts:
- the partition count is chosen FIRST (>=250k edges per partition, capped
  at ``spark.sql.shuffle.partitions``), then :func:`scoped_layout` builds
  the two persisted layouts under the loop's own conf (AQE off, shuffle
  partitions = that count). Built that way the cached relations expose
  their ``HashPartitioning``, so the planner sees the per-iteration joins
  as co-partitioned. (Persisted under AQE they cache an
  ``AdaptiveSparkPlan`` that hides its partitioning, and every iteration
  re-shuffles the whole edge table.)
- a layout is an edge table, a vertex table hashed on ``id`` and a
  contributions step. The classic layout (:func:`loop_layout`) hashes the
  degree-annotated edge table on ``src_id`` and joins the state to it
  narrowly on ``src_id``; the pid-clustered layout (``graph/blocked.py``)
  hashes it on ``(spid, salt)`` and re-hashes the state to match.
  :func:`scoped_layout` also makes :func:`two_way_layout` (the edge table
  hashed on ``src_id`` and again on ``dst_id``) for HITS, SALSA and SCC,
  whose pushes run both ways along the edges.
- :func:`power_iterate` is PageRank's step over any layout (``pagerank``,
  ``personalized_pagerank``, ``blocked_pagerank``); the shared superstep
  loop (``graph/superstep.py``) runs it, with its snapshots every
  ``checkpoint_every`` iterations, resume and metrics journal. It carries
  one state frame ``(id, dang, [extra...], rank)`` hashed on ``id``. Per
  iteration the only shuffle on the classic layout is the
  ``groupBy(dst_id)`` partial+final hash aggregate of the contributions —
  O(V) rows; ``edges ⋈ state`` and ``state ⋈ contributions`` are both
  narrow.
- every iteration is one small plan of fixed size and ONE job (the loop's
  eager observed ``localCheckpoint``): the L1 delta and the NEXT
  iteration's dangling mass (``sum(rank * dang)``) are observed aggregates
  of the pass that materializes the next state. (Measured against a lazy
  checkpoint plus an ``agg().collect()`` over it: same results, ~18%
  lower per-iteration time, one stage fewer.)
- hub-vertex skew in ``groupBy(dst_id)`` is collapsed map-side by the
  partial aggregate; ``adaptive=True`` opts back into AQE skew handling,
  and ``graph/skew.py`` has the two-level salted aggregate.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.checkpoint import CheckpointManager
from amanogawa_spark.graph.iter_conf import iteration_conf
from amanogawa_spark.graph.superstep import checkpoint_observing, supersteps

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
    edges: tuple[DataFrame, ...]  # persisted edge tables
    verts: DataFrame  # (id, dang[, layout columns]) hashed on id
    n: int  # vertex count
    n_dangling: int
    # the push along the cached edges; on PageRank's layouts
    # state -> (id, in_mass), the rank pushed along the out-edges
    contributions: Callable[..., Any]


@contextmanager
def scoped_layout(
    edges: DataFrame,
    num_partitions: int | None,
    adaptive: bool,
    build: Callable[[int], tuple[tuple[DataFrame, ...], DataFrame, Callable[..., Any]]],
) -> Iterator[LoopLayout]:
    """Persisted edge and vertex layouts for a PageRank-shaped loop, with
    the loop conf in force for the whole ``with`` block.

    The partition count is ``num_partitions``, else one per
    ``EDGES_PER_PARTITION`` edges capped at the session's shuffle
    partitions. The conf (AQE off unless ``adaptive``, shuffle partitions
    pinned to that count) is entered BEFORE ``build(n_part)`` runs, so the
    cached relations report their ``HashPartitioning`` with exactly the
    partition count the loop's own exchanges use — the precondition for
    narrow per-iteration joins. ``build`` returns the edge tables, the
    vertex table (``id``, ``dang`` = 1.0 for vertices without out-edges,
    plus any layout columns; hashed on ``id`` here) and the contributions
    step over the edge tables. The edge tables are persisted first, in
    order, so a table derived from an earlier one reads its cache. All
    caches are released and the conf restored on exit; results handed out
    of the block must already be materialized (``localCheckpoint``) or
    they recompute from the sources.
    """
    spark = edges.sparkSession
    n_part = num_partitions
    if n_part is None:
        session = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_part = min(session, max(2, edges.count() // EDGES_PER_PARTITION + 1))
    with iteration_conf(spark, disable_aqe=not adaptive, shuffle_partitions=n_part):
        tables, verts, contributions = build(n_part)
        for t in tables:
            t.persist(StorageLevel.MEMORY_AND_DISK)
        verts = verts.repartition(n_part, "id").persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # one job materializes the vertex cache; the edge caches fill
            # inside the first job that reads them
            n, n_dang = verts.agg(F.count("*"), F.sum("dang")).collect()[0]
            yield LoopLayout(tables, verts, int(n), int(n_dang or 0), contributions)
        finally:
            for t in (*tables, verts):
                t.unpersist()


@contextmanager
def loop_layout(
    vertices: DataFrame,
    edges: DataFrame,
    num_partitions: int | None = None,
    adaptive: bool = False,
    weight_col: str | None = None,
) -> Iterator[LoopLayout]:
    """The classic layout: the degree-annotated edge table hashed on
    ``src_id`` and the ``(id, dang)`` vertex table hashed on ``id``, built
    by :func:`scoped_layout`. ``out_degree`` is the out-edge count, or the
    out-weight sum under ``weight_col``; the contributions step is the
    narrow ``edges ⋈ state`` join on ``src_id``."""

    def build(n_part: int):
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
        )
        verts = (
            vertices.select("id")
            .distinct()
            .join(out_deg.withColumnRenamed("src_id", "id"), "id", "left")
            .select("id", F.col("out_degree").isNull().cast("double").alias("dang"))
        )
        return (edges_w,), verts, lambda s: _contributions(edges_w, s, "rank", weight_col)

    with scoped_layout(edges, num_partitions, adaptive, build) as lay:
        yield lay


@contextmanager
def two_way_layout(
    vertices: DataFrame, edges: DataFrame, num_partitions: int | None = None
) -> Iterator[LoopLayout]:
    """``edges`` (``src_id``, ``dst_id`` and any weight columns) persisted
    twice — hashed on ``src_id`` and again on ``dst_id`` — and the
    vertex table, built by :func:`scoped_layout`; no caller has a
    dangling term, so ``dang`` is 0 and ``n_dangling`` 0. Its
    contributions step ``along(frame, forward)`` joins an O(V) frame
    ``(id, ...)`` hashed on ``id`` narrowly to its vertices' out-edges
    (``forward``) or in-edges and groups the rows by the far end, as
    ``id``; the caller picks the aggregate (HITS, SALSA and SCC)."""

    def build(n_part: int):
        fwd = edges.repartition(n_part, "src_id")
        bwd = fwd.repartition(n_part, "dst_id")
        verts = vertices.select("id").distinct().withColumn("dang", F.lit(0.0))

        def along(frame: DataFrame, forward: bool) -> GroupedData:
            e, key, far = (fwd, "src_id", "dst_id") if forward else (bwd, "dst_id", "src_id")
            return e.join(
                frame.withColumnRenamed("id", key).hint("shuffle_hash"), key
            ).groupBy(F.col(far).alias("id"))

        return (fwd, bwd), verts, along

    with scoped_layout(edges, num_partitions, False, build) as lay:
        yield lay


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


def _dangling_mass() -> Column:
    return F.sum(F.col("rank") * F.col("dang"))


def power_iterate(
    lay: LoopLayout,
    state: DataFrame,
    dangling_mass: float,
    rank_update: Callable[[Column, float], Column],
    tol: float,
    max_iter: int,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """PageRank power iteration over any layout, run by
    :func:`~amanogawa_spark.graph.superstep.supersteps`.

    ``state`` is the cold-start state ``(id, dang, [extra...], rank)``
    hashed on ``id`` and ``dangling_mass`` its ``sum(rank * dang)``; the
    extra columns (layout keys, a restart share) ride along unchanged.
    ``rank_update(in_mass, dangling_mass)`` is the new rank Column: the
    restart term plus the damped in-mass. Each iteration is ONE job whose
    L1 delta and next dangling mass are observed in the same pass; the
    loop stops once the delta is at most ``tol``.

    ``checkpoint`` resumes from its latest snapshot (vertices it misses
    keep their start rank) and writes one every ``checkpoint_every``
    iterations. ``initial_ranks`` (id, rank) warm-starts the run.
    ``delta`` is the L1 delta of the last transition, or -1.0 when none
    ran (e.g. a run resumed at ``max_iter``).
    """
    keep = [c for c in state.columns if c != "rank"]

    def onto(base: DataFrame, start: DataFrame) -> DataFrame:
        return base.join(
            start.select("id", F.col("rank").alias("_r0")), "id", "left"
        ).select(*keep, F.coalesce("_r0", "rank").alias("rank"))

    if initial_ranks is not None:
        # warm start (incremental recrawl): yesterday's scores projected
        # onto today's vertex set — new pages get their cold-start share,
        # dropped pages vanish — renormalized below to unit mass so the
        # dangling redistribution algebra stays exact. The fixpoint is
        # unchanged (power iteration has a unique attractor); a nearby
        # start only takes fewer iterations to reach it.
        state, m = checkpoint_observing(
            onto(state, initial_ranks),
            {"mass": F.sum("rank"), "dangling_mass": _dangling_mass()},
        )
        mass = m["mass"] or 1.0
        state = state.select(*keep, (F.col("rank") / F.lit(mass)).alias("rank"))
        dangling_mass = m["dangling_mass"] / mass

    def step(state: DataFrame, prev: dict) -> DataFrame:
        return state.join(
            lay.contributions(state).hint("shuffle_hash"), "id", "left"
        ).select(
            *keep,
            rank_update(
                F.coalesce("in_mass", F.lit(0.0)), prev["dangling_mass"]
            ).alias("rank"),
            F.col("rank").alias("old_rank"),
        )

    run = supersteps(
        state,
        step,
        {
            "l1_delta": F.sum(F.abs(F.col("rank") - F.col("old_rank"))),
            "dangling_mass": _dangling_mass(),
        },
        max_iter,
        lambda m, _: m["l1_delta"] <= tol,
        checkpoint,
        checkpoint_every,
        start_metrics={"dangling_mass": dangling_mass},
        # old_rank = rank, so the metrics observe on a resumed frame too
        resume=lambda cold, snap: onto(cold, snap).withColumn("old_rank", F.col("rank")),
        snapshot_cols=["id", "rank"],
    )
    return PageRankResult(
        ranks=run.state.select("id", "rank"),
        iterations=run.rounds,
        delta=run.history[-1]["l1_delta"] if run.history else -1.0,
        history=run.history,
    )


def layout_pagerank(
    lay: LoopLayout,
    damping: float,
    tol: float,
    max_iter: int,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Uniform-restart PageRank over any :class:`LoopLayout`:
    r' = (1-d)/N + d * (A^T r/outdeg + dangling/N), r0 = 1/N."""
    n = lay.n
    if n == 0:
        return PageRankResult(
            ranks=lay.verts.select("id", F.lit(0.0).alias("rank")),
            iterations=0,
            delta=-1.0,
        )
    base = (1.0 - damping) / n
    return power_iterate(
        lay,
        lay.verts.select("*", F.lit(1.0 / n).alias("rank")),
        lay.n_dangling / n,
        lambda in_mass, dm: F.lit(base) + F.lit(damping) * (in_mass + F.lit(dm / n)),
        tol,
        max_iter,
        checkpoint,
        checkpoint_every,
        initial_ranks,
    )


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
        return layout_pagerank(
            lay, damping, tol, max_iter, checkpoint, checkpoint_every, initial_ranks
        )


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
    seeded-relevance ranking over a link graph). The loop is
    :func:`power_iterate` over the classic :func:`loop_layout`; the state
    carries the restart share ``sv``.
    """
    seed_ids = seeds.select("id").distinct()
    n_seeds = seed_ids.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank requires a non-empty seed set")
    with loop_layout(vertices, edges, num_partitions, adaptive) as lay:
        sv = F.when(F.col("_is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
        state, m = checkpoint_observing(
            lay.verts.join(seed_ids.withColumn("_is_seed", F.lit(True)), "id", "left")
            .select("id", "dang", sv.alias("sv"), sv.alias("rank")),
            {"dangling_mass": _dangling_mass()},
        )
        return power_iterate(
            lay,
            state,
            m["dangling_mass"],
            lambda in_mass, dm: F.col("sv")
            * (F.lit(1.0 - damping) + F.lit(damping * dm))
            + F.lit(damping) * in_mass,
            tol,
            max_iter,
        )


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
        return supersteps(
            lay.verts.select("id", F.lit(beta).alias("katz")),
            lambda scores, _: scores.join(
                _contributions(lay.edges[0], scores, "katz").hint("shuffle_hash"),
                "id",
                "left",
            ).select(
                "id",
                (F.lit(alpha) * F.coalesce("in_mass", F.lit(0.0)) + F.lit(beta)).alias(
                    "katz"
                ),
            ),
            {},
            iterations,
            start_metrics={},
        ).state


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
