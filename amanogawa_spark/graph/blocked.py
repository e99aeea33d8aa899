"""Layout-aware ("blocked") PageRank — the consumer of the partition map.

``community_partition`` (the default partitioner on web-shaped graphs) /
``multilevel_partition`` / ``spinner_partition`` compute a low-cut
vertex→pid map; this module is where that map pays rent.  The edge table
is persisted hash-partitioned on ``(spid, salt)`` — the src vertex's
partition label plus a small salt for intra-pid parallelism — so each
Spark partition holds the edges of (a slice of) ONE graph partition.
Because the map is low-cut, the destinations touched by one Spark
partition concentrate in that same pid, and the per-iteration
contribution aggregation's map-side combine emits ~|V|/k partials per
partition instead of ~|V| — the shuffle that dominates iterative graph
jobs at scale shrinks by the locality the partitioner found.
``bench.py --layout`` measures exactly this: the same fixed-iteration job
with a clustered vs a random pid map, reporting per-stage shuffle bytes.

The per-iteration join stays EDGE-STATIONARY: the rank vector is
repartitioned to the same ``(pid, salt)`` hash layout and joined on
``(spid, salt, src_id)``; with
``spark.sql.requireAllClusterKeysForCoPartition=false`` Spark accepts the
shared subset partitioning and shuffles NEITHER side (plan-pinned by
tests/test_blocked_pagerank.py).  Per iteration the only moved data is
the O(V) rank vector plus the (locality-reduced) aggregation partials —
identical to the classic formulation's lower bound, minus the partial
blow-up.

Semantics match ``graph.pagerank.pagerank`` exactly (damping 0.85
default, dangling mass redistributed uniformly, same fixed-point) —
pytest asserts allclose(1e-12) against the classic plan on both layouts.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.graph.iter_conf import iteration_conf


@dataclass
class BlockedPageRankResult:
    ranks: DataFrame
    iterations: int
    seconds: float
    delta: float = -1.0  # final L1 delta (-1 when never measured)


def _with_conf(spark, key: str, value: str):
    class _Ctx:
        def __enter__(self):
            try:
                self.old = spark.conf.get(key)
            except Exception:
                self.old = None
            spark.conf.set(key, value)

        def __exit__(self, *exc):
            if self.old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, self.old)

    return _Ctx()


def blocked_edges(
    edges: DataFrame,
    labels: DataFrame,
    n_salt: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """(spid, salt, src_id, dst_id, out_degree): the pid-clustered,
    persisted edge layout. ``labels``: (id, pid). Vertices missing from
    the map fall back to pid 0 (the map may come from a coarse run that
    never saw isolated vertices)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_deg = edges.groupBy(F.col("src_id").alias("id")).agg(
        F.count("*").cast("double").alias("out_degree")
    )
    lab = labels.select("id", F.col("pid").cast("long").alias("pid"))
    e = (
        edges.select("src_id", "dst_id")
        .join(out_deg.withColumnRenamed("id", "src_id"), "src_id")
        .join(
            lab.select(F.col("id").alias("src_id"), F.col("pid").alias("spid")),
            "src_id",
            "left",
        )
        .select(
            F.coalesce("spid", F.lit(0)).alias("spid"),
            (F.col("src_id") % n_salt).cast("long").alias("salt"),
            "src_id",
            "dst_id",
            "out_degree",
        )
        .repartition(n_part, "spid", "salt")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    return e


def blocked_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    labels: DataFrame,
    damping: float = 0.85,
    max_iter: int = 8,
    n_salt: int = 4,
    num_partitions: int | None = None,
    prebuilt_edges: DataFrame | None = None,
    on_layout_ready=None,
    tol: float = -1.0,
    initial_ranks: DataFrame | None = None,
    checkpoint=None,
    checkpoint_every: int = 5,
) -> BlockedPageRankResult:
    """PageRank over the pid-clustered edge layout — fixed-iteration by
    default, convergent when ``tol > 0``.

    Same fixed point as ``pagerank(vertices, edges, tol=-1, max_iter=k)``;
    the execution shape is the layout-aware one described in the module
    docstring. Returns the rank vector plus wall seconds for the
    iteration loop (excluding the one-time layout build).

    Convergence costs NO extra pass: each rank frame carries the previous
    iteration's rank as ``old_rank``, so the per-iteration dangling-mass
    action also returns the L1 delta of the last transition. ``tol <= 0``
    (the default) keeps the historical fixed-``max_iter`` contract. In
    both modes ``delta`` is the L1 delta of the final transition (one
    small aggregate after the loop when it ran to ``max_iter``), or -1.0
    when no iteration ran.

    ``initial_ranks`` (id, rank) warm-starts the vector (normalized to
    unit mass, missing vertices filled uniformly). ``checkpoint``
    (a :class:`~amanogawa_spark.checkpoint.CheckpointManager`) makes
    every ``checkpoint_every``-th iteration durable and resumes from the
    latest snapshot on re-invocation — the same contract as the classic
    solver, so the curation superjob can run its PageRank stage on the
    clustered layout without losing kill-resume.
    """
    spark = vertices.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    lab = labels.select("id", F.col("pid").cast("long").alias("pid"))

    # ``prebuilt_edges``: reuse a blocked_edges() layout built (and
    # measured) separately — the bench isolates the one-time layout cost
    # from the per-iteration shuffle it exists to shrink
    e = (
        prebuilt_edges
        if prebuilt_edges is not None
        else blocked_edges(edges, labels, n_salt=n_salt, num_partitions=n_part)
    )

    # vertex table: (id, pid, salt, dang) — persisted in the SAME (pid,
    # salt) hash layout as the edges, so the per-iteration rank
    # repartition is the only vertex-sized movement
    verts = (
        vertices.select("id")
        .distinct()
        .join(
            e.select(F.col("src_id").alias("id")).distinct().withColumn(
                "_has_out", F.lit(1)
            ),
            "id",
            "left",
        )
        .join(lab, "id", "left")
        .select(
            "id",
            F.coalesce("pid", F.lit(0)).alias("pid"),
            (F.col("id") % n_salt).cast("long").alias("salt"),
            F.col("_has_out").isNull().cast("double").alias("dang"),
        )
        .repartition(n_part, "pid", "salt")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = verts.count()
    if n == 0:
        return BlockedPageRankResult(
            ranks=verts.select("id", F.lit(0.0).alias("rank")),
            iterations=0,
            seconds=0.0,
        )
    base = (1.0 - damping) / n

    start_iter = 0
    resume_ranks = None
    if checkpoint is not None:
        last = checkpoint.latest_iteration()
        if last is not None:
            resume_ranks = checkpoint.load(last)
            start_iter = last
    warm_src = resume_ranks if resume_ranks is not None else initial_ranks
    if warm_src is not None:
        warm = verts.join(
            warm_src.select("id", F.col("rank").alias("_r0")), "id", "left"
        ).select(
            "id", "pid", "salt", "dang",
            F.coalesce("_r0", F.lit(1.0 / n)).alias("rank"),
        ).localCheckpoint(eager=True)
        mass = warm.agg(F.sum("rank")).collect()[0][0] or 1.0
        ranks = warm.select(
            "id", "pid", "salt", "dang", (F.col("rank") / F.lit(mass)).alias("rank")
        )
    else:
        ranks = verts.select(
            "id", "pid", "salt", "dang", F.lit(1.0 / n).alias("rank")
        )
    # old_rank carries the previous iteration's value so the per-iteration
    # dangling-mass action returns the L1 delta for free (no extra pass)
    ranks = ranks.withColumn("old_rank", F.col("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    if on_layout_ready is not None:
        # everything above is one-time layout build; everything below is
        # the per-iteration loop the bench meters separately
        on_layout_ready()

    t0 = time.time()
    it = start_iter
    delta = float("inf")
    with _with_conf(
        spark, "spark.sql.requireAllClusterKeysForCoPartition", "false"
    ), iteration_conf(spark, disable_aqe=True):
        while it < max_iter:
            stats = ranks.agg(
                F.sum(F.col("rank") * F.col("dang")).alias("dm"),
                F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("dl"),
            ).collect()[0]
            dm = stats["dm"] or 0.0
            if it > start_iter:
                delta = stats["dl"] or 0.0
                if tol > 0 and delta <= tol:
                    break
            r = ranks.select(
                F.col("pid").alias("spid"),
                "salt",
                F.col("id").alias("src_id"),
                "rank",
            ).repartition(n_part, "spid", "salt")
            contribs = (
                e.join(r.hint("shuffle_hash"), ["spid", "salt", "src_id"])
                .select(
                    F.col("dst_id").alias("id"),
                    (F.col("rank") / F.col("out_degree")).alias("contrib"),
                )
                .groupBy("id")
                .agg(F.sum("contrib").alias("in_mass"))
            )
            nxt = (
                ranks.join(contribs.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    "pid",
                    "salt",
                    "dang",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (F.coalesce("in_mass", F.lit(0.0)) + F.lit(dm / n))
                    ).alias("rank"),
                    F.col("rank").alias("old_rank"),
                )
            )
            it += 1
            if checkpoint is not None and it % checkpoint_every == 0:
                saved = checkpoint.save(nxt.select("id", "rank"), it)
                checkpoint.log_metrics(it, dangling_mass=float(dm))
                nxt = (
                    ranks.select("id", "pid", "salt", "dang",
                                 F.col("rank").alias("old_rank"))
                    .join(saved.hint("shuffle_hash"), "id")
                    .select("id", "pid", "salt", "dang", "rank", "old_rank")
                    .localCheckpoint(eager=True)
                )
            else:
                nxt = nxt.localCheckpoint(eager=True)
            ranks = nxt
        # the loop's stats action measures the transition BEFORE each
        # step, so the final transition's delta needs one more pass when
        # the loop exhausted max_iter (always, in fixed-iteration mode)
        if it == max_iter and it > start_iter:
            delta = (
                ranks.agg(
                    F.sum(F.abs(F.col("rank") - F.col("old_rank")))
                ).collect()[0][0]
                or 0.0
            )
    secs = time.time() - t0
    out = ranks.select("id", "rank")
    verts.unpersist()
    if prebuilt_edges is None:
        e.unpersist()
    return BlockedPageRankResult(
        ranks=out,
        iterations=it,
        seconds=secs,
        delta=float(delta) if delta != float("inf") else -1.0,
    )


def iteration_join_plan(e: DataFrame, ranks_like: DataFrame) -> str:
    """Physical plan of one edge⋈ranks iteration join over a persisted
    blocked layout — exposed so tests can pin the edge-stationary
    property (no Exchange above the cached edge scan)."""
    spark = e.sparkSession
    with _with_conf(spark, "spark.sql.requireAllClusterKeysForCoPartition", "false"):
        j = e.join(ranks_like.hint("shuffle_hash"), ["spid", "salt", "src_id"])
        return j._jdf.queryExecution().executedPlan().toString()
