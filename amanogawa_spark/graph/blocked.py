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

This module only supplies a LAYOUT; the loop is ``graph.pagerank``'s
(one loop, two layouts). :func:`blocked_pagerank` builds the
pid-clustered edge table and an ``(id, dang, pid, salt)`` vertex table
through ``scoped_layout`` — the same loop conf and partition-count rule
as the classic layout — and hands them to ``layout_pagerank``, which
owns warm start, checkpoint/resume, the metrics journal and the
one-job-per-iteration step. Its contributions step keeps the join
EDGE-STATIONARY: the rank state is re-hashed to ``(pid, salt)`` and
joined on ``(spid, salt, src_id)``; with
``spark.sql.requireAllClusterKeysForCoPartition=false`` (set by the loop
conf) Spark accepts the shared subset partitioning and shuffles NEITHER
side (plan-pinned by tests/test_blocked_pagerank.py and
tests/test_pagerank.py).  Per iteration the only moved data is the O(V)
rank vector plus the (locality-reduced) aggregation partials.

Semantics match ``graph.pagerank.pagerank`` exactly (damping 0.85
default, dangling mass redistributed uniformly, same fixed-point) —
pytest asserts allclose(1e-12) against the classic plan on both layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.checkpoint import CheckpointManager
from amanogawa_spark.graph.iter_conf import iteration_conf
from amanogawa_spark.graph.pagerank import (
    PageRankResult,
    layout_pagerank,
    scoped_layout,
)


def _blocked_rows(edges: DataFrame, labels: DataFrame, n_salt: int) -> DataFrame:
    """(spid, salt, src_id, dst_id, out_degree), not yet partitioned.
    Vertices missing from the map fall back to pid 0 (the map may come
    from a coarse run that never saw isolated vertices)."""
    out_deg = edges.groupBy("src_id").agg(
        F.count("*").cast("double").alias("out_degree")
    )
    spid = labels.select(
        F.col("id").alias("src_id"), F.col("pid").cast("long").alias("spid")
    )
    return (
        edges.select("src_id", "dst_id")
        .join(out_deg, "src_id")
        .join(spid, "src_id", "left")
        .select(
            F.coalesce("spid", F.lit(0)).alias("spid"),
            (F.col("src_id") % n_salt).cast("long").alias("salt"),
            "src_id",
            "dst_id",
            "out_degree",
        )
    )


def blocked_edges(
    edges: DataFrame,
    labels: DataFrame,
    n_salt: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """(spid, salt, src_id, dst_id, out_degree): the pid-clustered,
    persisted edge layout, hashed on ``(spid, salt)`` under the loop conf
    so the cached relation exposes that partitioning. ``labels``:
    (id, pid)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with iteration_conf(spark, shuffle_partitions=n_part):
        e = (
            _blocked_rows(edges, labels, n_salt)
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
    tol: float = -1.0,
    initial_ranks: DataFrame | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> PageRankResult:
    """PageRank over the pid-clustered edge layout — fixed-iteration by
    default, convergent when ``tol > 0``.

    Same fixed point, loop and result contract as
    ``pagerank(vertices, edges, tol=tol, max_iter=max_iter)`` (warm start
    via ``initial_ranks``, kill-resume via ``checkpoint``, ``history``,
    ``delta`` = -1.0 when no transition ran); only the edge layout and its
    contributions step differ (module docstring).

    ``prebuilt_edges``: a pid-clustered edge table (e.g. a durable
    :func:`blocked_edges` output read back from parquet) to use instead of
    building one from ``edges`` and ``labels``. It is re-hashed under the
    loop conf into a cache this call owns. Each vertex's ``(pid, salt)``
    is read from its out-edges in the layout, so the state side of the
    join always agrees with the edge side (vertices without out-edges are
    the dangling ones and send nothing).
    """

    def build(n_part: int):
        rows = (
            prebuilt_edges
            if prebuilt_edges is not None
            else _blocked_rows(edges, labels, n_salt)
        )
        e = rows.repartition(n_part, "spid", "salt")
        src = e.select(
            F.col("src_id").alias("id"), F.col("spid").alias("pid"), "salt"
        ).distinct()
        verts = (
            vertices.select("id")
            .distinct()
            .join(src, "id", "left")
            .select(
                "id",
                F.col("pid").isNull().cast("double").alias("dang"),
                "pid",
                "salt",
            )
        )

        def contributions(state: DataFrame) -> DataFrame:
            ranks = state.select(
                F.col("pid").alias("spid"),
                "salt",
                F.col("id").alias("src_id"),
                "rank",
            ).repartition(n_part, "spid", "salt")
            return (
                e.join(ranks.hint("shuffle_hash"), ["spid", "salt", "src_id"])
                .groupBy(F.col("dst_id").alias("id"))
                .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("in_mass"))
            )

        return (e,), verts, contributions

    with scoped_layout(edges, num_partitions, False, build) as lay:
        return layout_pagerank(
            lay, damping, tol, max_iter, checkpoint, checkpoint_every, initial_ranks
        )


def iteration_join_plan(e: DataFrame, ranks_like: DataFrame) -> str:
    """Physical plan of one edge⋈ranks iteration join over a persisted
    blocked layout, under the loop conf for the layout's partition count —
    exposed so tests can pin the edge-stationary property (no Exchange
    above the cached edge scan)."""
    with iteration_conf(e.sparkSession, shuffle_partitions=e.rdd.getNumPartitions()):
        j = e.join(ranks_like.hint("shuffle_hash"), ["spid", "salt", "src_id"])
        return j._jdf.queryExecution().executedPlan().toString()
