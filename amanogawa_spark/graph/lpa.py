"""Synchronous label propagation (community detection flavour).

Each round, every vertex adopts the most frequent label among its
neighbors; ties break to the SMALLEST label (deterministic — the north
rule requires exact-match label assignments, so no random tie-breaks).
Vertices with no neighbors keep their own label. All rounds are
synchronous: round k+1 reads only round-k labels.

Spark shape per round: one join (neighbor labels), one
``groupBy(id, label).count()``, one top-1-per-id via ``max_by``-style
struct ordering (no window shuffle beyond the agg), one left join back.
The rounds run on the shared superstep loop (``graph/superstep.py``):
each is one eager ``localCheckpoint`` job, snapshotted durably every
``checkpoint_every`` rounds, and nothing stays cached after the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.graph.components import _symmetrize
from amanogawa_spark.graph.superstep import supersteps


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 10,
    checkpoint_every: int = 5,
    checkpoint=None,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns (id long, label long) after ``max_rounds`` synchronous rounds.

    ``weight_col``: optional positive edge weight — each vertex adopts the
    label with the highest incident WEIGHT sum instead of neighbor count
    (what a domain-rollup graph needs: a domain linked 10^6 times should
    out-vote ten single-link domains). Ties still break to the smallest
    label; the per-round plan shape is unchanged (the count aggregate
    becomes a sum).

    ``checkpoint``: optional
    :class:`~amanogawa_spark.checkpoint.CheckpointManager` — the label
    frame is snapshotted durably every ``checkpoint_every`` rounds (with
    per-partition manifest + metrics journal) and a killed job resumes at
    the latest snapshotted round — the same superjob contract as pagerank
    and connected_components.
    """
    if weight_col is not None:
        # drop self-loops before symmetrizing, matching _symmetrize's u != v
        # filter on the unweighted path — otherwise a self-loop votes weight
        # 2w for the vertex's own label
        edges = edges.filter(F.col("src_id") != F.col("dst_id"))
        fwd = edges.select(
            F.col("src_id").alias("u"),
            F.col("dst_id").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        rev = edges.select(
            F.col("dst_id").alias("u"),
            F.col("src_id").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        # parallel edges (u,v) merge their weight — the symmetrized graph
        # is simple, mirroring _symmetrize's distinct on the unweighted path
        pairs = (
            fwd.unionAll(rev)
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        pairs = _symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)

    def vote(labels: DataFrame, _) -> DataFrame:
        counts = (
            pairs.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"), "label")
            .agg(
                (
                    F.sum("w") if weight_col is not None else F.count("*")
                ).alias("freq")
            )
        )
        # top-1: max over (freq, -label) — highest frequency, then smallest label
        best = counts.groupBy("id").agg(
            F.max(F.struct(F.col("freq"), (-F.col("label")).alias("neg"))).alias("m")
        ).select("id", (-F.col("m.neg")).cast("long").alias("new_label"))
        return labels.join(best, "id", "left").select(
            "id", F.coalesce("new_label", F.col("label")).alias("label")
        )

    labels = supersteps(
        vertices.select("id", F.col("id").alias("label")),
        vote,
        {},
        max_rounds,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        start_metrics={},
    ).state
    pairs.unpersist()
    return labels
