"""Connected components over an edge DataFrame.

Two implementations (SURVEY.md §7 step 5):

1. ``connected_components`` — **small-star / large-star** (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SoCC'14). Converges in
   O(log^2 n) rounds on real graphs; each round is two join+agg passes.
   This is the 100 TB path: no dependence on graph diameter.

2. ``connected_components_minlabel`` — synchronous min-label propagation
   (label = min over self ∪ neighbors). O(diameter) rounds; simple,
   oracle-friendly; used for cross-checking and fixed-iteration oracles.

Both run on the shared superstep loop (``graph/superstep.py``): one
eager ``localCheckpoint`` job per round whose convergence metrics are
observed in the same pass, so no round needs a separate count or join
to decide whether to stop. Both return ``(id long, component long)``
where ``component`` is the minimum vertex id of the component
(deterministic canonical label).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amanogawa_spark.graph.superstep import supersteps


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Directed (src_id, dst_id) → undirected neighbor pairs (u, v), u != v."""
    fwd = edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
    rev = edges.select(F.col("dst_id").alias("u"), F.col("src_id").alias("v"))
    return fwd.union(rev).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
    checkpoint_every: int = 1,
    checkpoint=None,
    initial: DataFrame | None = None,
) -> DataFrame:
    """Small-star/large-star alternation until the edge set stops changing.

    ``initial``: optional previous assignment ``(id, component)`` — the
    incremental-recrawl warm start. Each prior (id → component) pair is
    injected as an extra parent-pointer edge, so vertices already known
    to be connected contract to their old component minimum in round one
    and only NEW cross-component edges need the full star cascade. The
    fixpoint is unchanged PROVIDED edges were only ADDED since the prior
    run (the append-only crawl model): injected pairs then connect only
    vertices still connected in the new graph. After edge DELETIONS a
    component can split and the warm start would glue it back — rerun
    cold in that case.

    State is the parent-pointer edge set ``(u, v)`` with v a candidate
    parent. Large-star: connect all strictly-larger neighbors of u to
    min(N(u) ∪ {u}). Small-star: connect all smaller-or-equal neighbors
    to the minimum. Fixed point: every u points at its component minimum.
    Each round is one superstep (``graph/superstep.py``) observing the
    set's size and signature (``count``, ``bit_xor`` of row hashes; 2^-64
    false-stop risk); the loop stops when the signature repeats.

    ``checkpoint``: optional
    :class:`~amanogawa_spark.checkpoint.CheckpointManager` — the
    parent-pointer set is snapshotted durably every ``checkpoint_every``
    rounds (with per-partition manifest + metrics journal) and a killed
    job resumes from the latest snapshot, the same superjob contract as
    pagerank (north rule: every iteration resumable).
    """
    base = _symmetrize(edges)
    if initial is not None:
        warm = (
            initial.select(F.col("id").alias("u"), F.col("component").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        base = base.union(warm).union(
            warm.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        return (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient every pair so u >= v, group by u, link all v's (and u) to min
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        linked = (
            oriented.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return linked

    run = supersteps(
        base,
        lambda e, _: small_star(large_star(e)),
        # xor: no ANSI overflow
        {"n_pairs": F.count("*"), "sig": F.bit_xor(F.xxhash64("u", "v"))},
        max_rounds,
        lambda m, prev: m == prev,
        checkpoint,
        checkpoint_every,
    )
    comp = run.state.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        vertices.select("id")
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
        .localCheckpoint(eager=True)
    )


def connected_components_minlabel(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Synchronous min-label propagation until no label changes (observed
    as ``sum(component != old_component)`` in each round's superstep).
    ``fixed_rounds`` runs exactly that many rounds without a convergence
    test (the SQL-oracle variant)."""
    pairs = _symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)

    def step(labels: DataFrame, _) -> DataFrame:
        nbr_min = (
            pairs.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        return labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
            F.col("component").alias("old_component"),
        )

    run = supersteps(
        vertices.select("id", F.col("id").alias("component")),
        step,
        {"changed": F.sum((F.col("component") != F.col("old_component")).cast("long"))},
        fixed_rounds if fixed_rounds is not None else max_rounds,
        None if fixed_rounds is not None else lambda m, _: m["changed"] == 0,
        start_metrics={},
    )
    pairs.unpersist()
    return run.state.select("id", "component")
