"""Distance-based centrality: truncated harmonic + sampled betweenness.

Harmonic centrality H(u) = Σ_{v ≠ u} 1/d(u, v) over directed shortest
paths. The exact all-pairs form materializes O(V·ball) pairs, so this
module truncates at a small radius (the mass beyond 3-4 hops is tiny on
small-diameter web graphs) and serves as the CORRECTNESS baseline; the
100 TB path is :mod:`amanogawa_spark.graph.hyperball`, which estimates
the same neighborhood function in O(V·2^p) state with HLL registers.

Betweenness is Brandes' algorithm distributed over DataFrame joins,
run from a SAMPLE of sources (the standard unbiased estimator — exact
betweenness is O(V·E) and off the table at 10^12 vertices): a
multi-source forward BFS carrying shortest-path counts σ, then a
depth-descending backward sweep accumulating dependencies
δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w)). Per depth: one
frontier ⋈ adjacency shuffle + one aggregate — the same plan shape at
any scale, with state O(sources × reached).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def truncated_harmonic(
    vertices: DataFrame,
    edges: DataFrame,
    radius: int = 3,
) -> DataFrame:
    """(id, harmonic) — Σ 1/d(u,v) over v reachable from u within ``radius``.

    Frontier BFS over DataFrame joins: round r expands only the pairs
    first reached at distance r−1 (not the whole distance table), so
    per-round work is |frontier ⋈ edges|; a min-aggregate after each
    expansion keeps shortest distances exact. Vertices reaching nothing
    get harmonic = 0.0.
    """
    e = (
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
    )
    dist = e.select(
        F.col("src_id").alias("u"), F.col("dst_id").alias("v"), F.lit(1).alias("d")
    )
    frontier = dist
    for r in range(2, radius + 1):
        expanded = (
            frontier.join(
                e.select(F.col("src_id").alias("v"), F.col("dst_id").alias("v2")),
                "v",
            )
            .select("u", F.col("v2").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .withColumn("d", F.lit(r))
        )
        merged = (
            dist.unionAll(expanded)
            .groupBy("u", "v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        # next frontier: pairs whose shortest distance IS r (newly reached)
        frontier = merged.filter(F.col("d") == r)
        dist = merged
    h = dist.groupBy("u").agg(F.sum(F.lit(1.0) / F.col("d")).alias("harmonic"))
    out = (
        vertices.select("id")
        .join(h.select(F.col("u").alias("id"), "harmonic"), "id", "left")
        .select("id", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    )
    return out


def betweenness_sampled(
    vertices: DataFrame,
    edges: DataFrame,
    n_sources: int = 16,
    sources: list[int] | None = None,
    max_depth: int = 12,
    symmetrize: bool = True,
    scale: bool = False,
) -> DataFrame:
    """(id, betweenness) — Brandes dependency sums from sampled sources.

    ``sources``: explicit pivot ids, else the ``n_sources`` smallest
    vertex ids (deterministic — no RNG, repartition-invariant; hub bias
    is acceptable for a regression oracle, callers wanting an unbiased
    estimate pass hash-sampled ids). ``scale`` multiplies by
    |V| / |sources| (the unbiased estimator extrapolation), halved when
    ``symmetrize`` (each unordered pair counted from both endpoints).
    Dependencies are summed over ORDERED (s, t) pairs, the textbook
    Brandes accumulation; σ is carried as double (path counts overflow
    int64 on real web graphs).
    """
    from amanogawa_spark.graph.components import _symmetrize
    from amanogawa_spark.graph.iter_conf import iteration_conf

    spark = vertices.sparkSession
    if symmetrize:
        adj = _symmetrize(edges)
    else:
        adj = (
            edges.filter(F.col("src_id") != F.col("dst_id"))
            .select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
            .distinct()
        )
    adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    if sources is not None:
        src_df = spark.createDataFrame([(int(s),) for s in sources], "id long")
    else:
        src_df = vertices.select("id").orderBy("id").limit(n_sources)
    k_sources = src_df.count()

    with iteration_conf(spark, disable_aqe=True):
        frontier = src_df.select(
            F.col("id").alias("src"),
            F.col("id").alias("v"),
            F.lit(0).alias("d"),
            F.lit(1.0).alias("sigma"),
        ).localCheckpoint(eager=True)
        visited = frontier
        depth = 0
        while depth < max_depth:
            cand = frontier.join(
                adj.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
            ).select("src", F.col("w").alias("v"), "sigma")
            nxt = (
                cand.join(visited.select("src", "v"), ["src", "v"], "left_anti")
                .groupBy("src", "v")
                .agg(F.sum("sigma").alias("sigma"))
                .select("src", "v", F.lit(depth + 1).alias("d"), "sigma")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            old = visited
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            old.unpersist()
            frontier.unpersist()
            frontier = nxt
            depth += 1

        # backward sweep: δ at depth `depth` is 0; walk depths down to 1,
        # each step one join against the shortest-path-DAG successors.
        # Checkpointed δ frames must stay cached until bc materializes —
        # a checkpointed RDD cannot recompute once its blocks are freed —
        # so releases happen only after the eager bc checkpoint below.
        deltas = []  # per-depth (src, v, delta) frames at d ≥ 1
        ckpts = []
        delta_next = None  # (src, v, delta) at depth d+1
        for d in range(depth - 1, -1, -1):
            lvl = visited.filter(F.col("d") == d).select("src", "v", "sigma")
            succ = visited.filter(F.col("d") == d + 1).select(
                "src", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
            )
            if delta_next is not None:
                succ = succ.join(
                    delta_next.select("src", F.col("v").alias("w"), "delta"),
                    ["src", "w"],
                    "left",
                ).select(
                    "src", "w", "sigma_w", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            else:
                succ = succ.select("src", "w", "sigma_w", F.lit(0.0).alias("delta"))
            dag = lvl.join(
                adj.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
            ).join(succ, ["src", "w"])
            delta_d = (
                dag.groupBy("src", "v")
                .agg(
                    F.sum(
                        F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta"))
                    ).alias("delta")
                )
                .localCheckpoint(eager=True)
            )
            ckpts.append(delta_d)
            delta_next = delta_d
            if d >= 1:
                deltas.append(delta_d.filter(F.col("src") != F.col("v")))

        if deltas:
            all_delta = deltas[0]
            for extra in deltas[1:]:
                all_delta = all_delta.unionByName(extra)
            bc = (
                all_delta.groupBy(F.col("v").alias("id"))
                .agg(F.sum("delta").alias("betweenness"))
                .localCheckpoint(eager=True)
            )
        else:
            bc = spark.createDataFrame([], "id long, betweenness double")
        for f in ckpts + [visited, frontier]:
            f.unpersist()

    out = (
        vertices.select("id")
        .join(bc, "id", "left")
        .select("id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    )
    if scale:
        n_v = vertices.count()
        factor = float(n_v) / float(k_sources) / (2.0 if symmetrize else 1.0)
        out = out.select("id", (F.col("betweenness") * F.lit(factor)).alias("betweenness"))
    adj.unpersist()
    return out
