"""BlockRank — block-structure-exploiting PageRank initialization
(Kamvar, Haveliwala, Manning & Golub, "Exploiting the Block Structure of
the Web for Computing PageRank", Stanford tech report, 2003).

The web graph is overwhelmingly block-diagonal: ~75-80% of links stay
inside a host. BlockRank exploits that: (1) solve a LOCAL PageRank inside
every block independently (embarrassingly parallel, tiny diameter — a few
iterations each), (2) solve the small QUOTIENT graph of inter-block link
weights, (3) start the global iteration from ``local_rank ×
block_rank``. The fixpoint is unchanged — the init vector is simply so
close to it that the expensive global phase needs far fewer edge-sized
shuffles (the paper reports 2-3×; the bench probe measures ours on the
host-locality corpus).

This is the iteration-count counterpart of the layout work in
``graph/blocked.py`` (which cuts per-iteration shuffle BYTES via
pid-clustered edges): same block structure, two independent wins that
compose. Blocks come from the caller — host ids
(``functions/url.py host_of``), SURT prefixes, or a computed partition
map (``graph/partition.py``).

Structure-conditional, not universal (measured, BENCH/BASELINE.md): the
init assumes within-block inflow is shaped like the block's own link
structure. On graphs where cross-block links concentrate inflow
adversarially (the bench locality fixture's preferential-to-prefix
links), the init's small residual lies along the SLOW inter-component
eigenmode and iterations-to-1e-6 regress vs a cold start even though the
absolute error stays smaller for the first ~30 rounds. Probe your graph
(two cheap fixed-iteration runs) before defaulting to it; on hub-skewed
host-local graphs — the common web shape — it saves ~25% of the global
rounds (bench `blockrank_iters_saved_metric`).

The reference engine stops at edge emission
(`plugin/flow/to_graph/to_graph.cpp:174-196`); the whole PageRank family
is an engine addition for the link-graph north rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amanogawa_spark.graph.pagerank import PageRankResult, pagerank


def local_block_pagerank(
    edges: DataFrame,
    blocks: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """(id, blk, local_r) — per-block PageRank over intra-block edges only:
    teleport AND dangling mass redistribute WITHIN the block, so every
    block's vector sums to exactly 1 at every iteration.

    ``blocks``: (id, blk) covering every vertex. All per-block terms are
    group aggregates joined back on ``blk`` — blocks never serialize to
    the driver, and the recurrence is fixed-``iters`` so the SQL oracle
    can unroll it.
    """
    b = blocks.select("id", "blk").persist()
    intra = (
        edges.select("src_id", "dst_id")
        .join(b.select(F.col("id").alias("src_id"), F.col("blk").alias("_bs")), "src_id")
        .join(b.select(F.col("id").alias("dst_id"), F.col("blk").alias("_bd")), "dst_id")
        .filter(F.col("_bs") == F.col("_bd"))
        .select("src_id", "dst_id")
        .persist()
    )
    nb = b.groupBy("blk").agg(F.count("*").cast("double").alias("n")).persist()
    od = intra.groupBy("src_id").agg(F.count("*").cast("double").alias("od")).persist()
    base = b.join(nb, "blk").persist()
    r = base.select("id", "blk", (F.lit(1.0) / F.col("n")).alias("r"))
    d = float(damping)
    for k in range(iters):
        contrib = (
            intra.join(r.select(F.col("id").alias("src_id"), "r"), "src_id")
            .join(od, "src_id")
            .groupBy(F.col("dst_id").alias("id"))
            .agg(F.sum(F.col("r") / F.col("od")).alias("m"))
        )
        dangling = (
            r.join(od.select(F.col("src_id").alias("id"), "od"), "id", "left")
            .groupBy("blk")
            .agg(
                F.sum(
                    F.when(F.col("od").isNull(), F.col("r")).otherwise(0.0)
                ).alias("dm")
            )
        )
        r = (
            base.join(contrib, "id", "left")
            .join(dangling, "blk")
            .select(
                "id",
                "blk",
                (
                    F.lit(1.0 - d) / F.col("n")
                    + F.lit(d)
                    * (
                        F.coalesce("m", F.lit(0.0))
                        + F.col("dm") / F.col("n")
                    )
                ).alias("r"),
            )
        )
        # truncate lineage every other round (plan depth doubles per round —
        # Catalyst re-analysis goes quadratic past a handful of iterations)
        if k % 2 == 1 or k == iters - 1:
            r = r.localCheckpoint(eager=True)
    for frame in (base, od, nb, intra, b):
        frame.unpersist()
    return r.select("id", "blk", F.col("r").alias("local_r"))


def quotient_block_pagerank(
    edges: DataFrame,
    blocks: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    local_ranks: DataFrame | None = None,
) -> DataFrame:
    """(blk, block_r) — weighted PageRank on the block quotient graph;
    every block of ``blocks`` is a quotient vertex, linked or not.
    Fixed-``iters`` for oracle parity.

    With ``local_ranks`` (the output of :func:`local_block_pagerank`),
    quotient weights follow Kamvar et al. §4: edge u→v contributes
    ``local_r(u) / outdeg(u)`` to w(blk(u), blk(v)), INCLUDING the
    self-loop blk(u)=blk(v) — so a block that keeps most of its mass
    internal gets a strong self-loop and the block ranks approximate the
    true aggregated PageRank masses (raw link counts without self-loops
    leave an error that decays only at the slow inter-block rate ~α,
    forfeiting the warm start). Without ``local_ranks``, weights fall
    back to inter-block link counts (the coarse host-graph prior).
    """
    b = blocks.select("id", "blk")
    tagged = (
        edges.select("src_id", "dst_id")
        .join(b.select(F.col("id").alias("src_id"), F.col("blk").alias("bs")), "src_id")
        .join(b.select(F.col("id").alias("dst_id"), F.col("blk").alias("bd")), "dst_id")
    )
    if local_ranks is not None:
        od_g = edges.groupBy("src_id").agg(F.count("*").cast("double").alias("gd"))
        q = (
            tagged.join(
                local_ranks.select(F.col("id").alias("src_id"), "local_r"),
                "src_id",
            )
            .join(od_g, "src_id")
            .groupBy("bs", "bd")
            .agg(F.sum(F.col("local_r") / F.col("gd")).alias("w"))
        )
    else:
        q = (
            tagged.filter(F.col("bs") != F.col("bd"))
            .groupBy("bs", "bd")
            .agg(F.count("*").cast("double").alias("w"))
        )
    q = q.persist()
    ow = q.groupBy("bs").agg(F.sum("w").alias("ow")).persist()
    n = b.count()
    # Kamvar §4: the quotient chain's teleport (and dangling) vector is
    # PROPORTIONAL TO BLOCK SIZE (|J|/n), not uniform over blocks — with a
    # uniform teleport the block masses come out ~1/|blocks| each and the
    # init carries MORE inter-block (slow-mode, rate≈α) error than a cold
    # uniform start, forfeiting the whole warm-start win (measured).
    qv = (
        b.groupBy("blk")
        .agg((F.count("*") / F.lit(float(n))).alias("s"))
        .persist()
    )
    r = qv.select("blk", F.col("s").alias("r"))
    d = float(damping)
    for k in range(iters):
        contrib = (
            q.join(r.select(F.col("blk").alias("bs"), "r"), "bs")
            .join(ow, "bs")
            .groupBy(F.col("bd").alias("blk"))
            .agg(F.sum(F.col("r") * F.col("w") / F.col("ow")).alias("m"))
        )
        dm = (
            r.join(ow.select(F.col("bs").alias("blk"), "ow"), "blk", "left")
            .agg(
                F.sum(
                    F.when(F.col("ow").isNull(), F.col("r")).otherwise(0.0)
                ).alias("dm")
            )
        )
        r = (
            qv.join(contrib, "blk", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "blk",
                (
                    F.lit(1.0 - d) * F.col("s")
                    + F.lit(d)
                    * (
                        F.coalesce("m", F.lit(0.0))
                        + F.col("dm") * F.col("s")
                    )
                ).alias("r"),
            )
        )
        if k % 2 == 1 or k == iters - 1:
            r = r.localCheckpoint(eager=True)
    for frame in (qv, ow, q):
        frame.unpersist()
    return r.select("blk", F.col("r").alias("block_r"))


def blockrank_init(
    edges: DataFrame,
    blocks: DataFrame,
    damping: float = 0.85,
    local_iters: int = 3,
    block_iters: int = 3,
) -> DataFrame:
    """(id, rank) — the BlockRank initial vector: per-block local rank
    scaled by the block's quotient-graph rank (local-rank-weighted
    quotient per Kamvar §4). Sums to 1 over the graph (each block vector
    sums to 1; block ranks sum to 1)."""
    loc = local_block_pagerank(edges, blocks, damping, local_iters)
    blk = quotient_block_pagerank(
        edges, blocks, damping, block_iters, local_ranks=loc
    )
    return loc.join(F.broadcast(blk), "blk").select(
        "id", (F.col("local_r") * F.col("block_r")).alias("rank")
    )


def blockrank(
    vertices: DataFrame,
    edges: DataFrame,
    blocks: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    local_iters: int = 3,
    block_iters: int = 3,
    warm_min_edges: int = 10_000_000,
    edge_count: int | None = None,
    gate_info: dict | None = None,
    **pagerank_kwargs,
) -> PageRankResult:
    """Full BlockRank: global PageRank warm-started from
    :func:`blockrank_init`. Converges to the SAME fixpoint as the cold
    solver (pytest-pinned allclose) in fewer edge-sized global iterations
    — the local phase touches only intra-block edges and the quotient
    phase only O(|blocks|²)-bounded rollup rows.

    Work gate: the init
    phase costs a fixed ladder of ~``local_iters + block_iters`` tiny
    barrier jobs, which only pays for itself when each SAVED global
    iteration moves enough edge bytes — measured crossover is well above
    sandbox scale (BENCH_r04: warm 78.7 s vs cold 41.1 s at ~120k edges
    despite saving 19% of iterations). Below ``warm_min_edges`` the warm
    start is auto-skipped and the cold solver runs, so a default caller
    on a small graph never pays init wall for nothing; pass
    ``warm_min_edges=0`` to force the warm start (what the bench's
    iteration-count probe does), or ``edge_count`` to supply a known
    count and skip the gate's count job. ``gate_info`` (a caller dict)
    gets ``{"edges", "warm_min_edges", "warm_start"}`` recorded into it.
    """
    n_edges = edge_count if edge_count is not None else edges.count()
    warm = n_edges >= warm_min_edges or warm_min_edges <= 0
    if gate_info is not None:
        gate_info.update(
            edges=int(n_edges),
            warm_min_edges=int(warm_min_edges),
            warm_start=bool(warm),
        )
    init = (
        blockrank_init(edges, blocks, damping, local_iters, block_iters)
        if warm
        else None
    )
    return pagerank(
        vertices,
        edges,
        damping=damping,
        tol=tol,
        max_iter=max_iter,
        initial_ranks=init,
        **pagerank_kwargs,
    )
