"""TrustRank + spam-mass estimation — seeded anti-spam link analysis.

TrustRank (Gyöngyi, Garcia-Molina, Pedersen, "Combating Web Spam with
TrustRank", VLDB 2004) is biased PageRank whose teleport vector is
concentrated on a hand-verified trusted seed set: trust flows out of the
seeds along links, decaying with distance, so pages unreachable from any
trusted page score ~0 no matter how much raw link mass they accumulate.
Spam mass (Gyöngyi et al., "Link Spam Detection Based on Mass
Estimation", VLDB 2006) then compares each page's PageRank ``p`` with
its trust-biased score ``t``: the relative spam mass ``(p − t·λ)/p``
estimates the fraction of a page's rank contributed by spam farms.

Reference parity: the reference engine's graph layer stops at uniform
PageRank (``src/amanogawa`` has no seeded/trust variant); this module is
an engine addition in the same iterative-DataFrame-join family,
delegating the propagation to :func:`personalized_pagerank` so it
inherits the shared PageRank loop's plan shape verbatim (edges
hash-partitioned and persisted once under the loop conf, narrow joins
with ``shuffle_hash`` hints on the O(V) sides, one job per iteration:
an eager localCheckpoint of the state that also observes the L1 delta
and the dangling mass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pagerank import PageRankResult, pagerank, personalized_pagerank


def trustrank(
    vertices: DataFrame,
    edges: DataFrame,
    trusted: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> PageRankResult:
    """Trust propagation from a verified seed whitelist.

    t' = (1−d)·s + d·(Aᵀ t/outdeg + dangling_mass·s) with s uniform over
    ``trusted`` — exactly the personalized-PageRank recurrence, so the
    implementation IS :func:`personalized_pagerank`; what differs is the
    contract (seeds are a trust whitelist, scores are trust, and the
    companion :func:`spam_mass` consumes the result) and that contract
    is what downstream spam filtering depends on.
    """
    return personalized_pagerank(
        vertices,
        edges,
        trusted,
        damping=damping,
        tol=tol,
        max_iter=max_iter,
        num_partitions=num_partitions,
    )


def spam_mass(pr_ranks: DataFrame, trust_ranks: DataFrame) -> DataFrame:
    """Relative spam mass: ``(pr − tr)/pr`` per vertex, clamped to ≥0 at
    pr = 0.

    Both inputs are the skinny ``(id, rank)`` tables the rank loops emit
    (already hash-partitioned on id), so this is ONE co-partitioned join
    plus pure arithmetic — no extra corpus pass. Both score vectors sum
    to 1 by construction (dangling mass is redistributed inside each
    loop), so no renormalization factor is needed: a page whose rank is
    fully explained by trusted-reachable mass lands near 0, a page whose
    rank comes from link farms unreachable from the seeds lands near 1.
    Vertices missing from ``trust_ranks`` count as zero trust.
    """
    p = pr_ranks.select("id", F.col("rank").alias("pr"))
    t = trust_ranks.select("id", F.col("rank").alias("tr"))
    tr = F.coalesce(F.col("tr"), F.lit(0.0))
    return p.join(t, "id", "left").select(
        "id",
        "pr",
        tr.alias("tr"),
        F.when(F.col("pr") > 0, (F.col("pr") - tr) / F.col("pr"))
        .otherwise(F.lit(0.0))
        .alias("spam_mass"),
    )


def spam_mass_scores(
    vertices: DataFrame,
    edges: DataFrame,
    trusted: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """End-to-end spam-mass pipeline: PageRank + TrustRank + mass join.

    Runs the two rank loops sequentially over the SAME persisted edge
    table shape (each loop persists its own weighted-edge frame; at
    cluster scale the parquet scan behind both is served from the OS
    page cache / shuffle files, and the loops themselves dominate).
    """
    pr = pagerank(vertices, edges, damping=damping, tol=tol, max_iter=max_iter)
    tr = trustrank(
        vertices, edges, trusted, damping=damping, tol=tol, max_iter=max_iter
    )
    return spam_mass(pr.ranks, tr.ranks)
