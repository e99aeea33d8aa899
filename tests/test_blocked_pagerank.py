"""Layout-aware blocked PageRank (graph/blocked.py) — the partition-map
consumer demanded by VERDICT r3 item 4.

Pins three properties:
1. identical ranks to the classic ``pagerank()`` plan (allclose 1e-12),
   on BOTH a clustered and a random pid map — the layout changes where
   bytes move, never the fixed point;
2. the per-iteration edge⋈ranks join is edge-stationary: Spark accepts
   the shared (spid, salt) subset partitioning and inserts NO
   ENSURE_REQUIREMENTS exchange for the join keys;
3. the partial-aggregation locality win is real: on a block-local graph
   the clustered layout's contribution aggregation emits measurably
   fewer map-side partial rows than the random layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amanogawa_spark.graph.blocked import (
    blocked_edges,
    blocked_pagerank,
    iteration_join_plan,
)
from amanogawa_spark.graph.pagerank import pagerank


def _toy_graph(spark, n=120, block=30):
    """n vertices in n/block blocks; dense intra-block ring + sparse
    cross-block bridges; a few dangling vertices."""
    pairs = []
    for i in range(n - 10):  # last 10 dangling
        b_lo = (i // block) * block
        pairs.append((i, b_lo + (i + 1 - b_lo) % block))
        pairs.append((i, b_lo + (i + 7 - b_lo) % block))
        if i % 13 == 0:
            pairs.append((i, (i + block) % n))
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src_id long, dst_id long"
    )
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    clustered = spark.createDataFrame(
        [(i, i // block) for i in range(n)], "id long, pid long"
    )
    rnd = spark.createDataFrame(
        [(i, (i * 2654435761) % (n // block)) for i in range(n)], "id long, pid long"
    )
    return v, e, clustered, rnd


def test_blocked_matches_classic_on_both_layouts(spark):
    v, e, clustered, rnd = _toy_graph(spark)
    classic = pagerank(v, e, tol=-1.0, max_iter=6)
    want = {r["id"]: r["rank"] for r in classic.ranks.collect()}
    for labels in (clustered, rnd):
        res = blocked_pagerank(v, e, labels, max_iter=6)
        got = {r["id"]: r["rank"] for r in res.ranks.collect()}
        assert set(got) == set(want)
        for i in want:
            assert got[i] == pytest.approx(want[i], abs=1e-12), i
        # fixed-iteration mode reports the FINAL transition's L1 delta,
        # not the one before it
        assert res.delta == pytest.approx(classic.delta, abs=1e-12)
        assert res.delta != pytest.approx(classic.history[-2]["l1_delta"], abs=1e-12)


def test_iteration_join_is_edge_stationary(spark):
    v, e, clustered, _ = _toy_graph(spark)
    eb = blocked_edges(e, clustered, n_salt=2, num_partitions=8)
    ranks_like = (
        v.select(
            (F.col("id") % 4).alias("spid"),
            (F.col("id") % 2).alias("salt"),
            F.col("id").alias("src_id"),
            F.lit(0.1).alias("rank"),
        )
        .repartition(8, "spid", "salt")
    )
    plan = iteration_join_plan(eb, ranks_like)
    # a re-shuffle for THIS join would be an ENSURE_REQUIREMENTS exchange on
    # the full key set hash(spid, salt, src_id); exchanges printed inside
    # the InMemoryRelation subtree are the one-time layout build, not
    # per-iteration cost
    bad = [
        line
        for line in plan.splitlines()
        if "Exchange" in line
        and "ENSURE_REQUIREMENTS" in line
        and "spid" in line
        and "salt" in line
    ]
    assert not bad, f"join re-shuffled a side:\n{plan}"
    assert "InMemoryTableScan" in plan
    eb.unpersist()


def test_clustered_layout_reduces_agg_partials(spark):
    """Map-side combine output (distinct dsts per partition) shrinks under
    the clustered layout — the shuffle-bytes mechanism, measured at the
    row level so the test is runtime-independent."""
    v, e, clustered, rnd = _toy_graph(spark, n=1200, block=100)

    def partial_rows(labels):
        eb = blocked_edges(e, labels, n_salt=1, num_partitions=12)
        cnt = (
            eb.groupBy(F.spark_partition_id().alias("p"), "dst_id")
            .count()
            .count()
        )
        eb.unpersist()
        return cnt

    clu, ran = partial_rows(clustered), partial_rows(rnd)
    assert clu < ran * 0.7, (clu, ran)


def test_blocked_pagerank_tol_converges_to_classic_fixpoint(spark):
    """tol>0 turns the fixed-iteration layout loop into a convergent
    solver: same fixpoint as pagerank() at the same tol, iteration count
    reported, delta <= tol."""
    from amanogawa_spark.graph.blocked import blocked_pagerank
    from amanogawa_spark.graph.pagerank import pagerank

    e = spark.createDataFrame(
        [(a, b) for a in range(30) for b in ((a + 1) % 30, (a * 7) % 30) if a != b],
        ["src_id", "dst_id"],
    )
    v = e.select(F.col("src_id").alias("id")).union(e.select("dst_id")).distinct()
    lbl = v.select("id", (F.col("id") % 3).cast("int").alias("pid"))
    classic = pagerank(v, e, tol=1e-8, max_iter=100)
    blocked = blocked_pagerank(v, e, lbl, tol=1e-8, max_iter=100)
    assert 0 < blocked.iterations < 100
    assert 0 <= blocked.delta <= 1e-8
    c = {r["id"]: r["rank"] for r in classic.ranks.collect()}
    b = {r["id"]: r["rank"] for r in blocked.ranks.collect()}
    assert max(abs(c[i] - b[i]) for i in c) < 1e-7


def test_blocked_pagerank_checkpoint_resume_equals_uninterrupted(spark, tmp_path):
    """Kill-resume contract on the layout path: a run resumed from the
    latest durable snapshot finishes with EXACTLY the ranks of an
    uninterrupted run (same total iteration count)."""
    from amanogawa_spark.checkpoint import CheckpointManager
    from amanogawa_spark.graph.blocked import blocked_pagerank

    e = spark.createDataFrame(
        [(a, (a * 5 + 1) % 40) for a in range(40)] + [(0, 7), (7, 13)],
        ["src_id", "dst_id"],
    )
    v = e.select(F.col("src_id").alias("id")).union(e.select("dst_id")).distinct()
    lbl = v.select("id", (F.col("id") % 4).cast("int").alias("pid"))

    full = blocked_pagerank(v, e, lbl, max_iter=9)
    # interrupted: run 6 iterations with checkpoint_every=3 (snapshot at 3
    # and 6), then "resume" with max_iter=9 — picks up at 6, runs 3 more
    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    blocked_pagerank(v, e, lbl, max_iter=6, checkpoint=ck, checkpoint_every=3)
    assert ck.latest_iteration() == 6
    resumed = blocked_pagerank(
        v, e, lbl, max_iter=9, checkpoint=ck, checkpoint_every=3
    )
    assert resumed.iterations == 9
    f = {r["id"]: r["rank"] for r in full.ranks.collect()}
    r2 = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    assert max(abs(f[i] - r2[i]) for i in f) < 1e-12


def test_blocked_pagerank_warm_start_normalizes(spark):
    from amanogawa_spark.graph.blocked import blocked_pagerank

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src_id", "dst_id"])
    v = e.select(F.col("src_id").alias("id")).union(e.select("dst_id")).distinct()
    lbl = v.select("id", F.lit(0).cast("int").alias("pid"))
    init = spark.createDataFrame([(0, 10.0), (1, 30.0)], ["id", "rank"])
    res = blocked_pagerank(v, e, lbl, max_iter=0, initial_ranks=init)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    # normalized to unit mass; vertex 2 filled uniformly (1/3) pre-norm
    total = 10.0 + 30.0 + 1.0 / 3.0
    assert abs(got[0] - 10.0 / total) < 1e-12
    assert abs(got[1] - 30.0 / total) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12
