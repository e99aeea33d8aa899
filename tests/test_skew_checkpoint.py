"""Skew machinery (salting, hot/cold join) + checkpoint manager tests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from amanogawa_spark.checkpoint import CheckpointManager
from amanogawa_spark.graph.build import degree_histogram
from amanogawa_spark.graph.skew import hot_keys, salted_group_sum, split_hot_cold_join


@pytest.fixture(scope="module")
def zipf_edges(spark):
    """FIXTURES.md §5: one hub dst receives >= 20% of all edges."""
    rng = random.Random(3)
    rows = []
    for i in range(5000):
        dst = 0 if rng.random() < 0.25 else rng.randrange(1, 200)
        rows.append((rng.randrange(1000), dst, float(rng.randrange(100))))
    return spark.createDataFrame(rows, "src_id long, dst_id long, w double")


def test_hot_key_detection(spark, zipf_edges):
    hot = hot_keys(zipf_edges, "dst_id", threshold=500)
    vals = [r.dst_id for r in hot.collect()]
    assert vals == [0]


def test_salted_group_sum_equals_direct(spark, zipf_edges):
    direct = {
        r.dst_id: r.s
        for r in zipf_edges.groupBy("dst_id").agg(F.sum("w").alias("s")).collect()
    }
    salted = {
        r.dst_id: r.s
        for r in salted_group_sum(zipf_edges, "dst_id", "w", "s", salt_factor=8).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        assert abs(direct[k] - salted[k]) < 1e-6


def test_split_hot_cold_join_equals_plain(spark, zipf_edges):
    dim = spark.createDataFrame(
        [(i, f"name{i}") for i in range(200)], "dst_id long, dname string"
    )
    hot = hot_keys(zipf_edges, "dst_id", threshold=500)
    plain = zipf_edges.join(dim, "dst_id").groupBy("dst_id").count()
    split = split_hot_cold_join(zipf_edges, dim, "dst_id", hot).groupBy("dst_id").count()
    a = {(r.dst_id, r["count"]) for r in plain.collect()}
    b = {(r.dst_id, r["count"]) for r in split.collect()}
    assert a == b


def test_degree_histogram(spark, zipf_edges):
    hist = degree_histogram(zipf_edges, "dst_id").collect()
    total = sum(r.n_vertices for r in hist)
    assert total == zipf_edges.select("dst_id").distinct().count()
    assert max(r.log2_bucket for r in hist) >= 10  # the hub: >= 1024 in-edges


def test_checkpoint_manager_roundtrip(spark, tmp_path):
    cm = CheckpointManager(spark, str(tmp_path / "ck"), keep_last=2)
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    cm.save(df, 1)
    cm.save(df.withColumn("x", F.col("x") + 1), 2)
    cm.save(df.withColumn("x", F.col("x") + 2), 3)
    assert cm.latest_iteration() == 3
    back = cm.load()
    assert back.count() == 10
    assert {r.x for r in back.collect()} == {i * 2 + 2 for i in range(10)}
    cm.log_metrics(3, delta=0.5)
    assert cm.read_metrics()[-1]["delta"] == 0.5
    # per-partition lineage manifest: rows across partition files == total
    man = cm.read_partition_manifest()
    assert man is not None and man["iteration"] == 3
    assert sum(p["rows"] for p in man["partitions"]) == 10
    assert man["n_partitions"] == len(man["partitions"]) >= 1


def test_connected_components_resumable(spark, tmp_path):
    """CC snapshots each round's parent-pointer set; a fresh run against the
    same checkpoint root resumes (skips completed rounds) and produces the
    identical component assignment."""
    from amanogawa_spark.graph.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(i, i + 2) for i in range(0, 30, 3)],
        "src_id long, dst_id long",
    )
    verts = spark.createDataFrame([(i,) for i in range(42)], "id long")
    plain = {r.id: r.component for r in connected_components(verts, edges).collect()}

    root = str(tmp_path / "cc_ck")
    cm1 = CheckpointManager(spark, root, keep_last=3)
    # "killed" partial run: only 2 rounds allowed
    connected_components(verts, edges, max_rounds=2, checkpoint=cm1)
    assert cm1.latest_iteration() == 2
    assert len(cm1.read_metrics()) == 2
    # resumed run: picks up at round 3
    cm2 = CheckpointManager(spark, root, keep_last=3)
    resumed = {
        r.id: r.component
        for r in connected_components(verts, edges, checkpoint=cm2).collect()
    }
    assert resumed == plain
    assert cm2.latest_iteration() > 2
    assert cm2.read_partition_manifest() is not None


def test_lpa_resumable(spark, tmp_path):
    """LPA label frame resumes from the latest durable snapshot; final
    labels equal an uninterrupted run of the same total rounds."""
    from amanogawa_spark.graph.lpa import label_propagation

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(20 + i, 20 + (i + 1) % 6) for i in range(6)],
        "src_id long, dst_id long",
    )
    verts = spark.createDataFrame([(i,) for i in range(26)], "id long")
    plain = {
        r.id: r.label for r in label_propagation(verts, edges, max_rounds=4).collect()
    }
    root = str(tmp_path / "lpa_ck")
    cm1 = CheckpointManager(spark, root, keep_last=3)
    label_propagation(verts, edges, max_rounds=2, checkpoint_every=2, checkpoint=cm1)
    assert cm1.latest_iteration() == 2
    cm2 = CheckpointManager(spark, root, keep_last=3)
    resumed = {
        r.id: r.label
        for r in label_propagation(
            verts, edges, max_rounds=4, checkpoint_every=2, checkpoint=cm2
        ).collect()
    }
    assert resumed == plain


def test_lpa_journal_after_mid_interval_resume(spark, tmp_path):
    """LPA killed between snapshots (3 rounds, snapshot at 2) and resumed
    to 5 re-runs round 3: read_metrics holds exactly rounds 1..5, and the
    labels equal an uninterrupted 5-round run."""
    from amanogawa_spark.graph.lpa import label_propagation

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(20 + i, 20 + (i + 1) % 6) for i in range(6)],
        "src_id long, dst_id long",
    )
    verts = spark.createDataFrame([(i,) for i in range(26)], "id long")
    plain = {r.id: r.label for r in label_propagation(verts, edges, max_rounds=5).collect()}
    cm = CheckpointManager(spark, str(tmp_path / "lpa_ck"))
    label_propagation(verts, edges, max_rounds=3, checkpoint_every=2, checkpoint=cm)
    assert cm.latest_iteration() == 2
    resumed = {
        r.id: r.label
        for r in label_propagation(
            verts, edges, max_rounds=5, checkpoint_every=2, checkpoint=cm
        ).collect()
    }
    assert resumed == plain
    assert [m["iteration"] for m in cm.read_metrics()] == [1, 2, 3, 4, 5]


def test_auto_salt_factor_zipf(spark, zipf_edges):
    """'auto' reads the degree histogram: hub freq ~1250 with
    target_per_reducer=100 -> ceil(1250/100) = 13; a uniform key column
    degenerates to factor 1 (no extra aggregation width)."""
    from amanogawa_spark.graph.skew import auto_salt_factor

    hub_n = zipf_edges.filter(F.col("dst_id") == 0).count()
    f = auto_salt_factor(zipf_edges, "dst_id", target_per_reducer=100)
    assert f == -(-hub_n // 100)  # ceil
    assert auto_salt_factor(zipf_edges, "src_id", target_per_reducer=100_000) == 1
    # sampled estimate lands within 2x of exact (order-of-magnitude is all
    # the salt factor needs)
    fs = auto_salt_factor(
        zipf_edges, "dst_id", target_per_reducer=100, sample_fraction=0.5
    )
    assert f / 2 <= fs <= f * 2

    # and salt_factor='auto' end-to-end equals the direct aggregate
    direct = {
        r.dst_id: r.s
        for r in zipf_edges.groupBy("dst_id").agg(F.sum("w").alias("s")).collect()
    }
    auto = {
        r.dst_id: r.s
        for r in salted_group_sum(
            zipf_edges, "dst_id", "w", "s", salt_factor="auto", target_per_reducer=100
        ).collect()
    }
    assert set(direct) == set(auto)
    for k in direct:
        assert abs(direct[k] - auto[k]) < 1e-6
