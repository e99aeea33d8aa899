"""PageRank vs numpy power-iteration oracle — allclose(1e-6) (north rule)."""

from __future__ import annotations

import numpy as np
import pytest

from amanogawa_spark.checkpoint import CheckpointManager
from amanogawa_spark.graph.build import build_edges, build_vertices
from amanogawa_spark.graph.pagerank import pagerank, pagerank_fixed_iterations

from tests.oracles import pagerank_numpy, pagerank_numpy_fixed


@pytest.fixture(scope="module")
def graph(spark, corpus, pages_df):
    v = build_vertices(pages_df).persist()
    e = build_edges(pages_df, v).persist()
    url_to_id = {r.url: r.id for r in v.collect()}
    id_edges = {(url_to_id[s], url_to_id[d]) for s, d in corpus.expected_edges}
    return v, e, len(url_to_id), id_edges


def test_pagerank_converged_allclose(spark, graph):
    """Identical L1<=1e-6 stopping rule on both sides → same iteration count,
    per-vertex agreement far inside the north rule's allclose(1e-6)."""
    v, e, n, id_edges = graph
    expected = pagerank_numpy(n, id_edges, tol=1e-6, max_iter=200)
    res = pagerank(v, e, tol=1e-6, max_iter=200)
    got = np.zeros(n)
    for r in res.ranks.collect():
        got[r.id] = r["rank"]
    assert res.delta <= 1e-6
    assert np.allclose(got, expected, atol=1e-9, rtol=0)
    assert abs(got.sum() - 1.0) < 1e-9  # rank mass conserved


def test_pagerank_fixed_iterations(spark, graph):
    v, e, n, id_edges = graph
    expected = pagerank_numpy_fixed(n, id_edges, iterations=5)
    got_df = pagerank_fixed_iterations(v, e, iterations=5)
    got = np.zeros(n)
    for r in got_df.collect():
        got[r.id] = r["rank"]
    assert np.allclose(got, expected, atol=1e-10, rtol=0)


def test_pagerank_resume_from_checkpoint(spark, graph, tmp_path):
    v, e, n, id_edges = graph
    # full run
    full = pagerank(v, e, tol=-1.0, max_iter=10, checkpoint_every=100)
    full_ranks = {r.id: r["rank"] for r in full.ranks.collect()}
    # interrupted run: 4 iterations, checkpoint every 2, then resume to 10
    ckpt = CheckpointManager(spark, str(tmp_path / "pr"))
    pagerank(v, e, tol=-1.0, max_iter=4, checkpoint_every=2, checkpoint=ckpt)
    assert ckpt.latest_iteration() == 4
    resumed = pagerank(v, e, tol=-1.0, max_iter=10, checkpoint_every=2, checkpoint=ckpt)
    resumed_ranks = {r.id: r["rank"] for r in resumed.ranks.collect()}
    assert resumed.iterations == 10
    for i in range(n):
        assert abs(full_ranks[i] - resumed_ranks[i]) < 1e-12
    # metrics journal recorded per-iteration rows
    metrics = ckpt.read_metrics()
    assert [m["iteration"] for m in metrics] == [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    assert all("l1_delta" in m and "dangling_mass" in m for m in metrics)


def test_pagerank_warm_start_converges_faster_same_fixpoint(spark, graph):
    """initial_ranks (incremental recrawl): fewer iterations, identical
    fixpoint within the north rule's allclose(1e-6)."""
    v, e, n, id_edges = graph
    cold = pagerank(v, e, tol=1e-6, max_iter=200)
    warm = pagerank(v, e, tol=1e-6, max_iter=200, initial_ranks=cold.ranks)
    assert warm.iterations < cold.iterations
    cold_d = {r.id: r["rank"] for r in cold.ranks.collect()}
    warm_d = {r.id: r["rank"] for r in warm.ranks.collect()}
    assert all(abs(cold_d[i] - warm_d[i]) <= 1e-6 for i in cold_d)


def test_pagerank_restores_aqe_conf(spark):
    """The loop disables AQE and pins the shuffle partition count for
    itself only — the session conf must come back."""
    key = "spark.sql.adaptive.enabled"
    parts = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    prev_parts = spark.conf.get(parts)
    spark.conf.set(key, "true")
    e = spark.createDataFrame([(0, 1), (1, 0)], "src_id long, dst_id long")
    v = spark.createDataFrame([(0,), (1,)], "id long")
    pagerank(v, e, tol=-1.0, max_iter=2)
    assert spark.conf.get(key) == "true"
    assert spark.conf.get(parts) == prev_parts
    pagerank(v, e, tol=-1.0, max_iter=2, num_partitions=3)
    assert spark.conf.get(parts) == prev_parts
    spark.conf.set(key, prev)


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-|"))


def _exchanges_below_join(plan: str, is_scan) -> tuple[int, list[str]]:
    """(number of scans matching ``is_scan``, Exchange nodes found between
    any such scan and its nearest join ancestor) in a physical plan tree
    string."""
    lines = plan.splitlines()
    found, bad = 0, []
    for i, line in enumerate(lines):
        if not is_scan(line):
            continue
        found += 1
        d = _depth(line)
        for up in reversed(lines[:i]):
            du = _depth(up)
            if du >= d:
                continue
            d = du
            node = up.lstrip(" :+-|*()0123456789")
            if "Join" in node.split(" ")[0]:
                break
            if node.startswith("Exchange"):
                bad.append(node)
    return found, bad


def test_pagerank_iteration_reuses_cached_edge_layout(spark, graph, monkeypatch):
    """The per-iteration edges ⋈ ranks join must read the cached edge
    layout in place: no Exchange between the edge table's
    InMemoryTableScan and the join. The session runs with AQE on and more
    shuffle partitions than the loop uses — the conditions under which a
    layout persisted outside the loop conf gets re-shuffled every
    iteration. Plans are captured at every localCheckpoint the run makes
    (the loop's per-iteration lineage cut)."""
    v, e, n, id_edges = graph
    plans = []
    cls = type(v)
    real = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    pagerank(v, e, tol=-1.0, max_iter=4)
    monkeypatch.undo()

    def edge_scan(line: str) -> bool:
        node = line.lstrip(" :+-|*()0123456789")
        return node.startswith("InMemoryTableScan") and all(
            c in node for c in ("src_id", "dst_id", "out_degree")
        )

    scans = 0
    for plan in plans:
        found, bad = _exchanges_below_join(plan, edge_scan)
        scans += found
        assert not bad, f"edge layout re-shuffled inside the iteration:\n{plan}"
    assert scans > 0, "no iteration plan read the cached edge layout"


def test_pagerank_weighted_allclose(spark):
    """Weighted walk: rank splits proportionally to edge weight. Verified
    against a handwritten numpy weighted power iteration to 1e-12."""
    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (3, 0, 5.0), (3, 1, 1.0), (1, 4, 2.0),  # 4 is dangling
    ]
    n = 5
    e = spark.createDataFrame(edges, "src_id long, dst_id long, weight double")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    d = 0.85
    W = np.zeros((n, n))
    for s, t, w in edges:
        W[s, t] = w
    out_w = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(60):
        dm = r[out_w == 0].sum()
        contrib = np.zeros(n)
        for s in range(n):
            if out_w[s] > 0:
                contrib += r[s] * W[s] / out_w[s]
        r = (1 - d) / n + d * (contrib + dm / n)
    res = pagerank(v, e, tol=-1.0, max_iter=60, weight_col="weight")
    got = np.zeros(n)
    for row in res.ranks.collect():
        got[row.id] = row["rank"]
    assert np.allclose(got, r, atol=1e-12, rtol=0)
    assert abs(got.sum() - 1.0) < 1e-9
    # weighting changes the answer vs the unweighted walk on this graph
    unw = pagerank(v, e, tol=-1.0, max_iter=60)
    got_unw = np.array([row["rank"] for row in unw.ranks.orderBy("id").collect()])
    assert not np.allclose(got, got_unw, atol=1e-4)


def test_rollup_edges_weights(spark):
    """Page→domain rollup: multi-edges collapse to counts, self-loops drop."""
    from pyspark.sql import functions as F

    from amanogawa_spark.graph.build import rollup_edges

    domain = lambda c: F.floor(c / 10).cast("long")  # noqa: E731
    page_edges = [(0, 11), (1, 12), (2, 13), (10, 3), (11, 23), (1, 2)]
    e = spark.createDataFrame(page_edges, "src_id long, dst_id long")
    got = {
        (r.src_id, r.dst_id): r.weight
        for r in rollup_edges(e, domain).collect()
    }
    assert got == {(0, 1): 3, (1, 0): 1, (1, 2): 1}
    with_loops = {
        (r.src_id, r.dst_id): r.weight
        for r in rollup_edges(e, domain, drop_self_loops=False).collect()
    }
    assert with_loops[(0, 0)] == 1  # the intra-domain (1,2) link


def test_personalized_pagerank_converged_allclose(spark, graph):
    from amanogawa_spark.graph.pagerank import personalized_pagerank

    from tests.oracles import personalized_pagerank_numpy

    v, e, n, id_edges = graph
    seed_ids = {i for i in range(n) if i % 25 == 0}
    expected = personalized_pagerank_numpy(n, id_edges, seed_ids, tol=1e-6)
    seeds = v.filter((v.id % 25) == 0)
    res = personalized_pagerank(v, e, seeds, tol=1e-6, max_iter=200)
    got = np.zeros(n)
    for r in res.ranks.collect():
        got[r.id] = r["rank"]
    assert res.delta <= 1e-6
    assert np.allclose(got, expected, atol=1e-9, rtol=0)
    # scores concentrate near the seeds: total seed mass exceeds uniform share
    assert got[list(seed_ids)].sum() > len(seed_ids) / n


def test_katz_centrality_matches_numpy(spark):
    from amanogawa_spark.graph.pagerank import katz_centrality

    edges = [(0, 1), (1, 2), (2, 0), (3, 1), (3, 2), (4, 0)]
    n, alpha, beta, iters = 5, 0.0625, 1.0, 8
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    x = np.full(n, beta)
    for _ in range(iters):
        x = alpha * (A.T @ x) + beta
    e = spark.createDataFrame(edges, "src_id long, dst_id long")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got_df = katz_centrality(v, e, alpha=alpha, beta=beta, iterations=iters)
    got = np.zeros(n)
    for r in got_df.collect():
        got[r.id] = r.katz
    assert np.allclose(got, x, atol=0, rtol=0)  # dyadic alpha -> exact
    # walk-counting semantics: 1 and 2 (fed by hub 3) outrank source-only 3, 4
    assert got[1] > got[3] and got[2] > got[4]
