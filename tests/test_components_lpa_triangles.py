"""CC / LPA / triangle-count vs exact local oracles (north rule: exact match)."""

from __future__ import annotations

import pytest

from amanogawa_spark.graph.build import build_edges, build_vertices
from amanogawa_spark.graph.components import (
    connected_components,
    connected_components_minlabel,
)
from amanogawa_spark.graph.lpa import label_propagation
from amanogawa_spark.graph.triangles import triangle_count

from tests.oracles import components_bfs, lpa_sync, triangles_brute


@pytest.fixture(scope="module")
def graph(spark, corpus, pages_df):
    v = build_vertices(pages_df).persist()
    e = build_edges(pages_df, v).persist()
    url_to_id = {r.url: r.id for r in v.collect()}
    id_edges = {(url_to_id[s], url_to_id[d]) for s, d in corpus.expected_edges}
    return v, e, len(url_to_id), id_edges


def test_components_star_exact(spark, graph):
    v, e, n, id_edges = graph
    expected = components_bfs(n, id_edges)
    got = {r.id: r.component for r in connected_components(v, e).collect()}
    assert got == expected
    # the fixture guarantees >= 2 components
    assert len(set(expected.values())) >= 2


def test_components_minlabel_exact(spark, graph):
    v, e, n, id_edges = graph
    expected = components_bfs(n, id_edges)
    got = {r.id: r.component for r in connected_components_minlabel(v, e).collect()}
    assert got == expected


def test_lpa_sync_exact(spark, graph):
    v, e, n, id_edges = graph
    for rounds in (1, 3):
        expected = lpa_sync(n, id_edges, rounds)
        got = {r.id: r.label for r in label_propagation(v, e, max_rounds=rounds).collect()}
        assert got == expected, f"rounds={rounds}"


def test_triangles_exact(spark, graph):
    v, e, n, id_edges = graph
    expected = triangles_brute(id_edges)
    res = triangle_count(e)
    assert res.total == expected
    assert expected > 0  # fixture must make the test non-trivial


def test_clustering_coefficient_known_graph(spark):
    """K3 + pendant: triangle corners split between lcc=1 (deg 2) and
    lcc=1/3 (the deg-3 corner carrying the pendant); pendant lcc=0."""
    from amanogawa_spark.graph.triangles import clustering_coefficient

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 3)], "src_id long, dst_id long"
    )
    got = {r.id: (r.triangles, r.lcc) for r in clustering_coefficient(e).collect()}
    assert got[1] == (1, 1.0) and got[2] == (1, 1.0)
    assert got[0][0] == 1 and abs(got[0][1] - 1.0 / 3.0) < 1e-12
    assert got[3] == (0, 0.0)


def test_triangle_approx_estimator(spark):
    """DOULION estimator: unbiased on a triangle-rich graph; deterministic."""
    from pyspark.sql import functions as F

    from amanogawa_spark.graph.triangles import triangle_total, triangle_total_approx

    # dense-ish random graph: ids 0..199, edge (i,j) if hash coin < 0.15
    ids = spark.range(0, 200).select(F.col("id").alias("a"))
    pairs = ids.crossJoin(spark.range(0, 200).select(F.col("id").alias("b"))).filter(
        F.col("a") < F.col("b")
    )
    edges = pairs.filter(
        (F.xxhash64("a", "b", F.lit(3)).bitwiseAND(F.lit((1 << 20) - 1)))
        < int(0.15 * (1 << 20))
    ).select(F.col("a").alias("src_id"), F.col("b").alias("dst_id")).persist()
    exact = triangle_total(edges).collect()[0][0]
    assert exact > 100  # rich enough for a meaningful estimate
    est_row = triangle_total_approx(edges, p=0.5, seed=11).collect()[0]
    est = est_row["n_triangles_est"]
    assert abs(est - exact) / exact < 0.5  # ~1/sqrt(p^3 T) regime
    # deterministic: same seed, different partitioning -> same estimate
    est2 = triangle_total_approx(edges.repartition(7), p=0.5, seed=11).collect()[0][
        "n_triangles_est"
    ]
    assert est == est2


def test_k_core_peeling(spark):
    """Triangle 0-1-2 plus a pendant chain 2-3-4: the 2-core is exactly the
    triangle (3 and 4 peel off in cascading rounds)."""
    from pyspark.sql import functions as F

    from amanogawa_spark.graph.kcore import k_core

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "src_id long, dst_id long"
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    core2 = {r.id for r in k_core(verts, edges, k=2).collect()}
    assert core2 == {0, 1, 2}
    core3 = {r.id for r in k_core(verts, edges, k=3).collect()}
    assert core3 == set()  # no 3-core in a single triangle
    core1 = {r.id for r in k_core(verts, edges, k=1).collect()}
    assert core1 == {0, 1, 2, 3, 4}


def test_hits_star_graph(spark):
    """Star 1..4 -> 0: vertex 0 is the pure authority, 1..4 equal pure hubs."""
    from amanogawa_spark.graph.hits import hits

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], "src_id long, dst_id long"
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    res = hits(verts, edges, tol=1e-9, max_iter=20)
    s = {r.id: (r.hub, r.authority) for r in res.scores.collect()}
    assert abs(s[0][1] - 1.0) < 1e-9  # all authority mass on the center
    assert abs(s[0][0]) < 1e-9  # center has no out-links -> zero hub
    for i in range(1, 5):
        assert abs(s[i][0] - 0.25) < 1e-9  # equal hubs
        assert abs(s[i][1]) < 1e-9
    assert res.iterations < 20  # converges immediately on a star


@pytest.mark.parametrize("algo", ["hits", "salsa"])
def test_hub_authority_one_job_per_round(spark, monkeypatch, algo):
    """HITS and SALSA run one fixed-size plan and one job per round: jobs
    are counted by job group over 6 fixed rounds minus the layout set-up
    (the same call with 0 rounds), and the analyzed plan at the last
    round's localCheckpoint is no larger than at round 2's."""
    import pyspark.sql.classic.dataframe as dfmod

    from amanogawa_spark.graph.hits import hits_fixed_iterations
    from amanogawa_spark.graph.salsa import salsa_fixed_iterations

    fixed = {"hits": hits_fixed_iterations, "salsa": salsa_fixed_iterations}[algo]
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(40)], "src_id long, dst_id long"
    )
    verts = spark.createDataFrame([(i,) for i in range(20)], "id long")
    sizes: list[int] = []
    orig = dfmod.DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        sizes.append(len(self._jdf.queryExecution().analyzed().toString()))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(dfmod.DataFrame, "localCheckpoint", recording)
    sc = spark.sparkContext

    def jobs(rounds: int) -> int:
        group = f"{algo}-{rounds}-rounds"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fixed(verts, edges, rounds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    setup = jobs(0)
    sizes.clear()
    per_round = (jobs(6) - setup) / 6
    assert per_round <= 1.1, (per_round, setup)
    assert len(sizes) >= 6 and sizes[-1] <= 1.5 * sizes[1], sizes


def test_coreness_single_peel_matches_kcore_ladder(spark):
    """Per-vertex coreness from ONE level-jump peel must agree with the
    independent per-k peels: {v: coreness >= k} == k_core(k) for every k,
    and the derived histogram matches the old per-k formulation's counts."""
    from amanogawa_spark.graph.kcore import coreness, coreness_histogram, k_core

    edges = spark.createDataFrame(
        [(i, (i * i + 3) % 30) for i in range(90)] + [(i, (i + 1) % 10) for i in range(10)],
        "src_id long, dst_id long",
    )
    verts = spark.createDataFrame([(i,) for i in range(30)], "id long")
    c = {r.id: r.coreness for r in coreness(verts, edges).collect()}
    assert set(c) == set(range(30))
    for k in (1, 2, 3, 5):
        ladder = {r.id for r in k_core(verts, edges, k=k).collect()}
        from_coreness = {v for v, cc in c.items() if cc >= k}
        assert ladder == from_coreness, f"k={k}"
    hist = {r.k: r.core_size for r in coreness_histogram(verts, edges, ks=[1, 2, 3, 5]).collect()}
    assert hist == {k: sum(1 for cc in c.values() if cc >= k) for k in (1, 2, 3, 5)}


def test_k_truss_known_graph(spark):
    """K4 survives 4-truss peeling; a pendant triangle and bridge edges
    peel away (and the bridge's removal is what kills the triangle —
    the cascade the fixpoint loop must capture)."""
    from pyspark.sql import functions as F

    from amanogawa_spark.graph.triangles import k_truss

    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    extra = [(3, 4), (4, 5), (4, 6), (5, 6)]  # bridge 3-4 + triangle 4-5-6
    e = spark.createDataFrame(k4 + extra, "src_id long, dst_id long")
    out = {(r.a, r.b) for r in k_truss(e, k=4).collect()}
    assert out == set(k4)
    # 3-truss keeps both triangles' edges but drops the bridge
    out3 = {(r.a, r.b) for r in k_truss(e, k=3).collect()}
    assert out3 == set(k4) | {(4, 5), (4, 6), (5, 6)}


def test_lpa_weighted_outvotes_count(spark):
    """A single heavy edge must beat several light edges under weight_col,
    even when the heavy neighbor has the LARGEST label (so the unweighted
    count+tiebreak path provably chooses differently)."""
    from amanogawa_spark.graph.lpa import label_propagation

    # vertex 5: heavy edge to 9 (w=10), light edges to 0 and 1 (w=1)
    edges = [(5, 9, 10.0), (5, 0, 1.0), (5, 1, 1.0)]
    e = spark.createDataFrame(edges, "src_id long, dst_id long, weight double")
    v = spark.createDataFrame([(i,) for i in (0, 1, 5, 9)], "id long")
    w1 = {r.id: r.label for r in label_propagation(v, e, max_rounds=1, weight_col="weight").collect()}
    assert w1[5] == 9  # mass 10 beats 1+1
    u1 = {r.id: r.label for r in label_propagation(v, e, max_rounds=1).collect()}
    assert u1[5] == 0  # unweighted: three-way count tie -> smallest label


def test_components_incremental_warm_start(spark):
    """Append-only update: warm-started CC equals the cold recompute on
    the grown graph and converges in fewer rounds (job-count proxy:
    compare metrics via history-free API -> just assert equality +
    correctness against BFS)."""
    from tests.oracles import components_bfs

    day1 = [(0, 1), (1, 2), (5, 6), (8, 9)]
    new_edges = [(2, 5), (9, 10)]  # merges {0,1,2}+{5,6}; extends {8,9}
    e1 = spark.createDataFrame(day1, "src_id long, dst_id long")
    v1 = spark.createDataFrame([(i,) for i in range(11)], "id long")
    prior = connected_components(v1, e1)
    e2 = spark.createDataFrame(day1 + new_edges, "src_id long, dst_id long")
    warm = {
        r.id: r.component
        for r in connected_components(v1, e2, initial=prior).collect()
    }
    cold = {r.id: r.component for r in connected_components(v1, e2).collect()}
    expected = components_bfs(11, set(day1 + new_edges))
    assert warm == cold == expected


def test_triangle_count_scale_gate_routing(spark):
    """Above max_exact_edges the exact wedge join is a measured disk-filler
    (BENCH §3b): default refuses with guidance, 'approx' auto-routes to
    DOULION (total-only), 'exact' overrides."""
    import pytest

    from amanogawa_spark.graph.triangles import triangle_count

    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], ["src_id", "dst_id"]
    )
    with pytest.raises(ValueError, match="DOULION|approx"):
        triangle_count(tri, max_exact_edges=2)
    routed = triangle_count(tri, max_exact_edges=2, on_large="approx", doulion_p=1.0)
    # p=1.0 keeps every edge: the DOULION "estimate" is the exact count
    assert routed.total == 1 and routed.per_vertex is None
    forced = triangle_count(tri, max_exact_edges=2, on_large="exact")
    assert forced.total == 1 and forced.per_vertex is not None
    # under the gate nothing changes
    normal = triangle_count(tri)
    assert normal.total == 1
    with pytest.raises(ValueError, match="on_large"):
        triangle_count(tri, on_large="bogus")


def test_iterative_results_leave_no_cached_relations(spark):
    """Every round is a local checkpoint and the symmetrized pairs are
    released before returning, so none of the iterative programs leaves a
    cached relation behind in the session's cache manager — including
    LPA stopping between checkpoint rounds and loops that converge early."""
    from amanogawa_spark.graph.centrality import truncated_harmonic
    from amanogawa_spark.graph.hits import hits
    from amanogawa_spark.graph.hyperball import (
        hyperball,
        hyperball_closeness,
        neighborhood_function,
    )
    from amanogawa_spark.graph.kcore import k_core
    from amanogawa_spark.graph.salsa import salsa
    from amanogawa_spark.graph.scc import strongly_connected_components

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (6, 7), (7, 8), (8, 6)],
        "src_id long, dst_id long",
    )
    verts = spark.createDataFrame([(i,) for i in range(10)], "id long")
    cache = spark._jsparkSession.sharedState().cacheManager()
    leaked = []
    for name, run in (
        ("connected_components", lambda: connected_components(verts, edges)),
        ("minlabel", lambda: connected_components_minlabel(verts, edges)),
        ("label_propagation", lambda: label_propagation(verts, edges, max_rounds=3)),
        ("k_core", lambda: k_core(verts, edges, k=2)),
        ("hits", lambda: hits(verts, edges, max_iter=5).scores),
        ("salsa", lambda: salsa(verts, edges, max_iter=5).scores),
        ("scc", lambda: strongly_connected_components(verts, edges)),
        ("hyperball", lambda: hyperball(verts, edges)),
        ("hyperball_closeness", lambda: hyperball_closeness(verts, edges, max_radius=3)),
        ("neighborhood_function", lambda: neighborhood_function(verts, edges, max_radius=3)),
        ("truncated_harmonic", lambda: truncated_harmonic(verts, edges)),
    ):
        before = cache.numCachedEntries()
        out = run()
        assert (len(out) if isinstance(out, list) else out.count()) > 0, name
        if cache.numCachedEntries() != before:
            leaked.append(name)
    assert leaked == []
