"""SCC vs a handwritten iterative Tarjan oracle — exact match required."""

from __future__ import annotations

from pyspark.sql import functions as F

from amanogawa_spark.graph.scc import strongly_connected_components


def tarjan_scc(n: int, edges: set[tuple[int, int]]) -> dict[int, int]:
    """Iterative Tarjan; component id = min member id (matches the engine)."""
    adj: dict[int, list[int]] = {i: [] for i in range(n)}
    for s, d in edges:
        adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack: list[int] = []
    result: dict[int, int] = {}
    counter = [0]

    def strongconnect(v0: int) -> None:
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    result[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])

    for v in range(n):
        if v not in index:
            strongconnect(v)
    return result


def _random_digraph(n: int, avg_deg: float, seed: int) -> set[tuple[int, int]]:
    """Deterministic sparse digraph via an arithmetic hash coin."""
    edges = set()
    p_scaled = int(avg_deg / n * (1 << 16))
    for s in range(n):
        for d in range(n):
            if s != d and (s * 2654435761 + d * 40503 + seed) % (1 << 16) < p_scaled:
                edges.add((s, d))
    return edges


def test_scc_matches_tarjan(spark):
    for seed, avg in [(1, 1.2), (2, 2.5)]:
        n = 60
        edges = _random_digraph(n, avg, seed)
        expected = tarjan_scc(n, edges)
        e = spark.createDataFrame(sorted(edges), "src_id long, dst_id long")
        v = spark.createDataFrame([(i,) for i in range(n)], "id long")
        got = {r.id: r.scc for r in strongly_connected_components(v, e).collect()}
        assert got == expected, f"seed={seed} avg={avg}"


def test_scc_resume_from_checkpoint(spark, tmp_path):
    """Interrupted peel resumes at the saved round and matches a clean run."""
    from amanogawa_spark.checkpoint import CheckpointManager

    n = 40
    edges = _random_digraph(n, 1.5, seed=5)
    e = spark.createDataFrame(sorted(edges), "src_id long, dst_id long")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    full = {r.id: r.scc for r in strongly_connected_components(v, e).collect()}
    ckpt = CheckpointManager(spark, str(tmp_path / "scc"))
    strongly_connected_components(v, e, max_outer=1, checkpoint=ckpt)
    assert ckpt.latest_iteration() == 1
    resumed = {
        r.id: r.scc
        for r in strongly_connected_components(v, e, checkpoint=ckpt).collect()
    }
    assert resumed == full == tarjan_scc(n, edges)
    # the journal holds one row per outer round, each with its active count
    rows = ckpt.read_metrics()
    assert [r["iteration"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) >= 2 and all("active" in r for r in rows)
    assert rows[-1]["active"] == 0 < rows[0]["active"]


def test_scc_trim_path_matches_tarjan(spark, tmp_path):
    """The trim path and, with ``max_trim=0``, the bare double fixpoint
    both give Tarjan's answer; on a 4-vertex path the trim peels every
    vertex in the first outer round, where the fixpoint alone peels one
    vertex per round."""
    from amanogawa_spark.checkpoint import CheckpointManager

    bridge = {(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)}
    for n, edges in [
        (60, _random_digraph(60, 1.2, 1)),
        (60, _random_digraph(60, 2.5, 2)),
        (7, bridge),
    ]:
        e = spark.createDataFrame(sorted(edges), "src_id long, dst_id long")
        v = spark.createDataFrame([(i,) for i in range(n)], "id long")
        for max_trim in (5, 0):
            got = strongly_connected_components(v, e, max_trim=max_trim).collect()
            assert {r.id: r.scc for r in got} == tarjan_scc(n, edges), (n, max_trim)

    path = {(0, 1), (1, 2), (2, 3)}
    e = spark.createDataFrame(sorted(path), "src_id long, dst_id long")
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    for max_trim, rounds in ((5, 1), (0, 4)):
        ckpt = CheckpointManager(spark, str(tmp_path / f"trim{max_trim}"))
        got = strongly_connected_components(v, e, max_trim=max_trim, checkpoint=ckpt)
        assert {r.id: r.scc for r in got.collect()} == tarjan_scc(4, path)
        assert len(ckpt.read_metrics()) == rounds, max_trim


def test_scc_two_cycles_with_dag_bridge(spark):
    """Two cycles bridged by a DAG path must stay distinct components;
    the bridge + tail vertices are singletons."""
    edges = {(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)}
    e = spark.createDataFrame(sorted(edges), "src_id long, dst_id long")
    v = spark.createDataFrame([(i,) for i in range(7)], "id long")
    expected = tarjan_scc(7, edges)
    got = {r.id: r.scc for r in strongly_connected_components(v, e).collect()}
    assert got == expected == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6}
