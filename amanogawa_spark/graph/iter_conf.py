"""Loop conf for iterative driver loops: AQE off, shuffle partitions pinned.

Adaptive Query Execution re-plans at every exchange by materializing
query stages — one extra scheduling barrier per shuffle per iteration.
The PageRank-shaped loops pin their physical plans deliberately:
partitioning is fixed once and reused from cache (see below), the
O(V)-side joins carry explicit ``shuffle_hash`` hints, and partial
aggregation already collapses hub fan-in map-side — so runtime
re-planning has nothing left to improve and only adds latency.

Measured on the bench corpus (10k pages, 33k edges, local[32]), per
algorithm, before deciding scope:

- PageRank to 1e-6 (41 iters): 72.7 s AQE-on vs 23.8 s off
  (1.77 → 0.58 s/iteration) → **wrapped** (pagerank + personalized).
- connected components: 11.4 s vs 11.4 s → left on default AQE (its
  rounds are union/distinct-heavy; stage coalescing pays for itself).
- LPA 5 rounds: 17.8 s vs 16.0 s; HITS 10 iters: 32.2 s vs 29.3 s —
  both within the host variance band → left on default AQE.

At 10^12-edge scale per-iteration compute dominates and this matters
less; conversely AQE's skew-join splitting can be worth the barriers if
a graph's residual hub skew defeats the salting/partial-agg story — so
every loop exposes ``adaptive=True`` to opt back in.

The conf must already be in force when a loop BUILDS its persisted
layouts, not only while it iterates: a frame persisted with AQE on caches
an ``AdaptiveSparkPlan``, which hides its partitioning, and a layout
hashed to a different partition count than the loop's exchanges cannot
be reused either way — the planner then re-shuffles the cached edge
table every iteration. ``shuffle_partitions`` pins
``spark.sql.shuffle.partitions`` for the same scope, so the persisted
layouts, the per-iteration aggregates and the state frame all hash to
one partition count and the loop's joins stay narrow
(``graph/pagerank.py``: ``scoped_layout``). With the partition count it
also sets ``spark.sql.requireAllClusterKeysForCoPartition=false``: the
pid-clustered layout (``graph/blocked.py``) joins on
``(spid, salt, src_id)`` against sides hashed on ``(spid, salt)`` only,
which Spark accepts as co-partitioned only under that setting. The
classic layout's joins are single-key, so it cannot change their plans.

The Spark conf is session-scoped: a concurrent query on another thread
of the SAME session during the loop would also run under these
settings. The previous values are always restored on exit (including
on error).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"
_COPART = "spark.sql.requireAllClusterKeysForCoPartition"


@contextmanager
def iteration_conf(
    spark: SparkSession,
    disable_aqe: bool = True,
    shuffle_partitions: int | None = None,
):
    pinned = {}
    if disable_aqe:
        pinned[_AQE] = "false"
    if shuffle_partitions is not None:
        pinned[_PARTS] = str(shuffle_partitions)
        pinned[_COPART] = "false"
    prev = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
