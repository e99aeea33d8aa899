"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode runs the PageRank superjob at two parallelism levels
(local[8] vs local[32] by default) on identical input and reports
throughput + scaling efficiency — the sandbox stand-in for the north
rule's N vs 4N executor clusters (see BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# scale-probe corpus size at sf=1.0 (→ 100k docs/vectors at the sf0.1
# headline run — ~200x the sf-table doc count, enough to surface hot-bucket
# skew while keeping the per-round suite bounded)
SCALE_PROBE_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_DOCS", "1000000"))


def _sf_of(path: str) -> float:
    name = os.path.basename(path.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


# median-of-3 runs recorded here by _timed_med, keyed like `queries`
_RUNS: dict[str, list[float]] = {}


def _timed_med(name: str, fn, repeats: int = 3) -> float:
    """Median of ``repeats`` runs — for PURE probes (no persisted-state
    mutation) cheap enough to repeat. The spread rides along in the
    emitted ``queries_runs`` so cross-round comparisons can see host
    noise instead of guessing at it (VERDICT r3 item 3)."""
    runs = sorted(_timed(fn) for _ in range(repeats))
    _RUNS[name] = [round(r, 3) for r in runs]
    return runs[len(runs) // 2]


def calibration_probe(spark) -> float:
    """Fixed-work CPU+shuffle microjob (median of 3): 20M xxhash64 rows
    through one 1000-key aggregate. Its wall time normalizes every query
    time into a host-speed-independent ratio — BENCH_rN.json files taken
    in different driver windows become comparable via
    ``queries_normalized`` (raw seconds stay authoritative)."""
    from pyspark.sql import functions as F

    def job():
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(
                (F.xxhash64("id") % 1000).alias("k"),
                F.xxhash64("id", "id").alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .count()
        )

    return sorted(_timed(job) for _ in range(3))[1]


def build_pages(spark, n_pages: int, seed: int = 7):
    """Deterministic in-memory pages corpus → DataFrame (bench fixture)."""
    from amanogawa_spark.fixtures.pages import generate_pages

    corpus = generate_pages(n_pages=n_pages, seed=seed)
    df = spark.createDataFrame(corpus.pages)
    return df


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    """Headline per-query wall times. Mix: link-graph pipeline on the pages
    corpus + heavy testdata queries (agg, dedup, similarity)."""
    from pyspark.sql import functions as F

    from amanogawa_spark.graph.build import build_edges, build_vertices
    from amanogawa_spark.graph.components import connected_components
    from amanogawa_spark.graph.pagerank import pagerank
    from amanogawa_spark.graph.triangles import triangle_total
    from amanogawa_spark.operators.dedup import minhash_dedup
    from amanogawa_spark.oracle_suite import (
        q_agg_pricing,
        q_ann_topk,
        q_join_agg_revenue,
        q_user_sessions,
    )

    sf = _sf_of(sf_dir)
    n_pages = max(2000, int(100_000 * sf))  # 10k pages at sf0.1
    results: dict[str, float] = {}

    pages = build_pages(spark, n_pages).persist()
    pages.count()

    # end-to-end graph construction: extract → dictionary → edges
    vertices = edges = None

    def _build():
        nonlocal vertices, edges
        vertices = build_vertices(pages).persist()
        edges = build_edges(pages, vertices).persist()
        edges.count()
        vertices.count()

    results["graph_build"] = _timed(_build)

    pr_res = {}

    def _pr():
        res = pagerank(vertices, edges, tol=1e-6, max_iter=100)
        pr_res["iters"] = res.iterations
        pr_res["edges"] = edges.count()
        pr_res["ranks"] = res.ranks  # converged vector, reused by the warm probe

    results["pagerank_converge"] = _timed(_pr)
    results["pagerank_iters"] = float(pr_res["iters"])
    results["pagerank_edges_per_sec"] = round(
        pr_res["edges"] * pr_res["iters"] / results["pagerank_converge"], 2
    )

    # denser, distributed-generated graph (web-like out-degree) — the
    # representative edges-per-second number; the sparse corpus above is
    # overhead-bound at sandbox scale and measures convergence latency only
    from amanogawa_spark.fixtures.distributed import distributed_pages
    from amanogawa_spark.graph.pagerank import pagerank as _pr

    dense = {}

    def _pr_dense():
        dpages = distributed_pages(
            spark, max(20_000, int(2_000_000 * sf)), out_links=(10, 30)
        ).persist()
        dverts = build_vertices(dpages, id_mode="hash").persist()
        dedges = build_edges(dpages, dverts).persist()
        dense["edges"] = dedges.count()
        t0 = time.time()
        _pr(dverts, dedges, tol=-1.0, max_iter=8)
        dense["pr_sec"] = time.time() - t0
        dpages.unpersist()
        dverts.unpersist()
        dedges.unpersist()

    results["pagerank_dense_build_and_8iter"] = _timed(_pr_dense)
    results["pagerank_dense_edges_per_sec"] = round(
        dense["edges"] * 8 / dense["pr_sec"], 2
    )

    results["connected_components"] = _timed_med(
        "connected_components", lambda: connected_components(vertices, edges).count()
    )
    results["triangle_count"] = _timed_med(
        "triangle_count", lambda: triangle_total(edges).collect()
    )

    results["agg_pricing"] = _timed_med(
        "agg_pricing", lambda: q_agg_pricing(spark, sf_dir).collect()
    )
    results["join_agg_revenue"] = _timed_med(
        "join_agg_revenue", lambda: q_join_agg_revenue(spark, sf_dir).collect()
    )
    results["sessionize"] = _timed_med(
        "sessionize", lambda: q_user_sessions(spark, sf_dir).collect()
    )
    results["minhash_dedup"] = _timed_med(
        "minhash_dedup",
        lambda: minhash_dedup(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).count(),
    )
    results["ann_topk"] = _timed_med(
        "ann_topk", lambda: q_ann_topk(spark, sf_dir).count()
    )

    # --- scale probes: dedup + ANN on DISTRIBUTED corpora ~20x the sf tables
    # (round-1 benched these only at sf0.1 doc counts; hot band buckets /
    # dense LSH regions only show up with volume). Both run with the
    # max_bucket_size guard that bounds a hot bucket's self-join at B².
    from amanogawa_spark.fixtures.distributed import (
        distributed_embeddings,
        distributed_pages,
    )
    from amanogawa_spark.operators.similarity import cosine_topk_lsh

    n_scale = max(20_000, int(SCALE_PROBE_DOCS * sf))

    def _minhash_scale():
        docs = distributed_pages(spark, n_scale).select(
            F.monotonically_increasing_id().alias("doc_id"), "text"
        )
        minhash_dedup(docs, max_bucket_size=200).count()

    results["minhash_dedup_scale"] = _timed(_minhash_scale)

    def _ann_lsh_scale():
        # ~50 members/cluster: candidate volume ~ n_clusters * 50^2/2 * tables
        # stays ~10M pairs at 100k vectors; the max_bucket_size guard caps any
        # denser accidental bucket (the hot-bucket skew this probe exists to
        # surface — at 200 members/cluster the unguarded join was 80M pairs
        # and 130s, measured)
        emb = distributed_embeddings(spark, n_scale, dim=64, n_clusters=max(50, n_scale // 50))
        # gram-matrix per-bucket top-k (method='arrow'): the expr path's
        # pair-dedup exchange carries 2×64 doubles per candidate pair —
        # measured 83 s → 11 s at this shape, identical rows (parity
        # pytest); the expr path remains the q_ann_lsh oracle mirror
        cosine_topk_lsh(
            emb, k=5, dim=64, n_tables=4, n_planes=14, max_bucket_size=150,
            method="arrow",
        ).count()

    results["ann_lsh_scale"] = _timed(_ann_lsh_scale)

    # --- round-4 sixth-session probes: ANN recall, CDC dedup, WL prints ---
    def _ann_recall_metric():
        from amanogawa_spark.operators.similarity import (
            cosine_topk_brute,
            cosine_topk_lsh,
        )

        emb = distributed_embeddings(
            spark, 2000, dim=64, n_clusters=40
        ).persist()
        emb.count()
        exact = cosine_topk_brute(emb, k=5).select("query_id", "neighbor_id")
        approx = cosine_topk_lsh(
            emb, k=5, dim=64, n_tables=4, n_planes=14, max_bucket_size=150,
            method="arrow",
        ).select("query_id", "neighbor_id")
        hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
        total = exact.count()
        emb.unpersist()
        return hits / max(total, 1)

    results["ann_lsh_recall_metric"] = round(_ann_recall_metric(), 4)
    def _cdc_scale():
        from amanogawa_spark.operators.chunking import cdc_dup_stats

        docs = distributed_pages(spark, n_scale).select(
            F.monotonically_increasing_id().alias("doc_id"), "text"
        )
        # production shape: xxhash64 window hash (one JVM hash/position),
        # expected chunk 64 chars; the fingerprint aggregate is the only
        # exchange and carries (hash, count) partials
        cdc_dup_stats(docs, window=8, modulus=64, hash="xxhash64").count()

    results["cdc_dedup_scale"] = _timed(_cdc_scale)

    def _cdc_poly_scale():
        from amanogawa_spark.operators.chunking import cdc_dup_stats

        docs = distributed_pages(spark, n_scale).select(
            F.monotonically_increasing_id().alias("doc_id"), "text"
        )
        # Arrow fast path: vectorized windowed polynomial hash — measured
        # 10.2x the expression path (20.7 s -> 2.0 s) at this shape
        cdc_dup_stats(docs, window=8, modulus=64, hash="poly").count()

    results["cdc_dedup_poly_scale"] = _timed(_cdc_poly_scale)

    def _wl_scale():
        from amanogawa_spark.graph.wl import wl_labels

        # hub-proof sum digests: two joins + two map-side-combined
        # aggregates per round over the pages-derived edge table
        wl_labels(edges, rounds=2, agg="sum").count()

    results["wl_fingerprint_scale"] = _timed_med("wl_fingerprint_scale", _wl_scale)

    # --- round-2 operator probes -------------------------------------------
    # warm start (incremental recrawl): re-converge from the earlier run's
    # converged vector — only the warm leg is timed
    warm = {}

    def _pr_warm():
        res = pagerank(
            vertices, edges, tol=1e-6, max_iter=100, initial_ranks=pr_res["ranks"]
        )
        warm["warm_iters"] = res.iterations

    results["pagerank_warm_restart"] = _timed(_pr_warm)
    results["pagerank_warm_iters"] = float(warm.get("warm_iters", -1))

    # incremental repair (graph/incremental.py): ~1.5% deterministic edge
    # churn, then residual-push repair from the converged vector vs a cold
    # rerun on the churned snapshot — the recrawl-update operator's number
    from amanogawa_spark.graph.incremental import incremental_pagerank

    churned = (
        edges.select("src_id", "dst_id")
        .filter(F.pmod(F.xxhash64("src_id", "dst_id", F.lit(3)), F.lit(1000)) >= 10)
        .unionAll(
            edges.select(
                F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")
            ).filter(
                F.pmod(F.xxhash64("dst_id", "src_id", F.lit(4)), F.lit(1000)) < 5
            )
        )
        .persist()
    )
    churned.count()
    incr = {}

    def _pr_incr():
        res = incremental_pagerank(
            pr_res["ranks"], edges, churned, tol=1e-6
        )
        incr["rounds"] = res.iterations
        res.ranks.agg(F.sum("rank")).collect()

    results["pagerank_incr_repair"] = _timed(_pr_incr)
    results["pagerank_incr_rounds"] = float(incr.get("rounds", -1))

    def _pr_cold_churn():
        pagerank(vertices, churned, tol=1e-6, max_iter=100)

    results["pagerank_cold_after_churn"] = _timed(_pr_cold_churn)
    results["incr_repair_speedup_metric"] = round(
        results["pagerank_cold_after_churn"]
        / max(results["pagerank_incr_repair"], 1e-9),
        3,
    )
    churned.unpersist()

    # hash-deterministic walk corpus over the sparse bench graph
    from amanogawa_spark.graph.walks import random_walks

    results["random_walks_l4"] = _timed_med(
        "random_walks_l4",
        lambda: random_walks(edges, walk_length=4, walks_per_vertex=2).count(),
    )

    # second-order biased walks: adds the prev-adjacency join per step
    from amanogawa_spark.graph.walks import node2vec_walks

    results["node2vec_l4"] = _timed_med(
        "node2vec_l4",
        lambda: node2vec_walks(edges, walk_length=4, p=2.0, q=0.5).count(),
    )

    # SGNS training-pair pipeline over the walk corpus: skip-gram positives
    # (walk-key self-join) + degree^0.75 negatives (inverse-CDF bucket join)
    from amanogawa_spark.graph.negsample import degree_negative_samples
    from amanogawa_spark.graph.walks import skipgram_pairs

    def _sgns_pairs():
        w = random_walks(edges, walk_length=4, walks_per_vertex=2)
        pos = skipgram_pairs(w, window=2).select(
            F.col("center_id").alias("src_id"), F.col("context_id").alias("dst_id")
        )
        neg = degree_negative_samples(pos, m=2, degree_edges=edges)
        return pos.count() + neg.count()

    results["sgns_pairs_scale"] = _timed_med("sgns_pairs_scale", _sgns_pairs)

    # directed condensation of the derived digraph (SCC peel to fixpoint)
    from amanogawa_spark.graph.scc import strongly_connected_components
    from amanogawa_spark.oracle_suite import derived_edges

    def _scc():
        de = derived_edges(spark, sf_dir)
        dv = (
            de.select(F.col("src_id").alias("id"))
            .unionAll(de.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        strongly_connected_components(dv, de).count()

    results["scc_derived"] = _timed_med("scc_derived", _scc)

    # (the Louvain probe moved to the locality corpus below — round-4
    # verdict #4: on the locality-free graph the modularity metric sat at
    # a meaningless 0.15 no matter what the algorithm did)

    # --- round-3 operator probes -------------------------------------------
    # multi-source BFS over the bench link graph (frontier relaxation to
    # fixpoint — settles in ~diameter rounds)
    from amanogawa_spark.graph.sssp import bfs_levels

    seed_ids = [r["id"] for r in vertices.orderBy("id").limit(8).collect()]
    results["sssp_bfs8"] = _timed(lambda: bfs_levels(edges, seed_ids).count())

    # forward-push approximate PPR from 8 seeds: work ∝ touched frontier,
    # not |E|·iters — the per-seed-query path that avoids the full rank loop
    from amanogawa_spark.graph.push import forward_push_ppr

    seeds_df = vertices.orderBy("id").limit(8).select("id")

    def _push():
        forward_push_ppr(edges, seeds_df, alpha=0.15, eps=1e-5, max_rounds=20).count()

    results["push_ppr_8seeds"] = _timed_med("push_ppr_8seeds", _push)

    # batched multi-query ACL: 8 separate seed queries pushed+swept in ONE
    # job — per-round fixed costs amortize across the batch (measured 5.1×
    # vs 8 sequential single-query jobs on the derived sf0.1 graph; see
    # BENCH/BASELINE.md §5m)
    from amanogawa_spark.graph.localcluster import ppr_sweep_cut_batch
    from amanogawa_spark.graph.push import forward_push_ppr_batch

    def _push_batch():
        bs = None
        for q, m in enumerate([101, 103, 107, 109, 113, 127, 131, 137]):
            s = vertices.filter(F.col("id") % m == 0).select(
                F.lit(q).cast("long").alias("query_id"), "id"
            )
            bs = s if bs is None else bs.unionAll(s)
        ppr_sweep_cut_batch(
            edges, forward_push_ppr_batch(edges, bs, eps=1e-6, fixed_rounds=3)
        ).count()

    results["ppr_sweep_batch8"] = _timed(_push_batch)

    # DSIR importance scoring over the distributed scale corpus (~100k docs
    # at sf0.1): two LM aggregates + one broadcast-ratio scoring join —
    # the corpus shuffles only its own (id, bucket) aggregate
    from amanogawa_spark.operators.sampling import dsir_logratios

    def _dsir_scale():
        docs = distributed_pages(spark, n_scale).select(
            F.monotonically_increasing_id().alias("doc_id"), "text"
        )
        target = docs.filter(F.col("doc_id") % 97 == 0)
        dsir_logratios(docs, target, num_buckets=4096).count()

    results["dsir_scale"] = _timed_med("dsir_scale", _dsir_scale)

    # --- round-3 session probes: retrieval + semantic dedup at scale -------
    # BM25 over the distributed corpus (~100k docs at sf0.1): corpus stats
    # are map-side-combined aggregates; only the broadcast query set routes
    # postings into scoring
    from amanogawa_spark.operators.retrieval import bm25_scores

    n_mid = max(10_000, n_scale // 2)

    def _bm25_scale():
        docs = distributed_pages(spark, n_mid).select(
            F.monotonically_increasing_id().alias("doc_id"), "text"
        )
        qdf = spark.createDataFrame(
            [(1, "crawl"), (1, "graph"), (2, "spark"), (2, "page"), (3, "link")],
            ["query_id", "term"],
        )
        bm25_scores(docs, qdf, k=10).count()

    results["bm25_scale"] = _timed_med("bm25_scale", _bm25_scale)

    # SemDeDup over distributed embeddings: broadcast centroid assignment +
    # within-cluster pairs only. Sizing note (measured): assignment is
    # O(n·C·d) and the pair stage O(Σ|cluster|²) — 100k vectors over a
    # 256-centroid grid put ~40M pairs through the cosine filter (506 s);
    # ~150 members/centroid keeps the probe at a few million pairs. The
    # max_cluster_size guard stays as the backstop for skewed assignments.
    from amanogawa_spark.operators.semdedup import semdedup

    n_sem = max(10_000, n_scale // 3)

    def _semdedup_scale():
        emb = distributed_embeddings(
            spark, n_sem, dim=64, n_clusters=max(50, n_sem // 50)
        )
        # the BLAS path (arrow assignment + per-cluster gram matrix):
        # measured 54.4 s -> 8.2 s vs the Catalyst-fold pair join at this
        # shape, identical output (the expr path stays for oracle parity)
        semdedup(
            emb, threshold=0.9, stride=150, max_cluster_size=600, method="arrow"
        ).filter(~F.col("keep")).count()

    results["semdedup_scale"] = _timed_med("semdedup_scale", _semdedup_scale)

    # --- partitioning + layout probes (round-4) ----------------------------
    # The corpus: a web-LIKE graph with host-level link locality (80% of
    # links stay in a 500-page block — real web graphs keep ~3/4 of links
    # on-host). The earlier bench graph was locality-free, so NO partition
    # map could land under random's (k-1)/k cut — a probe that can't
    # distinguish a good partitioner from a bad one. The flat spinner row
    # stays for continuity; the HEADLINE partitioner is
    # community_partition (LPA communities + driver FFD bin-pack), the
    # shape that matches web structure.
    from amanogawa_spark.graph.partition import (
        _init_pid,
        community_partition,
        edge_cut,
        spinner_partition,
    )

    n_loc = max(4000, int(200_000 * sf))
    # out_links (30, 80): realistic web out-degree (same basis as the
    # scaling corpus) — at E/V ≈ 50 the aggregation partials dominate the
    # per-iteration shuffle, which is the regime the layout exists for
    loc_pages = distributed_pages(
        spark, n_loc, out_links=(30, 80), block_local_frac=0.8, block_size=500
    ).persist()
    loc_verts = build_vertices(loc_pages, id_mode="hash").persist()
    loc_edges = build_edges(loc_pages, loc_verts).persist()
    loc_edges.count()

    part = {}

    def _spinner():
        lbl = spinner_partition(
            loc_verts.select("id"), loc_edges, k=8, max_rounds=6,
            stop_moves_frac=0.02,
        )
        part["cut"] = edge_cut(loc_edges, lbl).collect()[0]["cut_frac_r"]

    results["spinner_partition_k8"] = _timed(_spinner)
    results["spinner_cut_frac_metric"] = round(part["cut"], 4)

    cpart = {}

    def _community_partition():
        lbl = community_partition(
            loc_verts.select("id"), loc_edges, k=8, lpa_rounds=6
        ).persist()
        cpart["cut"] = edge_cut(loc_edges, lbl).collect()[0]["cut_frac_r"]
        loads = sorted(
            r["count"] for r in lbl.groupBy("pid").count().collect()
        )
        n_v = sum(loads)
        cpart["imbalance"] = loads[-1] / (n_v / 8.0)
        cpart["labels"] = lbl

    results["partition_k8_seconds"] = _timed(_community_partition)
    results["partition_cut_frac_metric"] = round(cpart["cut"], 4)
    results["partition_max_imbalance_metric"] = round(cpart["imbalance"], 4)

    # community detection on the LOCALITY corpus (moved here from the
    # locality-free graph, where modularity was pinned at ~0.15 by
    # construction and measured nothing): 2-level Louvain, then
    # modularity of the found partition. With 80% of links in-block the
    # planted structure is recoverable, so the metric can actually move
    # on regressions. NOTE louvain_2level wall is not comparable to
    # rounds ≤4 (different corpus, ~50x denser) — same caveat as
    # spinner_partition_k8 in r4.
    from amanogawa_spark.graph.community import louvain
    from amanogawa_spark.graph.community import modularity as _mod

    comm = {}

    def _louvain():
        res = louvain(loc_verts.select("id"), loc_edges, max_levels=2,
                      rounds_per_level=3)
        comm["q"] = _mod(loc_edges, res, per_community=False).collect()[0][0]

    results["louvain_2level"] = _timed(_louvain)
    results["louvain_modularity_metric"] = round(comm["q"], 4)

    # the partition map's CONSUMER (graph/blocked.py): the same
    # fixed-iteration PageRank loop over a pid-clustered vs a random edge
    # layout; per-iteration shuffle bytes from the UI stage store. The
    # clustered layout's map-side combine emits ~V/k partials per
    # partition instead of ~V — the reduction is the partition map paying
    # rent on the shuffle that dominates iterative graph jobs at scale.
    from amanogawa_spark.graph.blocked import blocked_edges, blocked_pagerank

    def _stage_store():
        import urllib.request

        app = spark.sparkContext.applicationId
        base = spark.sparkContext.uiWebUrl
        if base is None:
            return None
        url = f"{base}/api/v1/applications/{app}/stages?status=complete"
        return json.load(urllib.request.urlopen(url))

    def _max_sid():
        data = _stage_store()
        return None if data is None else max((s["stageId"] for s in data), default=-1)

    def _shuf_since(sid):
        data = _stage_store()
        if data is None or sid is None:
            return -1.0
        return sum(
            s.get("shuffleWriteBytes", 0) for s in data if s["stageId"] > sid
        )

    rnd_lbl = loc_verts.select("id", _init_pid(8).alias("pid")).persist()
    for tag, lbl in (("random", rnd_lbl), ("clustered", cpart["labels"])):
        eb = blocked_edges(loc_edges, lbl, n_salt=2)
        # the MB figure includes blocked_pagerank's one-time re-hash of the
        # prebuilt layout under its loop conf — the same for both pid maps
        sid = _max_sid()
        res = blocked_pagerank(
            loc_verts.select("id"), loc_edges, lbl, max_iter=8,
            prebuilt_edges=eb,
        )
        res.ranks.count()
        shuf = _shuf_since(sid)
        eb.unpersist()
        results[f"layout_pagerank_{tag}_sec"] = round(
            sum(h["seconds"] for h in res.history), 3
        )
        results[f"layout_pagerank_{tag}_shuffle_mb_metric"] = round(shuf / 1e6, 2)
    r_mb = results["layout_pagerank_random_shuffle_mb_metric"]
    c_mb = results["layout_pagerank_clustered_shuffle_mb_metric"]
    results["layout_shuffle_reduction_metric"] = (
        round(1.0 - c_mb / r_mb, 4) if r_mb > 0 and c_mb >= 0 else -1.0
    )
    rnd_lbl.unpersist()
    cpart["labels"].unpersist()

    # --- round-4 tenth-session probes: zero-input generation + MC ranks ----
    # R-MAT generation rate: the zero-input scale fixture — one
    # whole-stage-codegen projection, no shuffle, no scan; this is the
    # per-core edge-synthesis floor for 10^12-edge rehearsals.
    from amanogawa_spark.graph.generate import rmat_edges

    rmat = {}

    def _rmat():
        df = rmat_edges(spark, scale=21, edge_factor=16)  # 33.5M edges
        rmat["edges"] = df.count()

    results["rmat_generate"] = _timed_med("rmat_generate", _rmat)
    results["rmat_edges_per_sec"] = round(rmat["edges"] / results["rmat_generate"], 2)

    # Monte-Carlo PageRank (graph/montecarlo.py): barrier-free approximate
    # ranks on the converge-probe graph; quality = top-50 overlap vs the
    # 1e-6-converged vector. Total work is n·R/(1-α) visits REGARDLESS of
    # iteration count — the sandbox wall is round-barrier latency, which
    # amortizes at cluster scale.
    from amanogawa_spark.graph.montecarlo import pagerank_montecarlo

    mc = {}

    def _mc():
        est = pagerank_montecarlo(edges, walks_per_vertex=4, max_len=16)
        mc["top"] = {
            r["id"] for r in est.orderBy(F.desc("pr_est")).limit(50).collect()
        }

    results["mc_pagerank"] = _timed(_mc)
    exact_top = {
        r["id"]
        for r in pr_res["ranks"].orderBy(F.desc("rank")).limit(50).collect()
    }
    results["mc_top50_overlap_metric"] = round(len(mc["top"] & exact_top) / 50.0, 4)

    # BlockRank warm start (graph/blockrank.py, Kamvar '03): the
    # block-structure init must cut global edge-shuffle rounds vs the cold
    # solver — the iteration-count counterpart of the layout probe's
    # shuffle-bytes win (the two compose). The probe graph is a
    # deterministic hub-skewed blocky web (every page links its 500-block
    # hub + 2 in-block peers, 10% uniform cross links) — the regime the
    # operator exists for: within-block inflow is shaped like the local
    # structure. NOTE the honest negative result (BENCH/BASELINE.md): on
    # the preferential-to-prefix locality corpus the init's residual bias
    # lies along the slow inter-component eigenmode and iterations-to-1e-6
    # REGRESS — BlockRank is a structure-conditional optimization, not a
    # universal one. Iterations are the scale-transferable metric: at
    # 10^12 edges each saved global round is an edge-sized shuffle, while
    # the init phases touch only intra-block edges / an O(blocks) table
    # (sandbox wall is init-barrier-bound, same story as louvain).
    from amanogawa_spark.graph.blockrank import blockrank

    n_bl = max(4000, int(40_000 * sf * 10))
    bs = 500
    b_ids = spark.range(n_bl).select(F.col("id"))
    b_base = (F.col("id") / bs).cast("long") * bs

    def _bu(tag, mod):
        return F.pmod(F.xxhash64("id", F.lit(tag)), F.lit(mod))

    br_edges = (
        b_ids.select("id", b_base.alias("dst"))
        .union(b_ids.select("id", (b_base + _bu(2, bs)).alias("dst")))
        .union(b_ids.select("id", (b_base + _bu(5, bs)).alias("dst")))
        .union(b_ids.filter(_bu(3, 10) == 0).select("id", _bu(4, n_bl).alias("dst")))
        .filter(F.col("id") != F.col("dst"))
        .select(F.col("id").alias("src_id"), F.col("dst").alias("dst_id"))
        .distinct()
        .persist()
    )
    br_verts = (
        br_edges.select(F.col("src_id").alias("id"))
        .union(br_edges.select("dst_id"))
        .distinct()
        .persist()
    )
    br_blocks = br_verts.select(
        "id", (F.col("id") / bs).cast("long").alias("blk")
    ).persist()
    n_br_edges = br_edges.count()
    br_blocks.count()
    br = {}
    gate: dict = {}

    def _br_cold():
        # the DEFAULT blockrank path: the work gate auto-skips the warm
        # start below warm_min_edges, so a default caller at sandbox scale
        # pays cold wall (this row), never the init-barrier ladder
        res = blockrank(
            br_verts, br_edges, br_blocks,
            tol=1e-6, max_iter=80, local_iters=8, block_iters=30,
            edge_count=n_br_edges, gate_info=gate,
        )
        br["cold_iters"] = res.iterations

    def _br_warm():
        # warm_min_edges=0 forces the warm start: iterations saved is the
        # scale-transferable number (each saved round is an edge-sized
        # shuffle at 10^12 edges; init touches only intra-block edges)
        res = blockrank(
            br_verts, br_edges, br_blocks,
            tol=1e-6, max_iter=80, local_iters=8, block_iters=30,
            warm_min_edges=0, edge_count=n_br_edges,
        )
        br["warm_iters"] = res.iterations

    results["blockrank_cold"] = _timed(_br_cold)
    results["blockrank_warm"] = _timed(_br_warm)
    results["blockrank_cold_iters"] = float(br["cold_iters"])
    results["blockrank_warm_iters"] = float(br["warm_iters"])
    results["blockrank_iters_saved_metric"] = round(
        1.0 - br["warm_iters"] / br["cold_iters"], 4
    )
    # gate record: 1.0 = default path auto-skipped the warm start here
    # (_metric suffix keeps both rows out of the suite-seconds sum)
    results["blockrank_gate_auto_skip_metric"] = float(not gate["warm_start"])
    results["blockrank_gate_min_edges_metric"] = float(gate["warm_min_edges"])
    for fr in (br_blocks, br_verts, br_edges):
        fr.unpersist()

    # --- end-to-end curation superjob (tools/run_curation_job.py) on the
    # locality corpus: extract → exact+MinHash dedup → graph → PageRank
    # (capped at 15 iterations so the row is cross-round comparable) →
    # quality gate → mixture → packing. Fresh work dir — no stage skips.
    import argparse
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
    from run_curation_job import run as _run_curation

    cur_dir = tempfile.mkdtemp(prefix="bench_curation_")
    loc_pages.write.mode("overwrite").parquet(f"{cur_dir}/pages")
    cur_args = argparse.Namespace(
        pages=f"{cur_dir}/pages", work=f"{cur_dir}/work", out=f"{cur_dir}/out",
        tol=1e-6, max_iter=15, checkpoint_every=5, minhash_threshold=0.8,
        min_tokens=3, mixture="en:1.0,ja:1.0,de:1.0,fr:1.0,es:1.0",
        max_tokens=2048,
    )
    t0 = time.time()
    cur_report = _run_curation(cur_args, spark=spark)
    results["curation_superjob"] = round(time.time() - t0, 3)
    results["curation_rows_metric"] = float(cur_report["curated_rows"])

    loc_pages.unpersist()
    loc_verts.unpersist()
    loc_edges.unpersist()

    pages.unpersist()
    return results


def run_default() -> dict:
    from amanogawa_spark.session import get_spark

    spark = get_spark(
        cpus=CPUS,
        app_name="amanogawa_bench",
        # the layout probe reads per-stage shuffle bytes from the UI store
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "30000"},
    )
    calibration = calibration_probe(spark)
    qtimes = bench_queries(spark, SF_DIR)
    total = sum(
        v
        for k, v in qtimes.items()
        if not k.endswith("_iters")
        and not k.endswith("_per_sec")
        and not k.endswith("_metric")  # quality scalars, not seconds
    )
    out = {
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in qtimes.items()},
        # host-speed normalization (VERDICT r3 item 3): seconds / the
        # fixed-work calibration probe's seconds — dimensionless ratios
        # comparable across driver windows on different host load
        "calibration_seconds": round(calibration, 3),
        "queries_normalized": {
            k: round(v / calibration, 2)
            for k, v in qtimes.items()
            if not k.endswith("_iters")
            and not k.endswith("_per_sec")
            and not k.endswith("_metric")
        },
        # raw median-of-3 spreads for the repeated pure probes
        "queries_runs": dict(_RUNS),
        "sf": _sf_of(SF_DIR),
        "cpus": CPUS,
    }
    spark.stop()
    return out


def _prepare_scaling_input(work_dir: str) -> str:
    """Generate the scaling corpus ONCE (distributed, deterministic) and
    persist the derived edge/vertex tables so both parallelism levels read
    byte-identical input from disk."""
    from amanogawa_spark.fixtures.distributed import distributed_pages
    from amanogawa_spark.graph.build import build_edges, build_vertices
    from amanogawa_spark.session import get_spark

    edges_path = os.path.join(work_dir, "edges.parquet")
    verts_path = os.path.join(work_dir, "vertices.parquet")
    # the cache is only valid for the exact corpus parameters that built it —
    # a _SUCCESS marker alone would silently serve a stale (e.g. smaller /
    # sparser) corpus after a default change or env override
    params = {"pages": SCALING_PAGES, "out_links": list(SCALING_OUT_LINKS), "seed": 7}
    params_path = os.path.join(work_dir, "corpus_params.json")
    if os.path.exists(os.path.join(edges_path, "_SUCCESS")) and os.path.exists(
        params_path
    ):
        with open(params_path) as f:
            if json.load(f) == params:
                return work_dir
        import shutil

        shutil.rmtree(edges_path, ignore_errors=True)
        shutil.rmtree(verts_path, ignore_errors=True)
    spark = get_spark(cpus=CPUS, app_name="scaling_prep")
    pages = distributed_pages(
        spark, SCALING_PAGES, out_links=SCALING_OUT_LINKS
    ).persist()
    vertices = build_vertices(pages, id_mode="hash").persist()
    edges = build_edges(pages, vertices)
    edges.write.mode("overwrite").parquet(edges_path)
    vertices.select("id").write.mode("overwrite").parquet(verts_path)
    spark.stop()
    with open(params_path, "w") as f:
        json.dump(params, f)
    return work_dir


def run_scaling(levels=(8, 32)) -> dict:
    """Same fixed-iteration PageRank superjob at two parallelism levels,
    identical on-disk input (sandbox stand-in for N vs 4N executors)."""
    import subprocess

    work_dir = os.environ.get("SPARK_GRAFT_SCALING_DIR", "/tmp/amanogawa_scaling")
    os.makedirs(work_dir, exist_ok=True)
    _prepare_scaling_input(work_dir)

    outs = {}
    for cpus in levels:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_SF_DIR=SF_DIR,
            SPARK_GRAFT_SCALING_DIR=work_dir,
        )
        proc = subprocess.run(
            [sys.executable, __file__, "--single-pagerank"],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        outs[cpus] = json.loads(line)
    lo, hi = levels
    tput_lo = outs[lo]["edges_iter_per_sec"]
    tput_hi = outs[hi]["edges_iter_per_sec"]
    efficiency = (tput_hi / tput_lo) / (hi / lo)
    return {
        "metric": "scaling_efficiency",
        "value": round(efficiency, 4),
        "unit": "ratio",
        "queries": {
            f"local[{lo}]_edges_iter_per_sec": tput_lo,
            f"local[{hi}]_edges_iter_per_sec": tput_hi,
            f"local[{lo}]_sec": outs[lo]["seconds"],
            f"local[{hi}]_sec": outs[hi]["seconds"],
            f"local[{lo}]_calibration": outs[lo].get("calibration_before", -1.0),
            f"local[{hi}]_calibration": outs[hi].get("calibration_before", -1.0),
            "n_edges": outs[hi]["n_edges"],
            "iterations": outs[hi]["iterations"],
        },
        "sf": _sf_of(SF_DIR),
    }


SCALING_PAGES = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "2000000"))
SCALING_ITERS = int(os.environ.get("SPARK_GRAFT_SCALING_ITERS", "12"))
# realistic web out-degree (Common Crawl ~50-100 links/page) — the scaling
# run must be compute-bound, not driver-barrier-bound, to model a cluster
SCALING_OUT_LINKS = (
    int(os.environ.get("SPARK_GRAFT_SCALING_LINKS_LO", "30")),
    int(os.environ.get("SPARK_GRAFT_SCALING_LINKS_HI", "80")),
)


def run_single_pagerank() -> dict:
    """One fixed-iteration PageRank run at the current CPU level (subprocess
    worker for --scaling). Fixed iteration count (not convergence) so both
    parallelism levels perform IDENTICAL work and throughput is comparable.
    The graph is sized (SPARK_GRAFT_SCALING_PAGES) so per-iteration compute
    dominates fixed per-job scheduling overhead — the regime that models a
    real cluster at 100 TB. Input is read from the pre-generated parquet in
    SPARK_GRAFT_SCALING_DIR (identical bytes at both levels)."""
    from amanogawa_spark.graph.pagerank import pagerank
    from amanogawa_spark.session import get_spark

    work_dir = os.environ.get("SPARK_GRAFT_SCALING_DIR", "/tmp/amanogawa_scaling")
    # shuffle-partition override (default = cpus): lets the ladder hold the
    # task decomposition CONSTANT across legs, so only parallelism varies —
    # the cluster-faithful experiment (a real N→4N resize keeps the
    # partitioning of a written table)
    sp = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")) or None
    spark = get_spark(
        cpus=CPUS, app_name=f"pr_scaling_{CPUS}", shuffle_partitions=sp
    )
    # fixed-work host-speed probes bracketing the measured leg: a leg whose
    # calibration departs the quiet band (0.35-0.45 s) ran in a noisy host
    # window and the cross-leg efficiency ratio is not interpretable without
    # them (measured: an identical-code local[8] leg read 374.5 s vs 228.6 s
    # across windows — efficiency 0.60 vs 0.94 from host noise alone)
    cal_before = calibration_probe(spark)
    vertices = spark.read.parquet(os.path.join(work_dir, "vertices.parquet"))
    edges = spark.read.parquet(os.path.join(work_dir, "edges.parquet"))
    n_edges = edges.count()
    t0 = time.time()
    res = pagerank(vertices, edges, tol=-1.0, max_iter=SCALING_ITERS)
    dt = time.time() - t0
    cal_after = calibration_probe(spark)
    spark.stop()
    return {
        "seconds": round(dt, 3),
        "iterations": res.iterations,
        "n_edges": n_edges,
        "edges_iter_per_sec": round(n_edges * res.iterations / dt, 2),
        "cpus": CPUS,
        "calibration_before": round(cal_before, 3),
        "calibration_after": round(cal_after, 3),
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--single-pagerank", action="store_true")
    ap.add_argument(
        "--levels",
        default="8,32",
        help="comma-separated N,4N core counts for --scaling (N vs 4N)",
    )
    args = ap.parse_args()
    if args.single_pagerank:
        print(json.dumps(run_single_pagerank()))
    elif args.scaling:
        lo, hi = (int(x) for x in args.levels.split(","))
        print(json.dumps(run_scaling(levels=(lo, hi))))
    else:
        print(json.dumps(run_default()))
