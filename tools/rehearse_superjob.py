#!/usr/bin/env python3
"""Scale rehearsal of the end-to-end curation superjob (BENCH §5c's next
step): generate an N-page locality corpus, run `run_curation_job.run`
with the round-4 layout pieces enabled (SURT ids + durable pid-clustered
edge layout + layout-aware convergent PageRank), and record per-stage
wall plus shuffle bytes. Afterwards, meter the per-iteration shuffle of
the pid layout vs the classic loop on the SAME built graph (fixed 8
iterations each, stage-store byte deltas) — the number that transfers to
cluster scale.

    SPARK_GRAFT_REHEARSAL_PAGES=5000000 python tools/rehearse_superjob.py

Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    from pyspark.sql import functions as F

    from amanogawa_spark.fixtures.distributed import distributed_pages
    from amanogawa_spark.session import get_spark
    from run_curation_job import run

    n_pages = int(os.environ.get("SPARK_GRAFT_REHEARSAL_PAGES", "5000000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    root = os.environ.get("SPARK_GRAFT_REHEARSAL_DIR", "/tmp/superjob_rehearsal")
    # KEEP=1: resume a killed rehearsal — the superjob's own per-stage
    # manifests skip completed stages, which doubles as a kill-resume
    # rehearsal at scale
    if os.environ.get("SPARK_GRAFT_REHEARSAL_KEEP") != "1":
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    out: dict = {"n_pages": n_pages, "cpus": cpus}

    spark = get_spark(
        cpus=cpus,
        app_name="superjob_rehearsal",
        extra_conf={"spark.ui.enabled": "true"},
    )

    def _stages():
        app = spark.sparkContext.applicationId
        base = spark.sparkContext.uiWebUrl
        if base is None:
            return None
        url = f"{base}/api/v1/applications/{app}/stages?status=complete"
        return json.load(urllib.request.urlopen(url))

    def _max_sid():
        data = _stages()
        return None if data is None else max((s["stageId"] for s in data), default=-1)

    def _shuf_since(sid):
        data = _stages()
        if data is None or sid is None:
            return None
        w = sum(s.get("shuffleWriteBytes", 0) for s in data if s["stageId"] > sid)
        return w

    t0 = time.time()
    pages_path = os.path.join(root, "pages")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        distributed_pages(
            spark, n_pages, out_links=(1, 6), block_local_frac=0.8, block_size=500
        ).write.mode("overwrite").parquet(pages_path)
    out["generate_seconds"] = round(time.time() - t0, 1)

    args = argparse.Namespace(
        pages=pages_path,
        work=os.path.join(root, "work"),
        out=os.path.join(root, "curated"),
        tol=1e-6,
        max_iter=100,
        checkpoint_every=5,
        minhash_threshold=0.8,
        min_tokens=5,
        mixture="en:1.0,ja:1.0,de:1.0,fr:1.0,es:1.0",
        max_tokens=2048,
        id_mode="surt",
        layout="pid",
        layout_k=32,
    )
    sid0 = _max_sid()
    t0 = time.time()
    report = run(args, spark=spark)
    out["superjob_wall_seconds"] = round(time.time() - t0, 1)
    out["superjob_shuffle_write_bytes"] = _shuf_since(sid0)
    out["stages"] = {
        k: {"seconds": v["seconds"], "rows": v["rows"]}
        for k, v in report["stages"].items()
    }
    # absent (None) when a kept rehearsal skipped the finished pagerank stage
    out["pagerank_iterations"] = report.get("pagerank_iterations")
    out["pagerank_delta"] = report.get("pagerank_delta")
    out["curated_rows"] = report["curated_rows"]

    # per-iteration shuffle: pid layout vs classic on the same graph
    from amanogawa_spark.graph.blocked import blocked_pagerank
    from amanogawa_spark.graph.pagerank import pagerank

    work = args.work
    vertices = spark.read.parquet(os.path.join(work, "graph_vertices"))
    edges = spark.read.parquet(os.path.join(work, "graph_edges"))
    pmap = spark.read.parquet(os.path.join(work, "partition_map"))
    layout = spark.read.parquet(os.path.join(work, "edges_blocked"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prebuilt = layout.repartition(n_part, "spid", "salt").persist()
    prebuilt.count()
    out["n_edges"] = edges.count()

    marks = {}
    sid = _max_sid()
    t0 = time.time()
    res_pid = blocked_pagerank(
        vertices.select("id"), edges, pmap, max_iter=8, prebuilt_edges=prebuilt
    )
    res_pid.ranks.count()
    marks["pid8_seconds"] = round(time.time() - t0, 1)
    marks["pid8_shuffle_bytes"] = _shuf_since(sid)
    prebuilt.unpersist()

    sid = _max_sid()
    t0 = time.time()
    res_c = pagerank(vertices.select("id"), edges, tol=-1.0, max_iter=8)
    res_c.ranks.count()
    marks["classic8_seconds"] = round(time.time() - t0, 1)
    marks["classic8_shuffle_bytes"] = _shuf_since(sid)
    if marks["pid8_shuffle_bytes"] and marks["classic8_shuffle_bytes"]:
        marks["shuffle_reduction"] = round(
            1.0 - marks["pid8_shuffle_bytes"] / marks["classic8_shuffle_bytes"], 4
        )
    out["iteration_probe"] = marks
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
