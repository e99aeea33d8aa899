"""Cluster entry point: the END-TO-END curation superjob, checkpointed per
stage and resumable at any point.

Chains every major subsystem over one pages corpus:

  pages → extract (text + link graph) → exact dedup → MinHash near-dup
  → PageRank to convergence → quality gate → language-mixture sample
  → sequence packing → curated parquet

Each stage writes its output parquet under ``--work`` with a params-
stamped manifest; re-invoking the job skips every completed stage whose
manifest matches (kill it anywhere and the rerun picks up at the first
unfinished stage).  The PageRank stage additionally checkpoints MID-
stage through :class:`~amanogawa_spark.checkpoint.CheckpointManager`, so
a kill inside the iteration loop resumes at the last snapshotted
iteration — the north rule's "any iteration is resumable" contract,
pinned by tests/test_curation_job.py (resumed == uninterrupted, exact).

Ships to a cluster unchanged:

    spark-submit --py-files dist/amanogawa_spark.zip \
      tools/run_curation_job.py --pages /data/crawl/2026-08 \
      --work /data/curation_work --out /data/curated/2026-08

Prints ONE JSON line: per-stage seconds, row counts, skipped flags.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _manifest_path(stage_dir: str) -> str:
    return stage_dir.rstrip("/") + ".manifest.json"


def pagerank_params(args) -> dict:
    """Manifest params of the pagerank stage. ``id_mode`` is among them:
    ranks are keyed on vertex ids, so a new id space invalidates them."""
    return {
        "v": 1,
        "tol": args.tol,
        "max_iter": args.max_iter,
        "layout": getattr(args, "layout", "classic"),
        "id_mode": getattr(args, "id_mode", "hash"),
    }


def pagerank_checkpoint_root(work: str, params: dict) -> str:
    """Mid-stage checkpoint root of the pagerank stage, keyed on its params
    hash: a run with changed params starts from iteration 0 instead of
    resuming another configuration's (possibly other id space's) ranks."""
    key = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    return os.path.join(work, f"pagerank_ckpt_{key}")


def run(args, spark=None) -> dict:
    from pyspark.sql import functions as F

    from amanogawa_spark.checkpoint import CheckpointManager
    from amanogawa_spark.functions.html import extract_text
    from amanogawa_spark.graph.build import build_edges, build_vertices
    from amanogawa_spark.graph.pagerank import pagerank
    from amanogawa_spark.operators.dedup import dedup_exact, minhash_dedup
    from amanogawa_spark.operators.packing import pack_sequences
    from amanogawa_spark.operators.sampling import mixture_sample
    from amanogawa_spark.operators.text import bpe_ish_token_count, quality_features
    from amanogawa_spark.session import get_spark

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="amanogawa_curation")
    os.makedirs(args.work, exist_ok=True)
    report: dict = {"stages": {}}

    def stage(name: str, params: dict, compute):
        """Run (or skip) one durable stage; returns a fresh read of its
        output. A stage is skipped iff its _SUCCESS marker exists AND the
        manifest parameters match exactly — a param change invalidates
        only the stages it touches and everything after them is
        recomputed against the new upstream output (manifests carry the
        upstream stage's params hash via chaining below)."""
        sdir = os.path.join(args.work, name)
        mpath = _manifest_path(sdir)
        # JSON-normalize so tuples/ints round-trip identically to the
        # manifest read-back (a tuple would never compare equal again)
        params = json.loads(json.dumps(params))
        entry = {"skipped": False}
        if os.path.exists(os.path.join(sdir, "_SUCCESS")) and os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            if m.get("params") == params:
                entry.update(skipped=True, seconds=0.0, rows=m.get("rows"))
                report["stages"][name] = entry
                return spark.read.parquet(sdir)
        t0 = time.time()
        df = compute()
        df.write.mode("overwrite").parquet(sdir)
        out = spark.read.parquet(sdir)
        rows = out.count()
        entry.update(seconds=round(time.time() - t0, 3), rows=rows)
        with open(mpath, "w") as f:
            json.dump({"params": params, "rows": rows}, f)
        report["stages"][name] = entry
        return out

    pages = spark.read.parquet(args.pages)

    # 1. extract: html → text (byte-identical contract) + keep lang/url
    docs = stage(
        "extract",
        {"v": 1, "pages": args.pages},
        lambda: pages.select(
            F.xxhash64("url").alias("doc_id"),
            "url",
            extract_text(F.col("html")).alias("text"),
            "lang",
        ),
    )

    # 2. exact dedup (hash-groupBy, min-id representative)
    exact = stage(
        "dedup_exact",
        {"v": 1},
        lambda: dedup_exact(docs),
    )

    # 3. MinHash near-dup (LSH bands → Jaccard verify), hot-bucket bounded
    clean = stage(
        "dedup_minhash",
        {"v": 1, "threshold": args.minhash_threshold, "max_bucket": 200},
        lambda: minhash_dedup(
            exact, threshold=args.minhash_threshold, max_bucket_size=200
        ),
    )

    # 4. link graph over the FULL crawl (dedup curates text, not links)
    id_mode = getattr(args, "id_mode", "hash")
    vertices = stage(
        "graph_vertices",
        {"v": 1, "id_mode": id_mode},
        lambda: build_vertices(pages, id_mode=id_mode),
    )
    edges = stage(
        "graph_edges",
        {"v": 1, "id_mode": id_mode},
        lambda: build_edges(pages, vertices),
    )

    # 4b. optional pid layout (--layout pid): community partition map +
    # durable pid-clustered edge layout; the PageRank stage then runs the
    # layout-aware loop (graph/blocked.py) whose per-iteration map-side
    # combine emits ~V/k partials per partition instead of ~V — the 42%
    # shuffle-bytes reduction measured in BENCH_r04, now composed into
    # the end-to-end job
    layout = getattr(args, "layout", "classic")
    blocked_layout = None
    pmap = None
    if layout == "pid":
        from amanogawa_spark.graph.blocked import blocked_edges, blocked_pagerank
        from amanogawa_spark.graph.partition import community_partition

        layout_k = getattr(args, "layout_k", 32)
        pmap = stage(
            "partition_map",
            {"v": 1, "k": layout_k, "lpa_rounds": 4},
            lambda: community_partition(
                vertices.select("id"), edges, k=layout_k, lpa_rounds=4
            ),
        )
        blocked_layout = stage(
            "edges_blocked",
            {"v": 1, "k": layout_k, "n_salt": 4},
            lambda: blocked_edges(edges, pmap, n_salt=4),
        )

    # 5. PageRank to convergence — CheckpointManager makes every
    # checkpoint_every-th ITERATION durable; a mid-stage kill resumes there
    pr_params = pagerank_params(args)

    def _pagerank():
        ckpt = CheckpointManager(spark, pagerank_checkpoint_root(args.work, pr_params))
        report["pagerank_resumed_from"] = ckpt.latest_iteration() or 0
        if layout == "pid":
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
            prebuilt = (
                blocked_layout.repartition(n_part, "spid", "salt").persist()
            )
            prebuilt.count()
            res = blocked_pagerank(
                vertices.select("id"),
                edges,
                pmap,
                tol=args.tol,
                max_iter=args.max_iter,
                checkpoint=ckpt,
                checkpoint_every=args.checkpoint_every,
                prebuilt_edges=prebuilt,
            )
            prebuilt.unpersist()
        else:
            res = pagerank(
                vertices.select("id"),
                edges,
                tol=args.tol,
                max_iter=args.max_iter,
                checkpoint=ckpt,
                checkpoint_every=args.checkpoint_every,
            )
        report["pagerank_iterations"] = res.iterations
        report["pagerank_delta"] = res.delta
        return res.ranks

    ranks = stage("pagerank", pr_params, _pagerank)

    # 6. quality gate + rank join (curation keeps scored, linked docs)
    def _quality():
        q = quality_features(clean)
        gated = q.filter(
            (F.col("n_tokens") >= args.min_tokens)
            & (F.col("punct_ratio") <= 0.4)
        )
        with_rank = (
            gated.join(vertices.select("url", "id"), "url", "left")
            .join(ranks.withColumnRenamed("rank", "pagerank"), "id", "left")
            .select(
                "doc_id", "url", "lang", "text", "n_tokens",
                F.coalesce("pagerank", F.lit(0.0)).alias("pagerank"),
            )
        )
        return with_rank
    scored = stage("quality", {"v": 1, "min_tokens": args.min_tokens}, _quality)

    # 7. language-mixture rates (zero-shuffle Bernoulli keeps)
    rates = dict(
        (pair.split(":")[0], float(pair.split(":")[1]))
        for pair in args.mixture.split(",")
    )
    mixed = stage(
        "mixture",
        {"v": 1, "rates": sorted(rates.items())},
        lambda: mixture_sample(scored, "lang", rates, key_cols=["doc_id"]),
    )

    # 8. sequence packing for the training stream
    def _pack():
        toks = mixed.withColumn("n_tokens", bpe_ish_token_count(F.col("text")))
        packed = pack_sequences(toks, max_tokens=args.max_tokens)
        return mixed.drop("n_tokens").join(packed, "doc_id")
    packed = stage("pack", {"v": 1, "max_tokens": args.max_tokens}, _pack)

    # final curated output
    t0 = time.time()
    packed.write.mode("overwrite").parquet(args.out)
    report["write_out_seconds"] = round(time.time() - t0, 3)
    report["curated_rows"] = spark.read.parquet(args.out).count()
    report["total_seconds"] = round(
        sum(s["seconds"] for s in report["stages"].values())
        + report["write_out_seconds"],
        3,
    )
    if owns_session:
        spark.stop()
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--checkpoint-every", type=int, default=5)
    ap.add_argument("--minhash-threshold", type=float, default=0.8)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--mixture", default="en:1.0,ja:1.0,de:1.0,fr:1.0,es:1.0")
    ap.add_argument("--max-tokens", type=int, default=2048)
    ap.add_argument(
        "--id-mode", default="hash", choices=("hash", "dense", "surt"),
        help="vertex id dictionary: hash (no global sort), dense (url "
        "order), surt (WebGraph-style reversed-host order — a domain's "
        "pages get contiguous ids, shrinking adjacency gaps)",
    )
    ap.add_argument(
        "--layout", default="classic", choices=("classic", "pid"),
        help="pagerank execution layout: classic (hash-partitioned on "
        "src) or pid (community partition map + pid-clustered durable "
        "edge layout + layout-aware iteration loop — fewer map-side "
        "combine partials per shuffle)",
    )
    ap.add_argument(
        "--layout-k", type=int, default=32,
        help="partition count for --layout pid",
    )
    args = ap.parse_args()
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
