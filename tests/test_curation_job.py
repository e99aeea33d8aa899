"""End-to-end curation superjob (tools/run_curation_job.py): stage
skipping and kill-resume semantics (VERDICT r3 item 9).

The headline property: a job killed MID-PageRank (simulated by leaving a
partial CheckpointManager state in the work dir) and re-invoked produces
EXACTLY the output of an uninterrupted run — per-stage manifests skip
completed stages and the PageRank stage resumes at the last durable
iteration.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from run_curation_job import (  # noqa: E402
    pagerank_checkpoint_root,
    pagerank_params,
    run,
)


def _args(pages: str, work: str, out: str, **over) -> argparse.Namespace:
    base = dict(
        pages=pages, work=work, out=out, tol=1e-6, max_iter=40,
        checkpoint_every=1, minhash_threshold=0.8, min_tokens=3,
        mixture="en:1.0,ja:1.0,de:1.0,fr:1.0,es:1.0", max_tokens=512,
    )
    base.update(over)
    return argparse.Namespace(**base)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from amanogawa_spark.fixtures.pages import generate_pages

    p = str(tmp_path_factory.mktemp("cur") / "pages")
    spark.createDataFrame(generate_pages(n_pages=250, seed=7).pages).write.mode(
        "overwrite"
    ).parquet(p)
    return p


def _curated(spark, out: str) -> dict:
    rows = spark.read.parquet(out).collect()
    return {
        r["doc_id"]: (r["url"], r["lang"], r["pagerank"], r["seq_id"], r["seq_offset"])
        for r in rows
    }


def test_resume_equals_uninterrupted(spark, tmp_path, pages_path):
    # --- uninterrupted reference run
    ref = run(
        _args(pages_path, str(tmp_path / "work_a"), str(tmp_path / "out_a")),
        spark=spark,
    )
    assert ref["pagerank_delta"] <= 1e-6
    want = _curated(spark, str(tmp_path / "out_a"))
    assert len(want) > 100

    # --- interrupted run: kill inside the PageRank loop, simulated by
    # running only the upstream stages + a 3-iteration partial PageRank
    # that leaves durable iteration checkpoints but NO completed stage
    from amanogawa_spark.checkpoint import CheckpointManager
    from amanogawa_spark.graph.build import build_edges, build_vertices
    from amanogawa_spark.graph.pagerank import pagerank

    work_b = tmp_path / "work_b"
    pages = spark.read.parquet(pages_path)
    v = build_vertices(pages, id_mode="hash")
    e = build_edges(pages, v)
    args_b = _args(pages_path, str(work_b), str(tmp_path / "out_b"))
    ckpt = CheckpointManager(
        spark, pagerank_checkpoint_root(str(work_b), pagerank_params(args_b))
    )
    partial = pagerank(
        v.select("id"), e, tol=1e-6, max_iter=3, checkpoint=ckpt,
        checkpoint_every=1,
    )
    assert partial.iterations == 3
    assert ckpt.latest_iteration() == 3
    assert partial.delta > 1e-6  # genuinely unconverged at the kill point

    # --- resumed run over the same work dir
    res = run(args_b, spark=spark)
    # the PageRank stage resumed at the checkpoint and reached the cold
    # run's total iteration count
    assert res["pagerank_resumed_from"] == 3
    assert res["pagerank_iterations"] == ref["pagerank_iterations"]
    got = _curated(spark, str(tmp_path / "out_b"))
    assert set(got) == set(want)
    for k in want:
        wu, wl, wr, ws, wo = want[k]
        gu, gl, gr, gs, go = got[k]
        assert (gu, gl, gs, go) == (wu, wl, ws, wo)
        assert gr == pytest.approx(wr, abs=1e-12)


def test_second_invocation_skips_all_stages(spark, tmp_path, pages_path):
    work = str(tmp_path / "work_c")
    out = str(tmp_path / "out_c")
    first = run(_args(pages_path, work, out), spark=spark)
    assert not any(s["skipped"] for s in first["stages"].values())
    second = run(_args(pages_path, work, out), spark=spark)
    assert all(s["skipped"] for s in second["stages"].values())
    # a param change invalidates only the stage it names
    third = run(_args(pages_path, work, out, max_tokens=256), spark=spark)
    assert third["stages"]["pack"]["skipped"] is False
    assert third["stages"]["pagerank"]["skipped"] is True


def test_pagerank_param_change_restarts_from_iteration_zero(
    spark, tmp_path, pages_path
):
    """A changed pagerank-stage param (here the vertex id space) must
    recompute the stage from iteration 0, not resume the checkpoints an
    earlier configuration left in the same work dir."""
    work = str(tmp_path / "work_h")
    out = str(tmp_path / "out_h")
    first = run(_args(pages_path, work, out, max_iter=3), spark=spark)
    assert first["pagerank_resumed_from"] == 0
    assert first["pagerank_iterations"] == 3
    second = run(_args(pages_path, work, out, max_iter=3, id_mode="dense"), spark=spark)
    assert second["stages"]["pagerank"]["skipped"] is False
    assert second["pagerank_resumed_from"] == 0
    assert second["pagerank_iterations"] == 3


def test_quality_gate_and_mixture_drop_rows(spark, tmp_path, pages_path):
    work = str(tmp_path / "work_d")
    out = str(tmp_path / "out_d")
    rep = run(
        _args(
            pages_path, work, out,
            mixture="en:1.0",  # drop every non-en doc
            min_tokens=3,
        ),
        spark=spark,
    )
    curated = spark.read.parquet(out)
    assert rep["curated_rows"] == curated.count()
    langs = {r["lang"] for r in curated.select("lang").distinct().collect()}
    assert langs == {"en"}


def test_pid_layout_run_matches_classic(spark, tmp_path, pages_path):
    """--layout pid (surt ids + community partition map + pid-clustered
    durable edge layout + layout-aware convergent PageRank) produces the
    same curated corpus as the classic path: same doc set, same packing,
    ranks equal within solver tolerance."""
    classic = run(
        _args(pages_path, str(tmp_path / "work_e"), str(tmp_path / "out_e")),
        spark=spark,
    )
    pid = run(
        _args(
            pages_path, str(tmp_path / "work_f"), str(tmp_path / "out_f"),
            layout="pid", layout_k=4, id_mode="hash",
        ),
        spark=spark,
    )
    assert "partition_map" in pid["stages"] and "edges_blocked" in pid["stages"]
    assert "partition_map" not in classic["stages"]
    assert pid["pagerank_delta"] <= 1e-6
    want = _curated(spark, str(tmp_path / "out_e"))
    got = _curated(spark, str(tmp_path / "out_f"))
    assert set(got) == set(want)
    for k in want:
        wu, wl, wr, ws, wo = want[k]
        gu, gl, gr, gs, go = got[k]
        assert (gu, gl, gs, go) == (wu, wl, ws, wo)
        assert gr == pytest.approx(wr, abs=1e-5)  # both within tol of fixpoint


def test_surt_id_mode_runs_end_to_end(spark, tmp_path, pages_path):
    rep = run(
        _args(
            pages_path, str(tmp_path / "work_g"), str(tmp_path / "out_g"),
            id_mode="surt",
        ),
        spark=spark,
    )
    assert rep["curated_rows"] > 100
    # surt mode yields dense 0..N-1 ids
    v = spark.read.parquet(str(tmp_path / "work_g") + "/graph_vertices")
    n = v.count()
    assert v.agg(F.min("id")).first()[0] == 0
    assert v.agg(F.max("id")).first()[0] == n - 1
