"""Checkpoint + metrics manager for iterative superjobs.

North-rule requirement: "every superjob checkpoints per-partition lineage
and metrics ... so any iteration is resumable". The reference has no
equivalent (its executor fully materializes in memory,
``core/executor.h:24-72``); this is new scale machinery.

Backend: parquet directories.

Layout under ``root/``:
    state/iter=K/            snapshot of the iteration state DataFrame
    metrics.jsonl            one JSON row per round run (driver-side append)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    """Parquet-backed iteration checkpoints + a metrics journal."""

    def __init__(self, spark: SparkSession, root: str, keep_last: int = 2):
        self.spark = spark
        self.root = root
        self.keep_last = keep_last
        os.makedirs(root, exist_ok=True)
        self.metrics_path = os.path.join(root, "metrics.jsonl")

    # -- state snapshots ---------------------------------------------------
    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.root, "state", f"iter={iteration:06d}")

    def save(self, df: DataFrame, iteration: int) -> DataFrame:
        """Write the state snapshot and return a fresh-lineage re-read.

        Re-reading from storage truncates the logical plan (the Spark
        iterative-loop lineage problem) *and* makes the iteration durable,
        so a killed job resumes from the latest snapshot.
        """
        path = self._iter_dir(iteration)
        df.write.mode("overwrite").parquet(path)
        self._write_partition_manifest(path, iteration)
        self._gc(iteration)
        return self.spark.read.parquet(path)

    def _write_partition_manifest(self, path: str, iteration: int) -> None:
        """Per-partition lineage record (north rule: "checkpoints
        per-partition lineage and metrics"): one row per written partition
        file with its row count and byte size, read from the parquet footers
        — no extra Spark job. On resume or audit this tells exactly which
        partitions a snapshot holds and how balanced they are.

        Local-filesystem roots only for now: on hdfs://s3a:// roots the
        footer walk would need the Hadoop FS API — we warn once instead of
        silently writing nothing."""
        if "://" in path and not path.startswith("file:"):
            import warnings

            warnings.warn(
                f"partition manifest skipped for non-local checkpoint root {path}; "
                "metrics journal is still written",
                stacklevel=2,
            )
            return
        try:
            import pyarrow.parquet as pq

            parts = []
            for fname in sorted(os.listdir(path)):
                if not fname.endswith(".parquet"):
                    continue
                fp = os.path.join(path, fname)
                parts.append(
                    {
                        "file": fname,
                        "rows": pq.ParquetFile(fp).metadata.num_rows,
                        "bytes": os.path.getsize(fp),
                    }
                )
            manifest = {
                "iteration": iteration,
                "wall_ts": time.time(),
                "n_partitions": len(parts),
                "partitions": parts,
            }
            with open(os.path.join(path, "_partition_manifest.json"), "w") as f:
                json.dump(manifest, f)
        except Exception as exc:  # noqa: BLE001 — manifest is advisory; any
            # failure here (OSError, pyarrow import/parse errors, json) must
            # never fail the checkpoint itself
            import warnings

            warnings.warn(f"partition manifest not written for {path}: {exc}", stacklevel=2)

    def read_partition_manifest(self, iteration: int | None = None) -> dict | None:
        it = iteration if iteration is not None else self.latest_iteration()
        if it is None:
            return None
        mp = os.path.join(self._iter_dir(it), "_partition_manifest.json")
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return json.load(f)

    def latest_iteration(self) -> int | None:
        state = os.path.join(self.root, "state")
        if not os.path.isdir(state):
            return None
        iters = sorted(
            int(d.split("=")[1]) for d in os.listdir(state) if d.startswith("iter=")
        )
        return iters[-1] if iters else None

    def load(self, iteration: int | None = None) -> DataFrame | None:
        it = iteration if iteration is not None else self.latest_iteration()
        if it is None:
            return None
        return self.spark.read.parquet(self._iter_dir(it))

    def _gc(self, newest: int) -> None:
        state = os.path.join(self.root, "state")
        if not os.path.isdir(state):
            return
        iters = sorted(
            int(d.split("=")[1]) for d in os.listdir(state) if d.startswith("iter=")
        )
        for it in iters[: -self.keep_last] if len(iters) > self.keep_last else []:
            shutil.rmtree(self._iter_dir(it), ignore_errors=True)

    # -- metrics journal ----------------------------------------------------
    def log_metrics(self, iteration: int, **metrics: Any) -> None:
        row = {"iteration": iteration, "wall_ts": time.time(), **metrics}
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def read_metrics(self) -> list[dict[str, Any]]:
        """One row per iteration, in iteration order. The journal stays
        append-only, so a run killed between snapshots keeps its rows for
        audit; the resumed run re-runs (and re-journals) the rounds after
        the snapshot, and the row written last wins."""
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        last = {row["iteration"]: row for row in rows}
        return [last[it] for it in sorted(last)]
