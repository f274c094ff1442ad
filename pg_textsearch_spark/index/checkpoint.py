"""Resumable checkpointed builds with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference gets crash safety from WAL'd pages
and its builds are all-or-nothing; at 10^12 docs a build is a long
campaign and must resume.

Design: the input is split into deterministic doc_id-range batches;
each batch builds one segment through ``build_index``'s per-segment
function (``builder.build_segment``) and is committed atomically (segment files written, then the index manifest
updated — the metapage analog). A job-level checkpoint file records
the planned boundaries and, per completed batch, its lineage (id
range, row/token/posting counts) and timing. A restarted job replans
nothing: it reads the recorded boundaries and skips committed batches.
Crash between segment write and checkpoint update re-runs one batch
into the same seg_id (overwrite — idempotent).

At cluster scale each "batch" is a partition-range of an Iceberg
snapshot and the checkpoint lives next to the manifest; the logic is
identical.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import build_segment


class CheckpointedBuild:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.ckpt_path = os.path.join(index_dir, "build_checkpoint.json")

    def _read(self) -> dict | None:
        if os.path.exists(self.ckpt_path):
            with open(self.ckpt_path) as f:
                return json.load(f)
        return None

    def _write(self, state: dict) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        tmp = self.ckpt_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=2, sort_keys=True)
        os.replace(tmp, self.ckpt_path)

    def run(
        self,
        docs: DataFrame,
        n_batches: int = 4,
        doc_id_col: str = "doc_id",
        text_col: str = "text",
        config: str = "english",
        n_buckets: int = 16,
        input_desc: str = "",
        max_batches_this_run: int | None = None,
    ) -> dict:
        """Build (or resume) the index over ``docs`` in range batches.

        ``max_batches_this_run`` exists for tests/ops: process at most
        that many pending batches, then return (simulates interruption
        / allows nightly incremental campaigns).
        """
        state = self._read()
        if state is None:
            lo, hi, cnt = docs.agg(
                F.min(doc_id_col), F.max(doc_id_col), F.count("*")
            ).collect()[0]
            assert cnt > 0, "empty input"
            span = (int(hi) - int(lo) + n_batches) // n_batches
            boundaries = [
                [int(lo) + i * span, min(int(lo) + (i + 1) * span, int(hi) + 1)]
                for i in range(n_batches)
            ]
            state = {
                "input": input_desc,
                "config": config,
                "n_buckets": n_buckets,
                "doc_id_col": doc_id_col,
                "boundaries": boundaries,
                "completed": {},
            }
            self._write(state)
        else:
            assert state["config"] == config, "config changed mid-build"
            boundaries = state["boundaries"]

        done = 0
        for seg_id, (lo, hi) in enumerate(boundaries):
            if str(seg_id) in state["completed"]:
                continue
            if max_batches_this_run is not None and done >= max_batches_this_run:
                break
            t0 = time.time()
            batch = docs.filter(
                (F.col(doc_id_col) >= lo) & (F.col(doc_id_col) < hi)
            )
            rows = local_commit.batch_rows(batch, text_col, doc_id_col, None)
            manifest = build_segment(
                self.spark, rows, rows.count(), self.index_dir, seg_id, config,
                n_buckets,
                lineage={
                    "batch": seg_id,
                    "doc_id_range": [lo, hi],
                    "input": state["input"],
                },
            )
            seg = next(s for s in manifest["segments"] if s["seg_id"] == seg_id)
            n_postings = local_commit.read_table(
                self.index_dir, "postings", [seg_id], ["df_run"]
            ).column("df_run").to_numpy().sum()
            state["completed"][str(seg_id)] = {
                "doc_id_range": [lo, hi],
                "num_docs": seg["num_docs"],
                "total_tokens": seg["total_tokens"],
                "num_postings": int(n_postings),
                "build_sec": round(time.time() - t0, 3),
                "finished_at_unix": int(time.time()),
            }
            self._write(state)
            done += 1
        state["pending"] = [
            i for i in range(len(boundaries)) if str(i) not in state["completed"]
        ]
        return state
