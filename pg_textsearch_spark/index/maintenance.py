"""Maintenance / introspection surface (SURVEY.md §2.8).

Analogs of the reference's SQL utility functions
(sql/pg_textsearch--1.4.0-dev.sql:236-384):

- bm25_summarize_index -> ``describe_index`` (stats + per-segment rows)
- bm25_dump_index      -> ``dump_index`` (per-term postings detail)
- bm25_force_merge     -> index.merge.force_merge
- bm25_spill_index     -> streaming.incremental.insert_batch (the
                          spill IS the batch commit in our model; it
                          runs in the driver like tp_do_spill,
                          build.c:135-295 — see index/local_commit.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_textsearch_spark.operators.topk import BM25Index, decode_postings_flat


def describe_index(index: BM25Index) -> dict:
    """Corpus + per-segment summary (the metapage view)."""
    per_seg = []
    for s in index.manifest["segments"]:
        per_seg.append(
            {
                "seg_id": s["seg_id"],
                "level": s.get("level", 0),
                "num_docs": s["num_docs"],
                "total_tokens": s["total_tokens"],
                "lineage": s.get("lineage", {}),
            }
        )
    return {
        "config": index.config,
        "k1": index.k1,
        "b": index.b,
        "n_buckets": index.n_buckets,
        "num_docs": index.num_docs,
        "total_tokens": index.total_tokens,
        "avgdl": index.avgdl,
        "num_segments": len(per_seg),
        "deleted_docs": int(index.manifest.get("deleted_docs", 0)),
        "has_keymap": any(s.get("has_keymap") for s in
                          index.manifest["segments"]),
        "segments": per_seg,
    }


def index_term_stats(index: BM25Index) -> DataFrame:
    """(term, df, n_runs, n_blocks) across all segments — the
    dictionary dump, aggregated."""
    p = index.postings()
    return p.groupBy("term").agg(
        F.sum("df_run").alias("df"),
        F.count("*").alias("n_runs"),
        F.sum(F.size("blocks")).alias("n_blocks"),
    )


def dump_index(index: BM25Index, terms: list[str] | None = None) -> DataFrame:
    """Flat postings view (term, run, doc_id, tf, fieldnorm) —
    bm25_dump_index analog, optionally restricted to terms."""
    p = index.pruned_postings(terms) if terms else index.postings()
    return decode_postings_flat(p)
