"""Incremental indexing — the memtable/spill path, batch-incremental.

Reference semantics: INSERTs append tokenized records to a memtable
chain; a spill materializes the chain as a new L0 segment, and level
compaction merges upward (reference: src/access/build.c:135-295,
1687-1833; docs/memtable_v2.md). The reference is batch-incremental,
not event-time streaming — no watermarks exist (SURVEY.md §2.9).

Spark translation: each ``insert_batch`` is a micro-batch that builds
one delta segment and commits it to the manifest (the spill), then
optionally runs the leveled compaction policy. Like the reference,
which writes a spill in one process (tp_do_spill, build.c:135-295) and
runs the parallel build (build_parallel.c) only for CREATE INDEX, a
batch is collected once and tokenized, encoded and written in the
driver (index/local_commit.py) into the same tables ``build_index``
writes; bulk loads belong in ``build_index``. On 4 vCPUs with Spark
local[2], 1k / 10k / 100k-doc inserts took 0.35 / 0.87 / 6.3 s this
way vs 6.4 / 6.7 / 13.6 s through the distributed build pipeline it
replaced. New docs receive doc_ids strictly above every
existing segment's max, so segments own disjoint doc_id ranges —
queries treat segments uniformly and merges use disjoint-range
concatenation (reference: merge.c:748-769). This plugs directly into
Structured Streaming ``foreachBatch`` for a live pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import IndexWriter
from pg_textsearch_spark.index.merge import SEGMENTS_PER_LEVEL, maybe_compact
from pg_textsearch_spark.operators.topk import BM25Index


def insert_batch(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str | None = None,
    key_col: str | None = None,
    compact: bool = True,
    fan_in: int = SEGMENTS_PER_LEVEL,
    lineage: dict | None = None,
    config: str = "english",
    n_buckets: int = 16,
) -> dict:
    """Append one micro-batch of documents as a new delta segment.

    Either ``doc_id_col`` holds globally-unique ids already above the
    index's current max (caller-managed), or ``key_col`` is given and
    batch-local dense ids are assigned in key order and offset past
    the current max (the common path). The batch commits driver-local
    after one collect.
    """
    if doc_id_col is None and key_col is None:
        raise ValueError("insert_batch needs doc_id_col or key_col")
    writer = IndexWriter(index_dir)
    manifest = writer.read_manifest()
    segments = manifest.get("segments", [])
    next_seg = (max(s["seg_id"] for s in segments) + 1) if segments else 0
    next_doc = (
        max(s.get("max_doc_id", -1) for s in segments) + 1 if segments else 0
    )
    # existing manifest wins; args only bootstrap a brand-new index
    config = manifest.get("config", config)
    n_buckets = manifest.get("n_buckets", n_buckets)
    lineage = lineage or {"batch": next_seg}

    rows = local_commit.collect_batch(
        docs, text_col, doc_id_col, key_col if doc_id_col is None else None
    )
    out = local_commit.insert_local(
        writer, rows, next_seg, next_doc, config, n_buckets,
        manifest.get("k1", 1.2), manifest.get("b", 0.75), lineage,
    )
    if compact:
        out = maybe_compact(BM25Index(spark, index_dir), fan_in=fan_in)
    return out


def update_docs(
    index,
    docs: DataFrame,
    key_col: str = "doc_key",
    text_col: str = "text",
    compact: bool = True,
) -> dict:
    """UPDATE analog (reference: test/sql/updates.sql; an UPDATE makes
    the old heap tuple's index entry dead and inserts the new version
    into the memtable — src/access/insert.c behavior under UPDATE).

    Here: keys present in the index get their CURRENT doc_id marked
    dead via ``delete_docs`` (alive-bitset + dead_dfs + quantized
    token correction), then ALL given rows append as a new delta
    segment with fresh doc_ids via ``insert_batch`` — so keys not yet
    indexed are plain inserts (upsert semantics; SQL UPDATE simply
    never passes such rows). Requires a keymap-built index (key_col
    at build time): without the ctid-map analog there is no key ->
    doc_id resolution to kill old versions.

    Query-time visibility matches the reference between vacuums: old
    versions drop out through alive filtering immediately; ``vacuum``
    reclaims them physically.
    """
    from pg_textsearch_spark.index.deletes import delete_docs

    km = index.keymap()
    if km is None:
        raise ValueError(
            "update_docs requires an index built with key_col "
            "(no keymap to resolve old versions)"
        )
    keys = docs.select(
        F.col(key_col).cast("string").alias("doc_key")
    ).distinct()
    # newest alive version per key: the max doc_id (delta segments
    # always assign ids above all prior ones)
    alive_old = (
        km.join(F.broadcast(keys), "doc_key")
        .join(index.deleted_ids(), "doc_id", "left_anti")
        .groupBy("doc_key")
        .agg(F.max("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    delete_docs(index, alive_old)
    out = insert_batch(
        index.spark,
        index.index_dir,
        docs.select(F.col(key_col), F.col(text_col)),
        text_col=text_col,
        key_col=key_col,
        compact=compact,
    )
    index.refresh()
    return out
