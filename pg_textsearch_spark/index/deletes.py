"""Deletes + vacuum: the alive-bitset / bulkdelete path.

Reference semantics: deleted docs are marked in a per-segment alive
bitset (V5 format) and skipped during scoring (bmw.c:542-548,
1580-1585, src/segment/alive_bitset.c); compaction physically drops
dead postings and corrects ``total_tokens`` by the *quantized* length
of each dead doc (merge.c:842-866); VACUUM reclaims space
(src/access/vacuum.c).

Spark model: an append-only ``deletes`` table of doc_ids next to the
manifest (the bitset), consulted by both scoring paths as an anti-join
/ broadcast filter; ``vacuum`` rewrites segments without dead docs and
clears the table — the reference's bulkdelete+compaction collapsed
into one merge. Corpus stats follow the reference exactly: N excludes
deleted docs, ``total_tokens`` subtracts decode(encode(dl)) per dead
doc (the quantized correction — raw lengths are no longer known to
the reference at delete time, and we reproduce that semantic).

Like the reference's single-process bulkdelete, a delete commits in
the driver (index/local_commit.py) with pyarrow reads and one batch
block decode — no Spark job for a list of ids; a vacuum is a
driver-local merge.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import IndexWriter
from pg_textsearch_spark.operators.topk import BM25Index


def delete_docs(index: BM25Index, doc_ids: DataFrame | list[int]) -> dict:
    """Mark doc_ids deleted (tp_bulkdelete analog). Appends to the
    deletes table, records per-term dead doc counts, and updates
    manifest-level dead stats.

    The per-term counts (``dead_dfs`` table) are the delete-time
    amortization of IDF correction: one run-pruned postings decode per
    delete BATCH writes (term, dead_df) rows, and every subsequent
    query corrects doc_freq with a tiny dictionary-style lookup instead
    of decoding its terms' full posting lists (head terms made that
    per-query correction expensive between vacuums). Only posting rows
    with ``run IN (dead runs)`` are decoded — a dead doc only affects
    posting rows of its own 2^RUN_SHIFT range — though the scan still
    reads every row group of the segments holding a dead doc (postings
    are term-clustered, so ``run`` statistics prune nothing).
    """
    if isinstance(doc_ids, DataFrame):
        # one snapshot of a (possibly non-deterministic) input
        doc_ids = [
            r[0] for r in doc_ids.select(F.col("doc_id")).collect()
            if r[0] is not None
        ]
    writer = IndexWriter(index.index_dir)
    manifest = writer.read_manifest()
    n_dead, dead_tokens = local_commit.delete_local(
        index.index_dir, manifest, doc_ids
    )
    manifest["deleted_docs"] = manifest.get("deleted_docs", 0) + n_dead
    manifest["deleted_tokens_quantized"] = manifest.get(
        "deleted_tokens_quantized", 0
    ) + dead_tokens
    writer._commit_manifest(manifest)
    index.refresh()
    return index.manifest


def vacuum(index: BM25Index) -> dict:
    """Physically drop dead docs: rewrite every segment's postings and
    doclen without them and reset the delete stats in ONE manifest swap
    (bulkdelete + compaction collapsed; reference: vacuum.c:832-1290),
    then remove ``deletes``, ``dead_dfs`` and the source segments. A
    stop at any step leaves the index as it was before or after; files
    left behind by a stop after the swap are uncommitted (the next
    delete removes the two tables, see ``local_commit.delete_local``).
    Ends with ``index`` on the new snapshot."""
    from pg_textsearch_spark.index.merge import _merged_manifest, _reclaim

    # the dead set and the counters zeroed below must be one commit's
    index.refresh()
    snap = index.snapshot
    dead = snap.dead_ids()
    if not len(dead):
        return index.manifest
    seg_ids = [s["seg_id"] for s in snap.manifest["segments"]]
    # _merged_manifest decodes + regroups, dropping the dead docs
    manifest = _merged_manifest(index, seg_ids, max(seg_ids) + 1, dead)
    manifest["deleted_docs"] = 0
    manifest["deleted_tokens_quantized"] = 0
    writer = IndexWriter(index.index_dir)
    writer._commit_manifest(manifest)
    for table in ("deletes", "dead_dfs"):
        shutil.rmtree(os.path.join(index.index_dir, table), ignore_errors=True)
    _reclaim(writer, seg_ids)
    index.refresh()
    return index.manifest
