"""Segment merge / compaction — the LSM maintenance path.

Reference semantics (src/segment/merge.c): when a level accumulates
``segments_per_level`` segments they are N-way merged into one
segment at the next level (tp_maybe_compact_level, merge.c:1893-1944);
``force_merge`` collapses everything into a single segment
(merge.c:1947-1973). The merge streams sorted dictionaries, remaps
doc_ids, re-blocks postings, and recomputes stats.

A merge runs in the driver, as the reference's single-process merge
does (index/local_commit.py): term bucket by term bucket, one batch
decode of the sources' posting blocks, then the build's own posting
kernel regroups them by (term, run) and re-blocks — no Spark job. The
reference's hand-written N-way sorted term merge (merge.c:1409-1891)
becomes a sort of the decoded postings. Doc_ids are global and never
remapped here, which is exactly the reference's disjoint-source fast
path (merge.c:748-769: non-overlapping doc ranges concatenate without
comparisons) — by construction incremental segments own disjoint
doc_id ranges.

The LSM policy (8 levels, fan-in 8; reference: src/constants.h:74-76)
is a driver-side loop over the manifest.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import IndexWriter
from pg_textsearch_spark.operators.topk import BM25Index

MAX_LEVELS = 8  # TP_MAX_LEVELS (reference: constants.h:74)
SEGMENTS_PER_LEVEL = 8  # default compaction fan-in (reference: mod.c:256-269)


def merge_segments(
    index: BM25Index,
    seg_ids: list[int],
    new_seg_id: int,
    drop_doc_ids=None,
) -> dict:
    """N-way merge of segments into one (reference: merge.c:1409-1891).

    Decode -> union -> regroup (term, run) -> re-block; re-blocking
    restores the 128-doc block invariant across former segment
    boundaries within a run. ``drop_doc_ids`` (a DataFrame with a
    ``doc_id`` column, or a sequence of ids) are physically dropped.
    Ends with ``index`` on the new snapshot.
    """
    drop = None
    if isinstance(drop_doc_ids, DataFrame):
        drop = np.asarray(
            [r[0] for r in drop_doc_ids.select("doc_id").collect()],
            dtype=np.int64,
        )
    elif drop_doc_ids is not None:
        drop = np.asarray(drop_doc_ids, dtype=np.int64)
    writer = IndexWriter(index.index_dir)
    writer._commit_manifest(_merged_manifest(index, seg_ids, new_seg_id, drop))
    _reclaim(writer, seg_ids)
    index.refresh()
    return index.manifest


def _merged_manifest(
    index: BM25Index, seg_ids: list[int], new_seg_id: int, drop
) -> dict:
    """Write the merge of ``seg_ids`` as segment ``new_seg_id``,
    dropping the ids ``drop`` (an int64 array or None); -> the manifest
    that swaps it in, for the caller to commit."""
    seg_set = set(seg_ids)
    segs = [s for s in index.manifest["segments"] if s["seg_id"] in seg_set]
    assert len(segs) == len(seg_set), (seg_ids, index.manifest["segments"])
    stats, dead_tokens_quantized, has_keymap = local_commit.merge_local(
        index.index_dir, segs, new_seg_id, index.n_buckets, drop
    )
    num_docs = stats["num_docs"]
    manifest = IndexWriter(index.index_dir).read_manifest()
    src_docs = sum(s["num_docs"] for s in segs)
    src_tokens = sum(s["total_tokens"] for s in segs)
    if drop is None:
        # invariant: merged doc count == sum of source counts; the
        # token total is carried forward as the sum of source totals
        # (reference merges sum segment headers, merge.c:842-866 —
        # they can lag the raw doclen sum by quantization error once a
        # vacuum has happened upstream, so no raw-sum equality here)
        assert num_docs == src_docs, (num_docs, src_docs)
    else:
        assert num_docs <= src_docs
        # quantized correction, NOT the surviving raw sum (see above)
        src_tokens = src_tokens - dead_tokens_quantized

    level = max((s.get("level", 0) for s in segs), default=0) + 1
    manifest["segments"] = [
        s for s in manifest["segments"] if s["seg_id"] not in seg_set
    ]
    manifest["segments"].append(
        {
            "seg_id": new_seg_id,
            "level": min(level, MAX_LEVELS - 1),
            "num_docs": num_docs,
            "total_tokens": src_tokens,
            "max_doc_id": max(s.get("max_doc_id", -1) for s in segs),
            "created_at_unix": 0,
            "has_keymap": has_keymap,
            "lineage": {"merged_from": sorted(seg_set)},
        }
    )
    manifest["segments"].sort(key=lambda s: s["seg_id"])
    return manifest


def _reclaim(writer: IndexWriter, seg_ids) -> None:
    """Drop the files of segments a committed manifest no longer names
    (the tombstone/vacuum analog — safe after the manifest commit;
    readers resolve via manifest)."""
    for sid in seg_ids:
        for table in ("postings", "doclen", "dictionary", "keymap"):
            writer.store.drop_segment(table, sid)


def force_merge(index: BM25Index) -> dict:
    """Merge ALL segments into one (reference: tp_force_merge_all,
    merge.c:1947-1973; Lucene forceMerge(1))."""
    seg_ids = [s["seg_id"] for s in index.manifest["segments"]]
    if len(seg_ids) <= 1:
        return index.manifest
    new_id = max(seg_ids) + 1
    return merge_segments(index, seg_ids, new_id)


def maybe_compact(index: BM25Index, fan_in: int = SEGMENTS_PER_LEVEL) -> dict:
    """Leveled compaction policy (reference: tp_maybe_compact_level,
    merge.c:1893-1944): when a level holds >= fan_in segments, merge
    the oldest fan_in into one at level+1; recurse upward."""
    manifest = index.manifest
    changed = True
    while changed:
        changed = False
        by_level: dict[int, list[dict]] = {}
        for s in manifest["segments"]:
            by_level.setdefault(s.get("level", 0), []).append(s)
        for level in sorted(by_level):
            segs = sorted(by_level[level], key=lambda s: s["seg_id"])
            if len(segs) >= fan_in:
                batch = [s["seg_id"] for s in segs[:fan_in]]
                new_id = max(x["seg_id"] for x in manifest["segments"]) + 1
                manifest = merge_segments(index, batch, new_id)
                changed = True
                break
    return manifest
