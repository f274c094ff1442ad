"""Posting-list -> 128-doc blocks with block-max metadata.

Reference semantics (src/segment/segment.c:968-1495, format.h:208-264):
per term, postings (doc_id, tf, fieldnorm) sorted by doc_id are chopped
into blocks of <= 128 docs; each block records ``last_doc_id``,
``doc_count``, ``block_max_tf`` (max tf in block) and
``block_max_norm`` — which is the *minimum* fieldnorm in the block
(shortest doc => highest possible score; reference: format.h:230-239).
The (block_max_tf, min fieldnorm) pair bounds the block's best
possible BM25 contribution for Block-Max-WAND skipping
(reference: bmw.c:365-377).
"""

from __future__ import annotations

import numpy as np

from pg_textsearch_spark.index.codec import BLOCK_SIZE, compress_block, decompress_block

def build_blocks(doc_ids, tfs, fieldnorms, codec: str = "bitpack") -> list[dict]:
    """Sorted postings of one term(-run) -> list of block dicts."""
    ids = np.asarray(doc_ids, dtype=np.uint64)
    tf = np.asarray(tfs, dtype=np.uint32)
    fn = np.asarray(fieldnorms, dtype=np.uint8)
    # builder groups arrive pre-sorted; only sort when actually needed
    if len(ids) > 1 and not np.all(ids[1:] > ids[:-1]):
        order = np.argsort(ids, kind="stable")
        ids, tf, fn = ids[order], tf[order], fn[order]
    out = []
    for start in range(0, len(ids), BLOCK_SIZE):
        end = min(start + BLOCK_SIZE, len(ids))
        bi, bt, bf = ids[start:end], tf[start:end], fn[start:end]
        out.append(
            {
                "last_doc_id": int(bi[-1]),
                "doc_count": int(end - start),
                "block_max_tf": int(bt.max()),
                "block_max_norm": int(bf.min()),  # min fieldnorm = shortest doc
                "payload": compress_block(bi, bt, bf, codec=codec),
            }
        )
    return out


def decode_blocks(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate-decode a term's blocks -> (doc_ids, tfs, fieldnorms)."""
    if not blocks:
        z = np.array([], dtype=np.uint64)
        return z, z.astype(np.uint32), z.astype(np.uint8)
    parts = [decompress_block(b["payload"] if isinstance(b, dict) else b.payload) for b in blocks]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
        np.concatenate([p[2] for p in parts]),
    )
