"""The one scoring kernel behind every top-k read path.

``topk_bmw`` (per doc-range run or per scan batch), ``topk_batch``
(once per query over a run's shared decoded postings) and
``topk_serve`` / ``ServePool`` (over the serving cache's flat arrays)
all score through ``score_topk``. Each hands it, per query term, the
term's decoded postings (``ids``, ``tfs``, ``fns``); the Spark paths
decode them with ``decode_rows``, which takes the posting rows as
Arrow (``term``, ``blocks``) and hands every block payload to one
native decode call. No block or posting becomes a Python object.

Contract (reference: bmw.c; results equal exhaustive scoring,
test/sql/validation.sql:186-205): emitted scores are exact float64
totals with the same per-posting operation order as
``topk_exhaustive``'s Column expression, and ties break (score DESC,
doc_id ASC). No path skips blocks yet: the reference's block-max skip
(bmw.c:1526-1571) belongs inside this kernel's one pass.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.index.codec import decompress_blocks

#: the dense accumulator's bound: ``score_topk`` keys docs by
#: ``id - lo`` only while the id span is below this many slots per
#: posting (memory <= 64 B per posting), else by a sorted compaction.
#: Measured crossover on a 4-vCPU x86 host: the dense key stays faster
#: than ``np.unique`` up to a span of ~8 ids per posting
DENSE_SPAN = 8

_EMPTY = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))


def _term_score64(tf, dl, idf: float, qf: float, avgdl: float, k1, b):
    """Exact float64 per-posting score, operation-ordered identically
    to the exhaustive path's Column expression (functions/bm25.py
    bm25_score_expr) so emitted scores hash-match the oracle:
    idf * tf * (k1+1) / (tf + k1*((1-b) + b*dl/avgdl)) * query_freq."""
    tfv = np.asarray(tf, dtype=np.float64)
    dlv = np.asarray(dl, dtype=np.float64)
    norm = k1 * ((1.0 - b) + b * dlv / avgdl)
    return idf * tfv * (k1 + 1.0) / (tfv + norm) * qf


def _one_array(col):
    """A table or batch column as one Arrow array: zero-copy unless
    the column spans several chunks."""
    if isinstance(col, pa.ChunkedArray):
        return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    return col


def decode_rows(rows) -> dict:
    """Posting rows -> term -> flat entry ``{"ids", "tfs", "fns"}``.

    ``rows``: an Arrow table or record batch with a ``term`` column and
    the postings ``blocks`` column (list of block structs). A term's
    rows (one per segment and run) concatenate in row order, and every
    block payload goes to ONE ``decompress_blocks`` call, zero-copy
    when each term's rows are already contiguous."""
    if rows.num_rows == 0:
        return {}
    blocks = _one_array(rows.column("blocks"))
    terms = pc.dictionary_encode(_one_array(rows.column("term")))
    nblk = pc.list_value_length(blocks).fill_null(0).to_numpy()
    # term code per block; codes number terms in first-appearance order
    code = np.repeat(terms.indices.to_numpy(), nblk)
    payload = pc.struct_field(pc.list_flatten(blocks), "payload")
    if len(code) > 1 and (np.diff(code) < 0).any():
        order = np.argsort(code, kind="stable")
        code = code[order]
        payload = payload.take(pa.array(order))
    ids, tfs, fns, counts = decompress_blocks(payload)
    names = terms.dictionary.to_pylist()
    # block bounds per code, then posting bounds at those blocks
    bb = np.searchsorted(code, np.arange(len(names) + 1))
    pb = np.concatenate(([0], np.cumsum(counts)))[bb]
    return {
        names[c]: {"ids": ids[lo:hi], "tfs": tfs[lo:hi], "fns": fns[lo:hi]}
        for c, (lo, hi) in enumerate(zip(pb[:-1], pb[1:]))
        if bb[c + 1] > bb[c]
    }


def score_topk(postings, k: int, k1, b, avgdl, dead=None):
    """Top-k over one query's postings -> (doc_ids int64, scores f64),
    ordered (score DESC, doc_id ASC), at most ``k`` long.

    ``postings``: [(idf, qf, entry), ...], one per query term, entry as
    ``decode_rows`` or the serving cache builds it. ``dead``: sorted int64 array of
    deleted doc ids, or None.

    1. Score every posting with ``_term_score64``.
    2. Accumulate per doc with ``np.bincount`` over a compact key. When
       the doc-id span is at most ``DENSE_SPAN`` times the posting
       count the key is ``ids - lo`` (a dense array over the span, no
       sort); otherwise it is the inverse of ``np.unique(ids)``. Either
       way bincount adds each doc's contributions in input order, so
       the f64 totals are the same bit for bit.
    3. Zero the dead docs.
    4. Cut the top k with a partition, keep every doc scoring at least
       the k-th value (boundary ties), and order those by
       ``lexsort((ids, -totals))``.

    Memory and time grow with the posting count, never with the id
    range: the accumulator holds at most ``DENSE_SPAN`` (8) slots of
    8 B per posting. A run spans at most 8192 ids (64 KB); a serving
    query over a 1M-doc index with a few hundred thousand postings
    takes the dense key (up to 8 MB, the same scale note as
    ``serve.SERVE_MAX_POSTINGS``), a rare-term query or an index over
    sparse caller-chosen doc ids takes the sorted key.
    """
    ids_parts, s_parts = [], []
    for idf, qf, e in postings:
        if len(e["ids"]):
            ids_parts.append(e["ids"])
            s_parts.append(_term_score64(
                e["tfs"], FIELDNORM_DECODE_TABLE[e["fns"]], idf, qf, avgdl, k1, b
            ))
    if not ids_parts:
        return _EMPTY
    ids = np.concatenate(ids_parts)
    s64 = np.concatenate(s_parts)
    lo, hi = int(ids.min()), int(ids.max())
    if hi - lo < DENSE_SPAN * len(ids):
        uids = None
        totals = np.bincount(ids - lo, weights=s64)
    else:
        uids, inv = np.unique(ids, return_inverse=True)
        totals = np.bincount(inv, weights=s64)
    if dead is not None and len(dead):
        d = dead[np.searchsorted(dead, lo):np.searchsorted(dead, hi, "right")]
        if uids is None:
            totals[d - lo] = 0.0
        else:
            pos = np.searchsorted(uids, d)  # d <= hi, so pos < len(uids)
            totals[pos[uids[pos] == d]] = 0.0
    # every matching live doc scores > 0 (idf > 0, tf >= 1): zero marks
    # an id with no posting or a dead doc. Slots are in doc-id order
    n = len(totals)
    kk = min(int(k), n)
    kth = np.partition(totals, n - kk)[n - kk] if kk > 0 else 0.0
    cand = np.flatnonzero(totals >= kth) if kth > 0 else np.flatnonzero(totals)
    sel = cand[np.lexsort((cand, -totals[cand]))[:kk]]
    return (sel + lo if uids is None else uids[sel]), totals[sel]
