"""The one scoring kernel behind every top-k read path.

``topk_batch`` and ``topk_bmw``, its one-query form (once per query
over a doc-range run's shared decoded postings), and
``topk_serve`` / ``ServePool`` (over the serving cache) all score
through ``score_topk``. Each hands it, per query term, the term's
doc ids and its impacts: the per-posting BM25 score before the
query-frequency factor (``impacts``). An impact depends only on the
term and the index state (N, avgdl, df), so each term is scored once
per state, not once per query: the serving cache keeps impacts per
index snapshot, and the Spark paths compute them once per term per run.
The Spark paths decode postings with ``decode_rows``, which takes the
posting rows as Arrow (``term``, ``blocks``) and hands every block
payload to one native decode call; the serving reader decodes its
rows with it too. No block or posting becomes a Python object.

Contract (reference: bmw.c; results equal exhaustive scoring,
test/sql/validation.sql:186-205): emitted scores are exact float64
totals with the same per-posting operation order as
``topk_exhaustive``'s Column expression, and ties break (score DESC,
doc_id ASC). No path skips posting blocks yet: the reference's
block-max skip (bmw.c:1526-1571) belongs inside this kernel's one
pass. The top-k cut bounds the accumulator by its own block maxima
and partitions only the slots above that bound.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa

from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.index.codec import decompress_blocks

#: the dense accumulator's bound: ``score_topk`` keys docs by
#: ``id - lo`` only while the id span is below this many slots per
#: posting (memory <= 64 B per posting), else by a sorted compaction.
#: Measured crossover on a 4-vCPU x86 host: the dense key stays faster
#: than ``np.unique`` up to a span of ~8 ids per posting
DENSE_SPAN = 8

#: width of the accumulator blocks whose maxima bound the top-k cut
#: (``score_topk`` step 4); fixed, not a knob
CUT_BLOCK = 64

_EMPTY = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
_DL = FIELDNORM_DECODE_TABLE.astype(np.float64)


@functools.lru_cache(maxsize=64)
def _length_norms(avgdl: float, k1, b) -> np.ndarray:
    """BM25's length norm ``k1*((1-b) + b*dl/avgdl)`` per fieldnorm
    code (``dl`` the code's quantized length): one 256-entry table per
    index state, shared read-only by ``impacts``."""
    return k1 * ((1.0 - b) + b * _DL / avgdl)


def impacts(tfs, fns, idf: float, avgdl: float, k1, b):
    """A term's exact float64 per-posting scores with query frequency
    1, operation-ordered identically to the exhaustive path's Column
    expression (functions/bm25.py bm25_score_expr) so emitted scores
    hash-match the oracle:
    idf * tf * (k1+1) / (tf + k1*((1-b) + b*dl/avgdl)).
    The expression's last factor is the query frequency, so
    ``impacts(...) * qf`` is the expression bit for bit. The norm is
    computed once per fieldnorm code and index state, then gathered
    per posting."""
    s = idf * tfs  # float64: integer tfs convert exactly
    s *= k1 + 1.0
    den = _length_norms(avgdl, k1, b)[fns]
    den += tfs
    s /= den
    return s


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
    # codes number terms in first-appearance order (one per ROW: a
    # term's rows are one per segment and run, never per block)
    codes: dict[str, int] = {}
    row_code = [
        codes.setdefault(t, len(codes)) for t in rows.column("term").to_pylist()
    ]
    names = list(codes)
    offs = blocks.offsets.to_numpy()
    payload = blocks.values.field("payload")[int(offs[0]):int(offs[-1])]
    if len(names) == 1:
        ids, tfs, fns, _counts = decompress_blocks(payload)
        return {names[0]: {"ids": ids, "tfs": tfs, "fns": fns}}
    # term code per block
    code = np.repeat(row_code, np.diff(offs))
    if any(a > c for a, c in zip(row_code, row_code[1:])):
        order = np.argsort(code, kind="stable")
        code = code[order]
        payload = payload.take(pa.array(order))
    ids, tfs, fns, counts = decompress_blocks(payload)
    # block bounds per code, then posting bounds at those blocks
    bb = np.searchsorted(code, np.arange(len(names) + 1))
    pb = np.concatenate(([0], np.cumsum(counts)))[bb]
    return {
        names[c]: {"ids": ids[lo:hi], "tfs": tfs[lo:hi], "fns": fns[lo:hi]}
        for c, (lo, hi) in enumerate(zip(pb[:-1], pb[1:]))
        if bb[c + 1] > bb[c]
    }


def score_topk(postings, k: int, dead=None):
    """Top-k over one query's postings -> (doc_ids int64, scores f64),
    ordered (score DESC, doc_id ASC), at most ``k`` long.

    ``postings``: [(qf, ids, s), ...], one per query term: its query
    frequency, doc ids and ``impacts``. ``dead``: sorted int64 array of
    deleted doc ids, or None.

    1. Scale each term's impacts by its qf when qf != 1 (``x * 1.0 ==
       x``, so qf = 1 needs no pass).
    2. Accumulate per doc with ``np.bincount`` over a compact key. When
       the doc-id span is at most ``DENSE_SPAN`` times the posting
       count the key is ``ids - lo`` (a dense array over the span, no
       sort); otherwise it is the inverse of ``np.unique(ids)``. Either
       way bincount adds each doc's contributions in input order, so
       the f64 totals are the same bit for bit.
    3. Zero the dead docs.
    4. Cut the top k. The k-th largest of the accumulator's
       ``CUT_BLOCK``-slot block maxima is a lower bound on the k-th
       largest total (k distinct slots reach it), so only the slots at
       or above it, found in the blocks whose max reaches it, are
       partitioned (below ``CUT_BLOCK * k`` slots every nonzero slot
       is). Every doc scoring at least the k-th value is kept
       (boundary ties) and those are ordered by
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
    for qf, ids, s in postings:
        if len(ids):
            ids_parts.append(ids)
            s_parts.append(s if qf == 1 else s * qf)
    if not ids_parts:
        return _EMPTY
    # concatenate always copies: the key below may reuse ``ids`` in
    # place, never a caller's (the serving cache's entries are shared)
    ids = np.concatenate(ids_parts)
    s64 = np.concatenate(s_parts)
    lo, hi = int(ids.min()), int(ids.max())
    if hi - lo < DENSE_SPAN * len(ids):
        uids = None
        ids -= lo
        totals = np.bincount(ids, weights=s64)
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
    if kk <= 0:
        return _EMPTY
    bound = 0.0
    if n >= CUT_BLOCK * kk:
        bmax = np.maximum.reduceat(totals, np.arange(0, n, CUT_BLOCK))
        bound = np.partition(bmax, len(bmax) - kk)[len(bmax) - kk]
    if bound > 0:
        # only the blocks whose max reaches the bound hold candidates
        blk = np.flatnonzero(bmax >= bound)
        slots = (blk[:, None] * CUT_BLOCK + np.arange(CUT_BLOCK)).ravel()
        slots = slots[slots < n]
        cand = slots[totals[slots] >= bound]
    else:
        cand = np.flatnonzero(totals)
    if len(cand) > kk:
        tc = totals[cand]
        cand = cand[tc >= np.partition(tc, len(tc) - kk)[len(tc) - kk]]
    sel = cand[np.lexsort((cand, -totals[cand]))[:kk]]
    return (sel + lo if uids is None else uids[sel]), totals[sel]
