"""The one block-max scoring kernel behind every top-k read path.

``topk_bmw`` (per doc-range run, per scan batch, or once over a
driver-collected Arrow table), ``topk_batch`` (once per query over a
run's shared decoded postings) and ``topk_serve`` / ``ServePool`` (over
the serving cache's flat arrays) all score through ``score_topk``. Each
hands it, per query term, the term's decoded postings (``ids``,
``tfs``, ``fns``); the Spark paths decode them with ``decode_rows``,
which takes the posting rows as Arrow (``term``, ``blocks``), reads
each block's metadata (``bmt`` block_max_tf, ``bmn`` block_max_norm)
as whole columns, skips the blocks a pruning floor rules out
(``keep_blocks``) and hands the kept payloads to one native decode
call. No block or posting becomes a Python object.

Contract (reference: bmw.c; results equal exhaustive scoring,
test/sql/validation.sql:186-205): pruning decisions use float32 block
bounds only, emitted scores are exact float64 totals with the same
per-posting operation order as ``topk_exhaustive``'s Column expression,
and ties break (score DESC, doc_id ASC).

Pruning floors come from the Spark paths' two-phase bootstrap
(``bmw._bootstrap_floor``, ``bmw._batch_floors``), taken only when
``wants_floor`` says the query's volume pays for it; ``decode_rows``
then skips the blocks a floor rules out before decoding them. The
serving path never takes a floor: its volume is capped far below the
gate (``serve.SERVE_MAX_POSTINGS``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pg_textsearch_spark.functions.bm25 import bm25_term_score32
from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.index.codec import decompress_blocks

#: bootstrap a pruning floor only when the query's dictionary-known
#: posting volume (sum of its terms' dfs) reaches this. Below it the two
#: extra Spark jobs the bootstrap costs exceed the decode and scoring
#: work the floor saves: on a 1M-doc index (local[4], 4-vCPU x86) a
#: cold floor cost 0.25-0.65 s more than none at 0.96M-6.2M postings,
#: while the blocks it skipped saved at most ~20% of the query.
#: One rule for topk_bmw and topk_batch.
BOOTSTRAP_MIN_POSTINGS = 10_000_000

#: relative shave applied when an f32 partial-sum k-th best becomes a
#: floor: block bounds are f32 while totals are exact f64, and per-term
#: f32 rounding is ~6e-8 relative per operation — 4e-6 (> 32 f32 ulps)
#: covers any realistic term count with two orders of magnitude to spare
FLOOR_GUARD = 4e-6

#: the dense accumulator's bound: ``score_topk`` keys docs by
#: ``id - lo`` only while the id span is below this many slots per
#: posting (memory <= 64 B per posting), else by a sorted compaction.
#: Measured crossover on a 4-vCPU x86 host: the dense key stays faster
#: than ``np.unique`` up to a span of ~8 ids per posting
DENSE_SPAN = 8

_EMPTY = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))


def wants_floor(postings: int) -> bool:
    """The one bootstrap gate: does a query touching ``postings``
    postings (dictionary dfs) pay for a pruning floor?"""
    return postings >= BOOTSTRAP_MIN_POSTINGS


def _term_score64(tf, dl, idf: float, qf: float, avgdl: float, k1, b):
    """Exact float64 per-posting score, operation-ordered identically
    to the exhaustive path's Column expression (functions/bm25.py
    bm25_score_expr) so emitted scores hash-match the oracle:
    idf * tf * (k1+1) / (tf + k1*((1-b) + b*dl/avgdl)) * query_freq."""
    tfv = np.asarray(tf, dtype=np.float64)
    dlv = np.asarray(dl, dtype=np.float64)
    norm = k1 * ((1.0 - b) + b * dlv / avgdl)
    return idf * tfv * (k1 + 1.0) / (tfv + norm) * qf


def block_uppers(e: dict, idf: float, qf: float, k1, b, avgdl) -> np.ndarray:
    """float32 upper bound of each block of a term: BM25 of the block's
    max tf at its shortest doc, times the term weight."""
    dl = FIELDNORM_DECODE_TABLE[e["bmn"]]
    return bm25_term_score32(
        e["bmt"], dl, np.float32(1.0), avgdl, k1, b
    ) * np.float32(idf * qf)


def keep_blocks(meta: dict, weights: dict, floor: float, k1, b, avgdl) -> dict:
    """The safe block skip (reference bmw.c:1526-1571 algebra) for one
    query with floor ``floor``: term -> bool mask over its blocks in
    ``meta`` (term -> {"bmt", "bmn"}). Block i of term t is dropped
    when ``upper_i + sum of the other terms' max uppers < floor`` — no
    doc in it can reach the top k. A doc whose true total reaches the
    floor keeps every one of its blocks, so it is scored in full."""
    terms = [t for t in weights if t in meta]
    uppers = {t: block_uppers(meta[t], *weights[t], k1, b, avgdl) for t in terms}
    tmax = {t: float(u.max()) for t, u in uppers.items()}
    smax = sum(tmax.values())
    return {
        t: uppers[t] + np.float32(smax - tmax[t]) >= np.float32(floor)
        for t in terms
    }


def _one_array(col):
    """A table or batch column as one Arrow array: zero-copy unless
    the column spans several chunks."""
    if isinstance(col, pa.ChunkedArray):
        return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    return col


def decode_rows(rows, queries=(), k1=0.0, b=0.0, avgdl=1.0) -> dict:
    """Posting rows -> term -> flat entry ``{"ids", "tfs", "fns",
    "bmt", "bmn", "dc"}``.

    ``rows``: an Arrow table or record batch with a ``term`` column and
    the postings ``blocks`` column (list of block structs). Block
    metadata is read column-wise with ``pc.struct_field``; no block is
    ever a Python object. A term's rows (one per segment and run)
    concatenate in row order, and every kept payload goes to ONE
    ``decompress_blocks`` call, zero-copy when each term's rows are
    already contiguous.

    ``queries``: [(floor, {term: (idf, qf)}), ...], every query that
    will score these entries. When any has a floor (> 0), the block
    skip runs on the metadata BEFORE decoding: a block decodes only if
    some query keeps it (``keep_blocks``; a query without a floor keeps
    every block of its terms). Scoring a block another query kept is
    harmless — its postings are exact contributions."""
    if rows.num_rows == 0:
        return {}
    blocks = _one_array(rows.column("blocks"))
    terms = pc.dictionary_encode(_one_array(rows.column("term")))
    nblk = pc.list_value_length(blocks).fill_null(0).to_numpy()
    flat = pc.list_flatten(blocks)
    # term code per block; codes number terms in first-appearance order
    code = np.repeat(terms.indices.to_numpy(), nblk)
    payload = pc.struct_field(flat, "payload")
    bmt = pc.struct_field(flat, "block_max_tf").to_numpy()
    bmn = pc.struct_field(flat, "block_max_norm").to_numpy()
    if len(code) > 1 and (np.diff(code) < 0).any():
        order = np.argsort(code, kind="stable")
        code, bmt, bmn = code[order], bmt[order], bmn[order]
        payload = payload.take(pa.array(order))
    names = terms.dictionary.to_pylist()
    bounds = np.searchsorted(code, np.arange(len(names) + 1))
    meta = {
        names[c]: {"bmt": bmt[lo:hi], "bmn": bmn[lo:hi]}
        for c, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
        if hi > lo
    }
    if not meta:
        return {}
    if any(floor > 0 for floor, _ in queries):
        keep = {t: np.zeros(len(m["bmt"]), dtype=bool) for t, m in meta.items()}
        for floor, w in queries:
            if floor > 0:
                for t, m in keep_blocks(meta, w, floor, k1, b, avgdl).items():
                    keep[t] |= m
            else:
                for t in w:
                    if t in keep:
                        keep[t][:] = True
        mask = np.concatenate(list(keep.values()))
        if not mask.all():
            payload = payload.filter(pa.array(mask))
            meta = {
                t: {c: v[keep[t]] for c, v in m.items()}
                for t, m in meta.items() if keep[t].any()
            }
    ids, tfs, fns, counts = decompress_blocks(payload)
    out: dict = {}
    bi = pi = 0
    for term, m in meta.items():
        bj = bi + len(m["bmt"])
        dc = counts[bi:bj]
        pj = pi + int(dc.sum())
        out[term] = {
            "ids": ids[pi:pj], "tfs": tfs[pi:pj], "fns": fns[pi:pj],
            "dc": dc, **m,
        }
        bi, pi = bj, pj
    return out


def score_topk(postings, k: int, k1, b, avgdl, dead=None):
    """Top-k over one query's postings -> (doc_ids int64, scores f64),
    ordered (score DESC, doc_id ASC), at most ``k`` long.

    ``postings``: [(idf, qf, entry), ...], one per query term, entry as
    ``decode_rows`` or the serving cache builds it (blocks a floor
    skipped are already left out). ``dead``: sorted int64 array of
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


def kth_partial_floor(ids: np.ndarray, partials: np.ndarray, k: int) -> float:
    """Floor from bootstrap partial scores: group the f32 per-(term,
    doc) partials by doc, take the k-th best per-doc sum, shave it by
    ``FLOOR_GUARD``. Each per-doc partial sum is a lower bound on that
    doc's true total (absent terms contribute >= 0), so the k-th best
    over >= k distinct docs is a safe floor; grouping by doc matters —
    the raw multiset counts a multi-term doc once per term. -1.0 when
    fewer than k distinct docs are proven."""
    if not len(ids):
        return -1.0
    uids, inv = np.unique(ids, return_inverse=True)
    if len(uids) < k:
        return -1.0
    sums = np.bincount(inv, weights=partials)
    kth = float(np.partition(sums, len(sums) - k)[len(sums) - k])
    return float(np.float32(kth) * (1.0 - FLOOR_GUARD)) if kth > 0 else -1.0
