"""Block-max top-k over Spark: ``topk_bmw`` and the batch kernel.

Reference semantics (src/scoring/bmw.c): skip any posting block whose
upper bound (BM25 of block_max_tf with the block's *minimum*
fieldnorm) cannot beat the k-th best score, and emit exactly the
exhaustive top-k. Here every plan scores through the one kernel,
``kernel.score_topk``: f32 block bounds against a bootstrapped floor
skip blocks before they decode (the safe-skip algebra of
bmw.c:1526-1571, ``kernel.decode_rows``), exact f64 totals are
accumulated per doc without a sort, tie-break (score DESC, doc_id
ASC).

BMW is a pure optimization: results must equal exhaustive scoring
(reference: test/sql/validation.sql:186-205) — pinned by
tests/test_bmw.py against topk_exhaustive on block-straddling
fixtures (FIXTURES.md F4).

Distribution model: the reference walks every segment under one heap
on one node. Here each ``run`` (a disjoint 2^RUN_SHIFT = 8192-doc
range, all query terms co-located by the shuffle) is scored
independently inside one Arrow batch; the global ORDER BY score DESC,
doc_id ASC LIMIT k merges run-local top-ks (TakeOrderedAndProject).
The reference's single shared heap threshold becomes the two-phase
bootstrap floor (``_bootstrap_floor``, ``_batch_floors``), taken only
when the query's posting volume passes ``kernel.wants_floor``.
"""

from __future__ import annotations

import math
import threading

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_textsearch_spark.functions.bm25 import bm25_term_score32
from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.functions.tokenizer import tokenize_query
from pg_textsearch_spark.operators.kernel import (
    decode_rows,
    kth_partial_floor,
    score_topk,
    wants_floor,
)
from pg_textsearch_spark.operators.topk import in_list


#: separator for the phase-2 (term, run) fetch key — never appears in
#: tokens (the tokenizer strips control characters) — and the key as
#: SQL text for ``in_list``
_KEY_SEP = "\x1f"
_KEY_SQL = "concat_ws(CAST(X'1f' AS STRING), term, CAST(run AS STRING))"


def _base32(e: dict, k1, b, avgdl) -> np.ndarray:
    """f32 BM25 of each decoded posting of ``e`` at unit weight: the
    bootstrap's partial score before the term weight."""
    return bm25_term_score32(
        e["tfs"], FIELDNORM_DECODE_TABLE[e["fns"]], np.float32(1.0), avgdl, k1, b,
    )


def _score_batch_run(
    table: pa.Table,
    qw_items: list,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dead=None,
) -> pa.Table:
    """Multi-QUERY top-k over one run's posting rows (Arrow ``term``,
    ``blocks``): decode the run's blocks once (``kernel.decode_rows``),
    then call the scoring kernel (``kernel.score_topk``) once per query
    over those shared arrays -> Arrow (query_id, doc_id, score).

    ``qw_items``: [(query_id, [(term, idf, qf), ...], floor), ...].
    Queries share terms (the point of batching), so each block decodes
    once per run however many queries reference its term; with floors,
    only the union of the blocks the queries keep decodes. A run spans
    at most 8192 doc ids, so the kernel's accumulator is at most
    64 KB per call.
    """
    entries = decode_rows(
        table,
        [(fl, {t: (idf, qf) for t, idf, qf in wl}) for _, wl, fl in qw_items],
        k1, b, avgdl,
    )
    out_q, out_d, out_s = [], [], []
    for qid, wlist, _floor in qw_items:
        present = [(idf, qf, entries[t]) for t, idf, qf in wlist if t in entries]
        if not present:
            continue
        ids, scores = score_topk(present, k, k1, b, avgdl, dead=dead)
        out_q.extend([qid] * len(ids))
        out_d.append(ids)
        out_s.append(scores)
    return pa.table({
        "query_id": pa.array(out_q, pa.string()),
        "doc_id": pa.array(np.concatenate(out_d) if out_d else [], pa.int64()),
        "score": pa.array(np.concatenate(out_s) if out_s else [], pa.float64()),
    })


def _batch_floors(
    pruned, qweights: dict, k: int, k1, b, avgdl, stats: dict | None = None
) -> dict:
    """Per-query bootstrap floors for a batch, in TWO jobs total (the
    batched form of ``_bootstrap_floor``, whose two driver
    round-trips amortize over every query in the batch).

    Phase 1 collects, per term, only the top posting rows by the
    weight-free block upper bound until they cover ``k * max_terms``
    docs (an executor-side windowed cumulative sum — the collect is
    O(|terms| * k/128) scalar rows, never one row per (term, run)).
    Phase 2 fetches + decodes the union of every query's chosen rows.
    Per query the k-th best per-doc f32 partial sum (over its own
    terms' chosen rows, weight-scaled) is a lower bound on the true
    k-th best total, shaved by the f32 guard — identical safety
    algebra to the single-query bootstrap.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F2

    need = {qid: k * len(w) for qid, w in qweights.items()}
    need_max = max(need.values())
    table = F2.array(*[F2.lit(float(v)) for v in FIELDNORM_DECODE_TABLE])

    def _blk_upper(blk):
        tf = blk["block_max_tf"].cast("double")
        dl = F2.element_at(table, blk["block_max_norm"] + 1)
        return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    meta = pruned.select(
        "term",
        "run",
        F2.array_max(F2.transform("blocks", _blk_upper)).alias("base_upper"),
        F2.aggregate(
            F2.transform("blocks", lambda blk: blk["doc_count"]),
            F2.lit(0),
            lambda acc, x: acc + x,
        ).alias("ndocs"),
    )
    wspec = (
        W.partitionBy("term")
        .orderBy(F2.desc("base_upper"), "run")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    meta_rows = (
        meta.withColumn(
            "prev", F2.coalesce(F2.sum("ndocs").over(wspec), F2.lit(0))
        )
        .filter(F2.col("prev") < need_max)
        .drop("prev")
        .collect()
    )
    if stats is not None:
        stats["phase1_rows"] = len(meta_rows)
    floors = {qid: -1.0 for qid in qweights}
    if not meta_rows:
        return floors
    by_term: dict = {}
    for r in meta_rows:
        by_term.setdefault(r["term"], []).append(
            (float(r["base_upper"]), int(r["run"]), int(r["ndocs"]))
        )
    for rows in by_term.values():
        rows.sort(key=lambda x: (-x[0], x[1]))

    # per-query prefix selection over its terms' rows merged by
    # weighted upper, descending
    chosen_per_q: dict = {}
    all_keys: set = set()
    for qid, w in qweights.items():
        cand = []
        for t, (idf, qf) in w.items():
            wt = float(idf) * int(qf)
            for bu, run, ndocs in by_term.get(t, []):
                cand.append((wt * bu, t, run, ndocs))
        cand.sort(key=lambda x: -x[0])
        covered = 0
        keys = []
        for _u, t, run, ndocs in cand:
            keys.append((t, run))
            covered += ndocs
            if covered >= need[qid]:
                break
        chosen_per_q[qid] = keys
        all_keys.update(keys)
    if stats is not None:
        stats["phase2_rows"] = len(all_keys)

    # the fetched rows decode keyed by their (term, run) fetch key
    fetch = sorted(f"{t}{_KEY_SEP}{run}" for t, run in all_keys)
    decoded = decode_rows(
        pruned.filter(in_list(_KEY_SQL, fetch))
        .select(F.expr(_KEY_SQL).alias("term"), "blocks")
        .toArrow()
    )
    for qid, w in qweights.items():
        ids_parts, s_parts = [], []
        for t, run in chosen_per_q[qid]:
            e = decoded.get(f"{t}{_KEY_SEP}{run}")
            if e is None:
                continue
            idf, qf = w[t]
            ids_parts.append(e["ids"])
            s_parts.append((
                _base32(e, k1, b, avgdl) * np.float32(float(idf) * int(qf))
            ).astype(np.float64))
        if ids_parts:
            floors[qid] = kth_partial_floor(
                np.concatenate(ids_parts), np.concatenate(s_parts), k
            )
    return floors


def _bootstrap_floor(pruned, wmap, k, k1, b, avgdl, stats=None) -> float:
    """Two-phase global score threshold (distributed analog of the
    reference's single shared top-k heap, bmw.c:31-357).

    Phase 1 runs entirely on the executors: per (term, run) row compute
    the max block upper bound (BM25 of block_max_tf at the block's min
    fieldnorm, times the term weight) and the row's doc count as plain
    column expressions over the skip metadata — payloads untouched —
    then ``ORDER BY upper DESC LIMIT k*|terms|``. Only those O(k)
    scalar rows reach the driver, never one row per (term, run): a
    head term with millions of runs collects the same handful of rows
    as a small index.

    Phase 2 fetches + decodes just the chosen rows, then sums the
    single-term partial scores **per doc_id** before taking the k-th
    best. Each per-doc partial sum is a lower bound on that doc's true
    total (absent terms contribute >= 0), so the k-th best over >= k
    *distinct* docs is a valid global floor. Grouping by doc is
    essential: the k-th best over the raw multiset of per-(term, doc)
    partials counts a multi-term doc once per term and can exceed the
    true k-th document total, pruning valid results.

    The prefix of fetched rows is extended until it covers
    ``k * |terms|`` postings — a doc appears at most once per term, so
    that guarantees >= k distinct docs whenever the index has them.

    The floor is returned shaved by a small relative guard (a few
    dozen f32 ulps, ``kernel.FLOOR_GUARD``) so the kernel's float32
    block bounds can never round a true top-k doc below it.
    """
    from pyspark.sql import functions as F2

    n_terms = max(len(wmap), 1)
    needed_rows = k * n_terms  # each row holds >= 1 doc
    table = F2.array(*[F2.lit(float(v)) for v in FIELDNORM_DECODE_TABLE])
    weight = F2.create_map(
        *[x for t, w in wmap.items() for x in (F2.lit(t), F2.lit(float(w)))]
    )[F2.col("term")]

    def _blk_upper(blk):
        tf = blk["block_max_tf"].cast("double")
        dl = F2.element_at(table, blk["block_max_norm"] + 1)
        return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    # phase 1: executor-side aggregate over skip metadata only
    meta_rows = (
        pruned.select(
            "term",
            "run",
            (weight * F2.array_max(F2.transform("blocks", _blk_upper))).alias(
                "upper"
            ),
            F2.aggregate(
                F2.transform("blocks", lambda blk: blk["doc_count"]),
                F2.lit(0),
                lambda acc, x: acc + x,
            ).alias("ndocs"),
        )
        .orderBy(F2.desc("upper"))
        .limit(needed_rows)
        .collect()
    )
    if stats is not None:
        stats["phase1_rows"] = len(meta_rows)
    if not meta_rows:
        return -1.0
    chosen, covered = [], 0
    for r in meta_rows:
        chosen.append(f"{r['term']}{_KEY_SEP}{int(r['run'])}")
        covered += int(r["ndocs"])
        if covered >= needed_rows:
            break
    if stats is not None:
        stats["phase2_rows"] = len(chosen)

    # phase 2: fetch + decode only the chosen rows (single IN predicate)
    entries = decode_rows(
        pruned.filter(in_list(_KEY_SQL, chosen)).select("term", "blocks").toArrow()
    )
    if not entries:
        return -1.0
    ids_parts, s_parts = [], []
    for t, e in entries.items():
        ids_parts.append(e["ids"])
        s_parts.append(
            (_base32(e, k1, b, avgdl) * np.float32(wmap[t])).astype(np.float64)
        )
    return kth_partial_floor(
        np.concatenate(ids_parts), np.concatenate(s_parts), k
    )


#: below this many total postings (sum of the query terms' dfs, known
#: driver-side before planning) a query is scored ONCE, driver-side,
#: over all its collected posting rows — the reference's single-node
#: algorithm, and faster than the groupBy(run) shuffle whenever total
#: decode work is smaller than a shuffle round-trip (~0.15 s locally).
#: Above the threshold the run-sharded plan takes over (cluster-scale
#: head terms). Override per call with ``small_query_postings``.
SMALL_QUERY_POSTINGS = 500_000

#: concurrent driver-side small-query scorings admitted before the
#: dispatcher overflows. The driver path is low-latency for one
#: caller, but its per-query work (plan build, row transfer, kernel)
#: holds the GIL ~0.13 s — 16 threads all taking it measured LOWER
#: aggregate throughput (7.5 q/s) than 16 on the distributed plan
#: (13-14 q/s). ONE slot (round 6): the solo caller keeps the fast
#: path (latency unchanged), and ANY concurrent small query overflows
#: to the in-process SERVING kernel (_serve_overflow — GIL-releasing
#: pyarrow reads, warm answers in ~1-15 ms, so callers genuinely
#: parallelize; 4 slots measured 14.8 q/s at 16 clients because every
#: freed slot re-admitted a 0.13 s GIL-holder). Distributed plan
#: remains the overflow where serving is unavailable.
_DRIVER_SCORE_SLOTS = threading.BoundedSemaphore(1)

#: lock guarding construction of the per-index serving handle for the
#: contended-small-query overflow (see topk_bmw). The handle itself is
#: stored ON the BM25Index (``index._serve_overflow = (stamp, sv)``) —
#: a module-level dict keyed by id(index) could alias two same-stamp
#: indexes after CPython id reuse (any two fresh single-segment
#: indexes share stamp ``(0, (0,))``) and pinned every index handle
#: (plus its decode LRU) in driver memory forever. Storing on the
#: handle means the entry dies with the index and can never be read
#: through a different index object; the stamp still invalidates on
#: deletes/merges.
_SERVE_OVERFLOW_LOCK = threading.Lock()


def _serve_overflow(index, query: str, k: int):
    """Score a contended small query on the in-process serving kernel
    (operators/serve.py). Returns (rank, doc_id, score) rows, or None
    when the serving path is unavailable — caller falls back to the
    distributed plan. Results are contract-identical to topk_bmw
    (same kernel, same tie-break; oracle gate bm25_topk_serve)."""
    from pg_textsearch_spark.operators.serve import ServingIndex, topk_serve

    try:
        stamp = index._stamp()
        with _SERVE_OVERFLOW_LOCK:
            cached = getattr(index, "_serve_overflow", None)
            if cached is not None and cached[0] == stamp:
                sv = cached[1]
            else:
                sv = ServingIndex(index)
                index._serve_overflow = (stamp, sv)
        return topk_serve(index, query, k, _serving=sv)
    except OSError:
        # store not readable from this process (e.g. a non-local
        # SegmentStore): the distributed plan is the right path
        return None


def topk_bmw(
    index,
    query: str,
    k: int = 10,
    bootstrap: bool | None = None,
    small_query_postings: int | None = None,
    _bootstrap_stats: dict | None = None,
) -> DataFrame:
    """Distributed block-max top-k. Same result contract as
    topk_exhaustive (rank, doc_id, score): every plan below scores
    through ``kernel.score_topk`` — f32 block bounds prune, the emitted
    score is the exact float64 total (same per-term operation order as
    the exhaustive path), and the global merge ranks on it, so the
    result hash-matches the exhaustive path and the DuckDB oracle at 4
    decimals, not just within 1e-3.

    ``bootstrap``: None applies the one floor rule
    (``kernel.wants_floor``); True forces the two-phase floor, False
    skips it."""
    from pyspark.sql import Window

    spark = index.spark
    qtf = tokenize_query(query, index.config)
    dfs = index.term_dfs(list(qtf)) if qtf else {}
    weights = {}
    n = index.num_docs
    for term, qf in qtf.items():
        df = dfs.get(term, 0)
        if df:
            weights[term] = (math.log1p((n - df + 0.5) / (df + 0.5)), qf)
    if not weights:
        from pg_textsearch_spark.operators.serve import local_topk_df

        return local_topk_df(spark, [])
    total_postings = sum(dfs[t] for t in weights)
    if bootstrap is None:
        bootstrap = wants_floor(total_postings)
    k1, b, avgdl = index.k1, index.b, index.avgdl
    wmap = {t: float(idf) * int(qf) for t, (idf, qf) in weights.items()}
    iqmap = {t: (float(idf), int(qf)) for t, (idf, qf) in weights.items()}
    single = len(wmap) == 1
    kk = int(k)
    # alive filtering: ship the sorted dead ids to the kernel as a
    # TorrentBroadcast (the per-segment bitset analog) — one copy per
    # executor, fetched lazily, instead of a closure literal serialized
    # into every task. Deletes are a small fraction of the corpus
    # between vacuums; at larger volumes vacuum first.
    dead_bc = None
    if index.has_deletes():
        dead_bc = spark.sparkContext.broadcast(index.deleted_id_array())

    pruned = index.pruned_postings(list(wmap)).select("term", "run", "blocks")

    floor = -1.0
    if bootstrap and dead_bc is None:
        # deletes would make bootstrap scores unsafe bounds (a dead doc
        # could hold the k-th slot) — skip bootstrap under deletes. The
        # floor is a pure function of (segment set, term weights, k), so
        # a repeated warm query reads it from the handle's floor memo
        # and skips the two bootstrap jobs
        floor = index.floor_memo(
            (tuple(sorted(wmap.items())), kk),
            lambda: _bootstrap_floor(
                pruned, wmap, kk, k1, b, avgdl, stats=_bootstrap_stats
            ),
            _bootstrap_stats,
        )

    def score_rows(rows):
        dead = dead_bc.value if dead_bc is not None else None
        entries = decode_rows(rows, [(floor, iqmap)], k1, b, avgdl)
        ids, scores = score_topk(
            [(*iqmap[t], e) for t, e in entries.items()],
            kk, k1, b, avgdl, dead=dead,
        )
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "score": pa.array(scores, pa.float64()),
        })

    out_schema = "doc_id bigint, score double"
    small_cut = (
        SMALL_QUERY_POSTINGS
        if small_query_postings is None
        else small_query_postings
    )
    if single and total_postings > small_cut:
        # large single-term queries need no cross-term alignment: every
        # (term, run) row is an independent posting list, so score each
        # scan batch in place (mapInArrow, ZERO shuffles — one stage
        # from parquet to TakeOrdered) with a batch-local top-k; the
        # global limit merges the batch top-ks
        def score_batches(batches):
            for batch in batches:
                out = score_rows(batch)
                if out.num_rows:
                    yield from out.to_batches()

        per_run = pruned.mapInArrow(score_batches, out_schema)
    elif total_postings <= small_cut:
        # small query (single- or multi-term): the pruned scan is the
        # only data-touching work (row-group-pruned parquet read, its
        # volume bounded by small_cut postings — ~1 MB of encoded
        # blocks), so collect those rows as Arrow and run the SAME
        # kernel once DRIVER-side. The coalesce(1) one-task
        # mapInPandas this replaces paid ~0.17 s/query of Python-stage
        # setup (function pickling, worker handshake, Arrow stream) for
        # a kernel that costs <1 ms on a few thousand postings —
        # measured 0.28 s for a trivial one-task mapInPandas vs 0.11 s
        # for the bare JVM scan+collect (1M-page index, warm). Past
        # small_cut the distributed plans take over, so driver memory
        # stays bounded.
        if _DRIVER_SCORE_SLOTS.acquire(blocking=False):
            try:
                out = score_rows(pruned.toArrow())
            finally:
                _DRIVER_SCORE_SLOTS.release()
            from pg_textsearch_spark.operators.serve import local_topk_df

            return local_topk_df(spark, [
                (i + 1, d, s) for i, (d, s) in enumerate(zip(
                    out.column("doc_id").to_pylist(),
                    out.column("score").to_pylist(),
                ))
            ])
        # driver slot contended (ONE slot, so overflow begins at the
        # 2nd concurrent small query): route the overflow through the
        # in-process SERVING kernel — same index files, same scoring
        # kernel, results oracle-gated identical (gate bm25_topk_serve)
        # — instead of the distributed plan. The driver path's
        # per-query work holds the GIL ~0.13 s, so 16 threads taking it
        # measured LOWER aggregate throughput than the cluster plan
        # (BENCH_r05 "concurrent": 10.7 q/s); the serve kernel answers
        # warm small queries in ~1-15 ms with GIL-releasing pyarrow
        # reads, so concurrent callers genuinely parallelize. This is
        # the cost-based fork a serving planner takes under load:
        # concurrent small queries belong on the local kernel, not the
        # cluster scheduler. Falls back to the distributed plan when
        # the serving read path is unavailable (non-local store).
        rows = _serve_overflow(index, query, kk)
        if rows is not None:
            from pg_textsearch_spark.operators.serve import local_topk_df

            return local_topk_df(spark, rows)
        per_run = pruned.groupBy("run").applyInArrow(score_rows, out_schema)
    else:
        per_run = pruned.groupBy("run").applyInArrow(score_rows, out_schema)
    topk = per_run.orderBy(F.desc("score"), F.asc("doc_id")).limit(kk)
    return topk.select(
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
        "doc_id",
        "score",
    )
