"""Low-latency serving path: driver-side top-k over the same index.

The distributed paths (operators/topk.py, operators/bmw.py) pay
Spark's per-job floor (~0.25 s in local mode: scheduling + pruned
parquet scan stages) on EVERY interactive query — fine for batch and
concurrent serving, ~50x the reference's warm 5 ms single-query p50.
This module is the interactive answer: the SAME on-disk index and the
same float32-pruned / exact-float64-emitted scoring contract, executed
in the serving process — pyarrow bucket-dir + row-group pruned reads,
block metadata flattened to numpy (no per-(term,run)-row Python), a
block-max safe-skip floor, and a stamp-invalidated decoded-postings
LRU (the shared_buffers-resident-segment analog) that serves repeated
query terms in ~1 ms without touching parquet. Results are identical
to ``topk_bmw`` (same pruning algebra, same tie-break; oracle-gated).

Scale boundary (stated honestly, like SMALL_QUERY_POSTINGS): the
serving process reads the QUERY TERMS' posting rows only — work is
O(sum of the query terms' pruned postings), independent of corpus
size, but a stopword-grade term on a 10^11-doc corpus is GBs of
postings and belongs on the cluster. ``topk_auto`` dispatches: serve
locally when the (dictionary-known) pruned volume is under
``max_postings``, else run the distributed BMW plan. This mirrors the
reference's own architecture — its queries ARE single-process scans
over local segment files (src/segment/scan.c); here that role is
played by the driver against shared storage, while Spark remains the
build/maintenance/batch engine.

Requires a local (or locally-mounted) index directory; on object
storage, serve from a host that mounts it or stay on the cluster path.
"""

from __future__ import annotations

import math
import os
import queue
import threading
import time

import numpy as np

from pg_textsearch_spark.functions.bm25 import bm25_term_score32
from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.index.codec import decompress_blocks, term_bucket
from pg_textsearch_spark.functions.tokenizer import tokenize_query


class LocalIndex:
    """Spark-free index handle for serving processes.

    Exposes the same stats surface a ``BM25Index`` does (manifest,
    corpus stats, stamp/delete discipline) from the on-disk manifest
    alone — a serving tier (one process per core, shared storage) can
    ``fork``/spawn workers holding one of these without a JVM or a
    SparkSession anywhere in the process. The reference's serving
    architecture is exactly this shape: each backend scans local
    segment files (src/segment/scan.c:59-178); Spark stays the
    build/maintenance/batch engine.
    """

    def __init__(self, index_dir: str):
        import json

        self.index_dir = index_dir
        with open(os.path.join(index_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.config: str = self.manifest["config"]
        self.k1: float = self.manifest["k1"]
        self.b: float = self.manifest["b"]
        self.n_buckets: int = self.manifest["n_buckets"]

    def _stamp(self):
        return (
            int(self.manifest.get("deleted_docs", 0)),
            tuple(s["seg_id"] for s in self.manifest["segments"]),
        )

    @property
    def num_docs(self) -> int:
        return sum(s["num_docs"] for s in self.manifest["segments"]) - int(
            self.manifest.get("deleted_docs", 0)
        )

    @property
    def total_tokens(self) -> int:
        return sum(
            s["total_tokens"] for s in self.manifest["segments"]
        ) - int(self.manifest.get("deleted_tokens_quantized", 0))

    @property
    def avgdl(self) -> float:
        n = self.num_docs
        return (self.total_tokens / n) if n else 0.0

    def has_deletes(self) -> bool:
        return int(self.manifest.get("deleted_docs", 0)) > 0


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet")
        )
    return sorted(out)


class ServingIndex:
    """Driver-side reader over a BM25Index's files: memoized file
    listings + dictionary lookups, pyarrow row-group pruning by term.

    Wraps (and stays consistent with) a ``BM25Index`` handle — reuses
    its manifest for stats and its stamp discipline for invalidation.
    """

    def __init__(
        self,
        index: "BM25Index",  # noqa: F821 (doc type)
        cache_postings: int = 20_000_000,
    ):
        self.index = index
        self._files: dict[tuple, list[str]] | None = None
        self._df_cache: dict[str, int] = {}
        self._stamp = None
        #: decoded-postings LRU: term -> flat decoded arrays. The
        #: serving analog of the reference's shared_buffers-resident
        #: segment pages — repeated/overlapping query terms skip both
        #: the parquet read and the block decode. Budgeted by TOTAL
        #: POSTINGS (~20 B each across ids/tfs/fns), stamp-invalidated
        #: like every other cache here. 0 disables.
        self._post_cache_cap = int(cache_postings)
        self._post_cache: dict[str, dict] = {}
        self._post_cache_size = 0
        #: guards the mutable caches — a ServingIndex is shared across
        #: serving threads (bench concurrent_serve); cache entries
        #: themselves are immutable once inserted, so readers only
        #: need the lock for the dict lookups, never for array access
        self._lock = threading.Lock()

    def _check_stamp(self) -> None:
        s = self.index._stamp()
        if s != self._stamp:
            with self._lock:
                self._files = None
                self._df_cache = {}
                self._dead = None
                self._post_cache = {}
                self._post_cache_size = 0
                self._stamp = s

    def _bucket_files(self, table: str, bucket: int) -> list[str]:
        self._check_stamp()
        key = (table, bucket)
        with self._lock:
            if self._files is None:
                self._files = {}
            cached = self._files.get(key)
        if cached is not None:
            return cached
        files: list[str] = []
        base = self.index.index_dir
        for seg in self.index.manifest["segments"]:
            d = os.path.join(
                base, table, f"seg={seg['seg_id']}", f"bucket={bucket}"
            )
            if os.path.isdir(d):
                files.extend(_parquet_files(d))
        with self._lock:
            if self._files is None:
                self._files = {}
            self._files.setdefault(key, files)
        return files

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Unified df per term — dictionary parquet read in-process."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self._check_stamp()
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            got = {t: 0 for t in missing}
            by_bucket: dict[int, list[str]] = {}
            for t in missing:
                by_bucket.setdefault(
                    term_bucket(t, self.index.n_buckets), []
                ).append(t)
            for b, ts in by_bucket.items():
                for f in self._bucket_files("dictionary", b):
                    tab = pq.read_table(
                        f,
                        columns=["term", "df"],
                        filters=[("term", "in", ts)],
                    )
                    for term, df in zip(
                        tab["term"].to_pylist(), tab["df"].to_pylist()
                    ):
                        got[term] += int(df)
            # pending-delete correction from the dead_dfs table
            dead_path = os.path.join(self.index.index_dir, "dead_dfs")
            if self.index.has_deletes():
                live = [t for t, v in got.items() if v > 0]
                if live and os.path.isdir(dead_path):
                    tab = pq.read_table(
                        dead_path, filters=[("term", "in", live)]
                    )
                    for term, dd in zip(
                        tab["term"].to_pylist(), tab["dead_df"].to_pylist()
                    ):
                        got[term] -= int(dd)
                elif live:
                    # legacy fallback (deletes that predate dead_dfs):
                    # decode the query terms' postings and count dead
                    # occurrences — same rule BM25Index._term_dfs_uncached
                    # applies, so serve/bmw ranking parity holds on old
                    # indexes too
                    dead = self.dead_ids() or frozenset()
                    dead_arr = np.fromiter(dead, dtype=np.int64)
                    flat = self.posting_flat_decoded(live)
                    for term, d in flat.items():
                        got[term] -= int(
                            np.isin(d["ids"], dead_arr).sum()
                        )
            with self._lock:
                self._df_cache.update(got)
        got_all = {}
        with self._lock:
            for t in terms:
                got_all[t] = self._df_cache.get(t, 0)
        return {t: v for t, v in got_all.items() if v > 0}

    def posting_blocks_flat(self, terms: list[str]) -> dict:
        """term -> flat numpy block arrays across ALL posting rows and
        segments: ``{"bmt", "bmn", "dc": int64 arrays, "pay":
        list[bytes]}`` — one per posting BLOCK, not per (term, run)
        row. The per-row path costs ~0.1 ms of Python per row and a
        1M-doc index splits a head term into ~120 run rows; flattening
        at the Arrow level makes block-metadata scoring one numpy pass.
        File reads run in a small thread pool (pyarrow releases the
        GIL), overlapping row-group IO across buckets/segments."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(
                term_bucket(t, self.index.n_buckets), []
            ).append(t)
        jobs = [
            (f, ts)
            for b, ts in by_bucket.items()
            for f in self._bucket_files("postings", b)
        ]
        if not jobs:
            return {}

        def read(job):
            f, ts = job
            return pq.read_table(
                f, columns=["term", "blocks"], filters=[("term", "in", ts)]
            )

        out: dict[str, dict] = {}
        with ThreadPoolExecutor(min(8, len(jobs))) as pool:
            tabs = list(pool.map(read, jobs))
        for tab in tabs:
            if tab.num_rows == 0:
                continue
            tab = tab.combine_chunks()
            la = tab.column("blocks").chunk(0)
            row_terms = tab.column("term").chunk(0).to_pylist()
            lens = pc.list_value_length(la).to_numpy().astype(np.int64)
            sa = la.flatten()
            bmt = sa.field("block_max_tf").to_numpy().astype(np.int64)
            bmn = sa.field("block_max_norm").to_numpy().astype(np.int64)
            dc = sa.field("doc_count").to_numpy().astype(np.int64)
            pay = sa.field("payload").to_pylist()
            block_row = np.repeat(np.arange(len(row_terms)), lens)
            # rows of one term are contiguous within a file (written
            # sorted by term), but be general: mask per distinct term
            # (vectorized — a Python comparison per row costs ~0.1 ms
            # per Arrow table once head terms span 100s of rows)
            row_terms_arr = np.asarray(row_terms, dtype=object)
            for t in set(row_terms):
                rmask = row_terms_arr == t
                bmask = rmask[block_row]
                if not bmask.any():
                    continue
                d = out.setdefault(
                    t, {"bmt": [], "bmn": [], "dc": [], "pay": []}
                )
                d["bmt"].append(bmt[bmask])
                d["bmn"].append(bmn[bmask])
                d["dc"].append(dc[bmask])
                idxs = np.flatnonzero(bmask)
                d["pay"].extend(pay[i] for i in idxs)
        for t, d in out.items():
            d["bmt"] = np.concatenate(d["bmt"])
            d["bmn"] = np.concatenate(d["bmn"])
            d["dc"] = np.concatenate(d["dc"])
        return out

    def posting_flat_decoded(self, terms: list[str]) -> dict:
        """term -> fully-decoded flat postings + block metadata:
        ``{"bmt","bmn","dc": per-block int64 arrays, "ids","tfs",
        "fns": per-posting arrays, "off": block start offsets}`` —
        decode happens once per term and lives in the LRU (see
        __init__); scoring is then pure numpy with optional block
        masks."""
        self._check_stamp()
        _MISS = object()
        with self._lock:
            got = {t: self._post_cache.get(t, _MISS) for t in terms}
        missing = [t for t, v in got.items() if v is _MISS]
        if missing:
            # decode OUTSIDE the lock (parquet IO + block decode are
            # the expensive part; concurrent misses on the same term
            # duplicate work but stay correct — entries are immutable)
            flat = self.posting_blocks_flat(missing)
            fresh: dict[str, dict | None] = {}
            for t, d in flat.items():
                ids, tfs, fns, _cnt = decompress_blocks(d["pay"])
                tfs = tfs.astype(np.int64)
                fns = fns.astype(np.int64)
                fresh[t] = {
                    "bmt": d["bmt"], "bmn": d["bmn"], "dc": d["dc"],
                    "ids": ids, "tfs": tfs, "fns": fns,
                    "off": np.concatenate(([0], np.cumsum(d["dc"]))),
                }
            for t in missing:
                fresh.setdefault(t, None)  # negative entry
            with self._lock:
                for t, entry in fresh.items():
                    if t not in self._post_cache:
                        self._post_cache[t] = entry
                        if entry is not None:
                            self._post_cache_size += len(entry["ids"])
                # simple budget: drop entries not used by this query
                # when over cap (terms are Zipf — the working set
                # re-warms in a handful of queries)
                if self._post_cache_size > self._post_cache_cap:
                    keep = {t: self._post_cache[t] for t in terms
                            if self._post_cache.get(t) is not None}
                    self._post_cache = dict(keep)
                    self._post_cache_size = sum(
                        len(v["ids"]) for v in keep.values()
                    )
            got.update(fresh)
        return {
            t: v for t, v in got.items()
            if v is not None and v is not _MISS
        }

    def dead_ids(self) -> frozenset | None:
        self._check_stamp()
        dead = getattr(self, "_dead", None)
        if dead is None:
            if not self.index.has_deletes():
                dead = frozenset()
            else:
                import pyarrow.parquet as pq

                path = os.path.join(self.index.index_dir, "deletes")
                dead = frozenset(
                    pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
                )
            self._dead = dead
        return dead or None


def topk_serve(index, query: str, k: int = 10, _serving: ServingIndex | None = None):
    """Interactive top-k: list[(rank, doc_id, score)] in milliseconds.

    Identical results to ``topk_bmw`` — same query tokenization, same
    IDF arithmetic, same f32-pruning/f64-emitting kernels, same
    (score DESC, doc_id ASC) tie-break. Returns plain rows (the
    serving shape); wrap with ``spark.createDataFrame(rows, "rank int,
    doc_id bigint, score double")`` when a DataFrame is needed.
    """
    sv = _serving or ServingIndex(index)
    qtf = tokenize_query(query, index.config)
    if not qtf:
        return []
    dfs = sv.term_dfs(list(qtf))
    n = index.num_docs
    weights: dict[str, tuple[float, int]] = {}
    for term, qf in qtf.items():
        df = dfs.get(term, 0)
        if df:
            weights[term] = (math.log1p((n - df + 0.5) / (df + 0.5)), qf)
    if not weights:
        return []
    k1, b, avgdl = index.k1, index.b, index.avgdl
    dead = sv.dead_ids()
    flat = sv.posting_flat_decoded(list(weights))
    if not flat:
        return []
    # local two-phase floor (skipped under pending deletes: the dead
    # set makes the partial-sum bound unsafe, exactly like the
    # distributed path's bootstrap)
    floor = -1.0 if dead else _flat_floor(flat, weights, int(k), k1, b, avgdl)
    rows = _score_flat(
        flat, weights, int(k), k1, b, avgdl, dead=dead, floor=floor
    )
    rows.sort(key=lambda r: (-r[2], r[0]))
    return [
        (rank, doc_id, s64)
        for rank, (doc_id, _s32, s64) in enumerate(rows[: int(k)], start=1)
    ]


def _term_uppers(flat: dict, weights: dict, k1, b, avgdl) -> dict:
    """Per-term float32 block upper bounds from the flat metadata."""
    uppers = {}
    for t, d in flat.items():
        idf, qf = weights[t]
        dl = FIELDNORM_DECODE_TABLE[d["bmn"]]
        uppers[t] = (
            bm25_term_score32(d["bmt"], dl, np.float32(1.0), avgdl, k1, b)
            * np.float32(idf * qf)
        )
    return uppers


def _score_flat(
    flat: dict, weights: dict, k: int, k1, b, avgdl,
    dead=None, floor: float = -1.0,
) -> list[tuple[int, float, float]]:
    """Block-max accumulate over flattened block arrays — the serving
    twin of bmw._score_accumulate (same SAFE skip: drop block i of
    term t when upper_i + sum of other terms' max scores < floor;
    reference bmw.c:1526-1571 algebra), with all block metadata
    handled in single numpy passes instead of per-(term,run)-row
    Python. Emitted scores are exact f64 totals; tie-break
    (score DESC, doc_id ASC)."""
    from pg_textsearch_spark.operators.bmw import _term_score64

    uppers = _term_uppers(flat, weights, k1, b, avgdl)
    term_max = {t: float(u.max()) for t, u in uppers.items()}
    sum_max = sum(term_max.values())
    ids_parts, s64_parts = [], []
    for t, d in flat.items():
        idf, qf = weights[t]
        u = uppers[t]
        ids_t, tfs_t, fns_t = d["ids"], d["tfs"], d["fns"]
        if floor > 0:
            others = np.float32(sum_max - term_max[t])
            keep = u + others >= np.float32(floor)
            if not keep.all():
                # element mask from the per-block keep mask
                emask = np.repeat(keep, d["dc"])
                ids_t, tfs_t, fns_t = (
                    ids_t[emask], tfs_t[emask], fns_t[emask]
                )
        if not len(ids_t):
            continue
        dl = FIELDNORM_DECODE_TABLE[fns_t]
        ids_parts.append(ids_t)
        s64_parts.append(_term_score64(tfs_t, dl, idf, qf, avgdl, k1, b))
    if not ids_parts:
        return []
    ids = np.concatenate(ids_parts)
    s64 = np.concatenate(s64_parts)
    if dead:
        alive = ~np.isin(ids, np.fromiter(dead, dtype=np.int64))
        ids, s64 = ids[alive], s64[alive]
        if not len(ids):
            return []
    uids, inv = np.unique(ids, return_inverse=True)
    totals = np.bincount(inv, weights=s64)
    kk = min(int(k), len(uids))
    order = np.lexsort((uids, -totals))[:kk]
    return [
        (int(uids[i]), float(np.float32(totals[i])), float(totals[i]))
        for i in order
    ]


def _flat_floor(flat: dict, weights: dict, k: int, k1, b, avgdl) -> float:
    """Bootstrap floor from the flat block arrays: decode the highest-
    upper blocks until they cover ``k * n_terms`` postings, take the
    k-th best per-doc f32 partial sum, shave by the f32 guard. Partial
    sums over any block subset are lower bounds on true totals (scores
    are non-negative), so the floor is always safe."""
    uppers = _term_uppers(flat, weights, k1, b, avgdl)
    terms = list(flat)
    all_u = np.concatenate([uppers[t] for t in terms])
    if not len(all_u):
        return -1.0
    all_dc = np.concatenate([flat[t]["dc"] for t in terms])
    tcode = np.concatenate(
        [np.full(len(uppers[t]), i) for i, t in enumerate(terms)]
    )
    starts = np.concatenate(([0], np.cumsum([len(uppers[t]) for t in terms])))
    order = np.argsort(-all_u)
    covered = np.cumsum(all_dc[order])
    needed = k * len(terms)
    cut = int(np.searchsorted(covered, needed)) + 1
    pick = order[:cut]
    ids_parts, s_parts = [], []
    for gi in pick:
        ti = int(tcode[gi])
        t = terms[ti]
        idf, qf = weights[t]
        d = flat[t]
        bi = int(gi - starts[ti])
        s_, e_ = int(d["off"][bi]), int(d["off"][bi + 1])
        dl = FIELDNORM_DECODE_TABLE[d["fns"][s_:e_]]
        ids_parts.append(d["ids"][s_:e_])
        s_parts.append(
            (
                bm25_term_score32(
                    d["tfs"][s_:e_], dl, np.float32(1.0), avgdl, k1, b
                )
                * np.float32(idf * qf)
            ).astype(np.float64)
        )
    ids = np.concatenate(ids_parts)
    s = np.concatenate(s_parts)
    uids, inv = np.unique(ids, return_inverse=True)
    if len(uids) < k:
        return -1.0
    partials = np.bincount(inv, weights=s)
    kth = float(np.partition(partials, len(partials) - k)[len(partials) - k])
    return float(np.float32(kth) * (1.0 - 4e-6)) if kth > 0 else -1.0
#: above this many total postings (sum of query-term dfs) the pruned
#: volume no longer belongs in one process — dispatch to the cluster
SERVE_MAX_POSTINGS = 2_000_000


def _pool_worker(index_dir: str, req_q, res_q) -> None:
    """ServePool worker loop: Spark-free handle, sticky shard. One
    ``None`` request shuts the worker down."""
    li = LocalIndex(index_dir)
    sv = ServingIndex(li)
    while True:
        item = req_q.get()
        if item is None:
            return
        qid, query, k = item
        t0 = time.perf_counter()
        try:
            rows = topk_serve(li, query, k, _serving=sv)
            res_q.put((qid, rows, None, time.perf_counter() - t0))
        except Exception as exc:  # surface, never wedge the pool
            res_q.put((qid, None, repr(exc), time.perf_counter() - t0))


class ServePool:
    """Sticky-sharded serving pool: N Spark-free worker processes over
    one on-disk index, queries routed by head term (``route_query``)
    so each worker's decoded-postings cache owns a disjoint slice of
    the head-term working set.

    This is the serving-tier shape the reference's concurrent TPS
    table implies — its backends scan local segment files; here the
    workers scan shared storage, so the pool scales horizontally by
    adding hosts. The router process holds only a dictionary-df cache
    (ServingIndex term_dfs) — routing never touches postings.

    Results are identical to ``topk_serve`` (same handle type, same
    kernels). Use as a context manager::

        with ServePool(index_dir, n_workers=8) as pool:
            rows = pool.search("hello world", k=10)
            results = pool.search_many(["q1 text", "q2 text"])
    """

    #: result-queue poll interval: how often a waiting dispatcher checks
    #: that the workers owning its pending queries are still alive
    POLL_S = 0.5

    def __init__(self, index_dir: str, n_workers: int = 8):
        import multiprocessing as mp

        self.index_dir = index_dir
        self.n_workers = int(n_workers)
        self._local = LocalIndex(index_dir)
        self._router = ServingIndex(self._local)
        ctx = mp.get_context("spawn")
        self._res_q = ctx.Queue()
        self._req_qs = [ctx.Queue() for _ in range(self.n_workers)]
        self._procs = [
            ctx.Process(
                target=_pool_worker,
                args=(index_dir, self._req_qs[w], self._res_q),
                daemon=True,
            )
            for w in range(self.n_workers)
        ]
        for p in self._procs:
            p.start()
        self._next_qid = 0
        #: in-flight requests per worker — the load signal for
        #: two-choice routing (dispatch increments, drain decrements)
        self._outstanding = [0] * self.n_workers
        self._qid_worker: dict[int, int] = {}
        #: one dispatcher at a time: all workers answer into the ONE
        #: shared _res_q, so two concurrent search_many calls would
        #: drain each other's qids (A discards B's results as "stale"
        #: and B blocks forever). The lock turns that wedge into
        #: serialization — concurrent callers queue, results stay
        #: correct. High-QPS multi-client use should batch queries
        #: into search_many (that IS the tier's throughput shape)
        #: rather than fan out threads over one pool.
        import threading as _threading

        self._dispatch_lock = _threading.Lock()

    def route(self, query: str) -> int:
        """Two-choice sticky routing: the less-loaded of the query's
        top-2 head-term buckets (primary on ties — cache affinity).
        Skew under a head-heavy mix is bounded without losing
        stickiness: both candidates are deterministic per term."""
        p, s = route_query_choices(
            self._local, query, self.n_workers, _serving=self._router
        )
        if s != p and self._outstanding[s] < self._outstanding[p]:
            return s
        return p

    def search(self, query: str, k: int = 10):
        """Blocking single query -> list[(rank, doc_id, score)]."""
        return self.search_many([query], k)[0]

    def search_many(self, queries: list[str], k: int = 10) -> list:
        """Dispatch a batch across the sticky shards, gather results
        in input order. Per-worker execution is serial (one process,
        one cache); across workers it is parallel.

        Thread-safe via ``_dispatch_lock``: only one dispatcher drains
        the shared result queue at a time (see the lock's comment);
        concurrent callers serialize instead of stealing each other's
        results."""
        with self._dispatch_lock:
            return self._search_many_locked(queries, k)

    def _search_many_locked(self, queries: list[str], k: int) -> list:
        pending = {}
        shard_counts = [0] * self.n_workers
        for i, q in enumerate(queries):
            qid = self._next_qid
            self._next_qid += 1
            w = self.route(q)
            shard_counts[w] += 1
            pending[qid] = i
            # pool-level qid->worker map so the load counter is
            # decremented even when a result is drained as "stale"
            # by a LATER batch (caller abandoned this one mid-drain)
            self._qid_worker[qid] = w
            self._outstanding[w] += 1
            self._req_qs[w].put((qid, q, int(k)))
        #: per-worker dispatch counts of the batch just sent —
        #: observability for the skew bound (bench records max_shard)
        self.last_shard_counts = shard_counts
        out: list = [None] * len(queries)
        lats: list[float] = [0.0] * len(queries)
        # drain EVERY outstanding qid before raising: workers always
        # answer (a failing query posts an error tuple), so stopping at
        # the first error would leave this batch's remaining results
        # queued in _res_q and wedge the NEXT search_many with stale
        # qids. Foreign qids (from a batch a previous caller abandoned
        # mid-drain, e.g. on KeyboardInterrupt) are discarded.
        first_err = None
        while pending:
            try:
                qid, rows, err, lat = self._res_q.get(
                    timeout=self.POLL_S
                )
            except queue.Empty:
                # a worker that died (OOM kill, segfault) never answers
                # its qids: fail loudly instead of blocking forever
                self._raise_if_dead(
                    {self._qid_worker.get(q) for q in pending}
                )
                continue
            w = self._qid_worker.pop(qid, None)
            if w is not None:
                self._outstanding[w] -= 1
            idx = pending.pop(qid, None)
            if idx is None:
                continue  # stale result from an abandoned batch
            lats[idx] = lat
            if err is not None:
                if first_err is None:
                    first_err = err
            else:
                out[idx] = rows
        #: per-query worker-side service seconds of the batch just
        #: drained (queueing excluded) — tail-latency observability
        self.last_latencies = lats
        if first_err is not None:
            raise RuntimeError(f"ServePool worker failed: {first_err}")
        return out

    def _raise_if_dead(self, workers) -> None:
        for w in sorted(x for x in workers if x is not None):
            p = self._procs[w]
            if not p.is_alive():
                raise RuntimeError(
                    f"ServePool worker {w} (pid {p.pid}) died with exit "
                    f"code {p.exitcode}; its queries will never answer"
                )

    def close(self) -> None:
        for q in self._req_qs:
            q.put(None)
        for p in self._procs:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()

    def __enter__(self) -> "ServePool":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def route_query(index, query: str, n_workers: int,
                _serving: ServingIndex | None = None) -> int:
    """Sticky shard routing for a serving pool: queries whose most
    expensive (highest-df) term matches land on the same worker, so
    each worker's decoded-postings LRU holds a disjoint slice of the
    head-term working set instead of every worker re-decoding every
    head term (the contention mode BASELINE.md measured at ~100 ms per
    query under 16 unsticky workers). Routing hashes the head TERM
    (``term_bucket`` — the same deterministic hash every process
    agrees on), so a router needs only a dictionary df lookup (cached
    in its ServingIndex), never postings. Tail terms ride along with
    whatever head term their query carries; a query with no indexed
    term goes to worker 0 (it returns empty immediately anyway)."""
    sv = _serving or ServingIndex(index)
    qtf = tokenize_query(query, index.config)
    if not qtf:
        return 0
    dfs = sv.term_dfs(list(qtf))
    if not dfs:
        return 0
    head = max(dfs.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return term_bucket(head, n_workers)


def route_query_choices(index, query: str, n_workers: int,
                        _serving: ServingIndex | None = None
                        ) -> tuple[int, int]:
    """Two-choice variant of ``route_query``: the buckets of the top-2
    distinct head terms by df (primary first; both equal for
    single-term queries). Both candidates are term-deterministic, so a
    term's postings land in at most TWO workers' caches — a pool that
    picks the less-loaded candidate bounds routing skew (classic
    power-of-two-choices) while keeping cache affinity. A head-heavy
    query mix (everyone querying the same Zipf-head term) routed by
    ``route_query`` alone sends ~every query to one worker; with two
    choices the load spreads across that term's two candidate buckets
    and the OTHER query terms' buckets."""
    sv = _serving or ServingIndex(index)
    qtf = tokenize_query(query, index.config)
    if not qtf:
        return 0, 0
    dfs = sv.term_dfs(list(qtf))
    if not dfs:
        return 0, 0
    ranked = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))
    primary = term_bucket(ranked[0][0], n_workers)
    if len(ranked) == 1:
        return primary, primary
    return primary, term_bucket(ranked[1][0], n_workers)


def local_topk_df(spark, rows):
    """Lift driver-side (rank, doc_id, score) rows into a DataFrame as
    a pure-JVM VALUES local relation. ``createDataFrame`` from driver
    rows is RDD-backed, so every action on it pays a Python-worker
    stage (~0.3 s measured for ONE row, warm) — a parsed VALUES
    literal plan collects in ~0.03 s. Float literals use repr's
    shortest round-trip decimal, which the SQL parser reads back to
    the identical f64."""
    # materialize first: a generator argument would survive the
    # finiteness loop but arrive drained at the VALUES render below
    rows = list(rows)
    if not rows:
        return spark.sql(
            "SELECT CAST(NULL AS INT) rank, CAST(NULL AS BIGINT) doc_id,"
            " CAST(NULL AS DOUBLE) score WHERE 1=0"
        )
    # repr of a non-finite float is the bare token inf/nan, which the
    # SQL parser reads as an (unresolvable) identifier — fail with the
    # actual problem instead. Unreachable for BM25 scores (finite by
    # construction), but this helper is a shared utility now.
    import math as _math

    for r, d, s in rows:
        if not _math.isfinite(float(s)):
            raise ValueError(
                f"local_topk_df: non-finite score {s!r} for doc {d} "
                f"cannot be rendered as a SQL double literal"
            )
    vals = ", ".join(
        f"({int(r)}, {int(d)}L, CAST({float(s)!r} AS DOUBLE))"
        for r, d, s in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(rank, doc_id, score)")


def topk_auto(index, query: str, k: int = 10,
              max_postings: int = SERVE_MAX_POSTINGS,
              _serving: ServingIndex | None = None):
    """Dispatch: serve driver-side when the dictionary-known pruned
    volume is bounded, else run the distributed BMW plan. Returns a
    Spark DataFrame either way (serving rows are lifted via
    local_topk_df — k rows, JVM-local, near-free to act on)."""
    from pg_textsearch_spark.operators.bmw import topk_bmw

    sv = _serving or ServingIndex(index)
    qtf = tokenize_query(query, index.config)
    dfs = sv.term_dfs(list(qtf)) if qtf else {}
    if sum(dfs.values()) <= max_postings:
        rows = topk_serve(index, query, k, _serving=sv)
        return local_topk_df(index.spark, rows)
    return topk_bmw(index, query, k)
