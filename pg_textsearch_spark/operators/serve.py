"""Low-latency serving path: driver-side top-k over the same index.

The distributed paths (operators/topk.py, operators/bmw.py) pay
Spark's per-job floor (~0.25 s in local mode: scheduling + pruned
parquet scan stages) on EVERY interactive query — fine for batch and
concurrent serving, ~50x the reference's warm 5 ms single-query p50.
This module is the interactive answer: the SAME on-disk index and the
same scoring kernel (``kernel.score_topk``), executed in the serving
process — pyarrow bucket-dir + row-group pruned reads decoded by the
Spark paths' decoder (``kernel.decode_rows``), and an LRU of scored
postings (the shared_buffers-resident-segment analog). Each entry holds
a term's doc ids and its impacts (``kernel.impacts``: BM25 per posting
with query frequency 1), computed from one snapshot's N, avgdl and df,
so a repeated query term skips the parquet read, the decode and the
per-posting formula; a query only scales by its query frequencies and
accumulates (the reference caches IDF per query, query.c:52-158).
Results are identical to ``topk_bmw`` (same kernel, same tie-break;
oracle-gated).

Where each reader gets index state: a handle (``LocalIndex``, or its
Spark subclass ``BM25Index``) holds one ``local_commit.Snapshot``, and
everything a query reads — config, N, avgdl, dfs, dead ids, the
segment files — comes from the snapshot it takes at its start. A
commit through a handle swaps that handle's snapshot; any other handle
sees the commit after its ``refresh()``. The LRU belongs to one
snapshot and empties when a query brings another.

Scale boundary: the serving process reads the QUERY TERMS' posting
rows only — work is O(sum of the query terms' pruned postings),
independent of corpus size, but a stopword-grade term on a
10^11-doc corpus is GBs of postings and belongs on the cluster.
``topk_auto`` is the one place that chooses: serve locally when the
(dictionary-known) posting volume is at most ``SERVE_MAX_POSTINGS``,
else run the distributed plan (``bmw.topk_bmw``). This mirrors the
reference's own architecture — its queries ARE single-process scans
over local segment files (src/segment/scan.c); here that role is
played by the driver against shared storage, while Spark remains the
build/maintenance/batch engine.

Requires a local (or locally-mounted) index directory; on object
storage, serve from a host that mounts it or stay on the cluster path.
"""

from __future__ import annotations

import threading
import time

from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.tokenizer import tokenize_query
from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.codec import term_bucket
from pg_textsearch_spark.operators.kernel import decode_rows, impacts, score_topk


def _snap_attr(name: str):
    return property(lambda self: getattr(self.snapshot, name),
                    doc=f"``snapshot.{name}``")


class LocalIndex:
    """Spark-free index handle for serving processes: everything it
    reads (manifest, config, corpus stats, dfs, dead ids, segment files)
    comes from ``snapshot``, one committed manifest
    (``local_commit.Snapshot``), until ``refresh()`` swaps it — a serving
    tier (one process per core, shared storage) can ``fork``/spawn
    workers holding one of these without a JVM or a SparkSession
    anywhere in the process. The reference's serving architecture is
    exactly this shape: each backend scans local segment files
    (src/segment/scan.c:59-178); Spark stays the
    build/maintenance/batch engine.
    """

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.snapshot = local_commit.Snapshot.read(index_dir)

    def refresh(self) -> None:
        """Re-read ``manifest.json`` and swap ``snapshot`` onto it. A
        query that has already taken the old snapshot keeps it to the
        end; the next one reads the new commit."""
        self.snapshot = local_commit.Snapshot.read(self.index_dir)

    manifest = _snap_attr("manifest")
    config = _snap_attr("config")
    k1 = _snap_attr("k1")
    b = _snap_attr("b")
    n_buckets = _snap_attr("n_buckets")
    num_docs = _snap_attr("num_docs")
    total_tokens = _snap_attr("total_tokens")
    avgdl = _snap_attr("avgdl")

    def has_deletes(self) -> bool:
        return self.snapshot.has_deletes


class ServingIndex:
    """Driver-side reader over a handle's files (a ``LocalIndex`` or a
    ``BM25Index``): pyarrow row-group pruning by term, and an LRU of
    scored postings that belongs to one snapshot of the handle."""

    def __init__(
        self,
        index: LocalIndex,
        cache_postings: int = 20_000_000,
    ):
        self.index = index
        #: scored-postings LRU: term -> ``{"ids", "s"}``, the term's doc
        #: ids and impacts under snapshot ``_post_snap``. The serving
        #: analog of the reference's shared_buffers-resident segment
        #: pages — repeated/overlapping query terms skip the parquet
        #: read, the block decode and the per-posting score. Budgeted by
        #: TOTAL POSTINGS (16 B each: int64 id + float64 impact), emptied
        #: when a query brings another snapshot. 0 disables.
        self._post_cache_cap = int(cache_postings)
        self._post_cache: dict[str, dict] = {}
        self._post_cache_size = 0
        self._post_snap = None
        #: guards the LRU — a ServingIndex is shared across serving
        #: threads (``topk_auto`` keeps one per handle); cache entries
        #: themselves are immutable once inserted, so readers only need
        #: the lock for the dict lookups, never for array access
        self._lock = threading.Lock()

    def term_dfs(self, terms: list[str], snap=None) -> dict[str, int]:
        """Unified df per term from ``snap``'s df memo (default: the
        handle's current snapshot)."""
        return (snap or self.index.snapshot).term_dfs(terms)

    def posting_blocks_flat(self, terms: list[str], snap=None):
        """The terms' posting rows across every segment of ``snap``
        (default: the handle's current snapshot) as one single-chunk
        Arrow table (``term``, ``blocks``) in bucket-file order, or None
        when no file holds a bucket of theirs. One file (the usual miss:
        one term, one segment) is read inline; several run in a small
        thread pool (pyarrow releases the GIL), overlapping row-group IO
        across buckets/segments."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = snap or self.index.snapshot
        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(term_bucket(t, snap.n_buckets), []).append(t)
        jobs = [
            (f, ts)
            for b, ts in by_bucket.items()
            for f in snap.bucket_files("postings", b)
        ]
        if not jobs:
            return None

        def read(job):
            f, ts = job
            return pq.read_table(
                f, columns=["term", "blocks"], filters=[("term", "in", ts)]
            )

        if len(jobs) == 1:
            return read(jobs[0]).combine_chunks()
        with ThreadPoolExecutor(min(8, len(jobs))) as pool:
            tabs = list(pool.map(read, jobs))
        return pa.concat_tables(tabs, promote_options="default").combine_chunks()

    def posting_flat_decoded(self, terms: list[str], snap=None) -> dict:
        """term -> ``{"ids": int64 doc ids, "s": float64 impacts}`` for
        the terms of ``snap`` (default: the handle's current snapshot)
        that have live postings. A miss reads the rows
        (``posting_blocks_flat``), decodes them in one call
        (``kernel.decode_rows``) and scores each term once
        (``kernel.impacts``) from ``snap``'s df, N and avgdl; the entry
        lives in the LRU (see __init__) while queries bring ``snap``."""
        snap = snap or self.index.snapshot
        _MISS = object()
        with self._lock:
            if self._post_snap is not snap:
                self._post_snap, self._post_cache = snap, {}
                self._post_cache_size = 0
            got = {t: self._post_cache.get(t, _MISS) for t in terms}
        missing = [t for t, v in got.items() if v is _MISS]
        if missing:
            # read, decode and score OUTSIDE the lock (the expensive
            # part; concurrent misses on the same term duplicate work
            # but stay correct — entries are immutable)
            dfs = snap.term_dfs(missing)
            rows = self.posting_blocks_flat(missing, snap)
            decoded = decode_rows(rows) if rows is not None else {}
            fresh: dict[str, dict | None] = {
                t: {
                    # several terms' ids are views of one decode: copy,
                    # so an evicted term's share is freed
                    "ids": e["ids"].copy() if len(decoded) > 1 else e["ids"],
                    "s": impacts(
                        e["tfs"], e["fns"], bm25.idf(snap.num_docs, dfs[t]),
                        snap.avgdl, snap.k1, snap.b,
                    ),
                }
                for t, e in decoded.items() if t in dfs
            }
            for t in missing:
                fresh.setdefault(t, None)  # negative entry
            with self._lock:
                # impacts carry snap's N, avgdl and df: they go in only
                # while the LRU still belongs to snap
                if self._post_snap is snap:
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


def topk_serve(index, query: str, k: int = 10, _serving: ServingIndex | None = None):
    """Interactive top-k: list[(rank, doc_id, score)] in milliseconds.

    Identical results to ``topk_bmw`` — same query tokenization, same
    IDF arithmetic, the same scoring kernel (``kernel.score_topk``)
    over the serving cache's impacts, same (score DESC, doc_id ASC)
    tie-break. The query takes ``index.snapshot`` once and answers from
    it alone, whatever commits land meanwhile. Returns plain rows (the
    serving shape); wrap with ``spark.createDataFrame(rows, "rank int,
    doc_id bigint, score double")`` when a DataFrame is needed.
    """
    sv = _serving or ServingIndex(index)
    snap = index.snapshot
    qtf = tokenize_query(query, snap.config)
    dfs = sv.term_dfs(list(qtf), snap) if qtf else {}
    return _serve_rows(sv, snap, qtf, dfs, k)


def _serve_rows(sv: ServingIndex, snap, qtf: dict, dfs: dict, k: int):
    """``topk_serve`` past its df lookup: ``qtf`` the query's term
    frequencies, ``dfs`` its terms' nonzero dfs under ``snap``."""
    terms = [t for t in qtf if t in dfs]
    if not terms:
        return []
    dead = snap.dead_ids()
    flat = sv.posting_flat_decoded(terms, snap)
    if not flat:
        return []
    ids, scores = score_topk(
        [(qtf[t], e["ids"], e["s"]) for t, e in flat.items()], int(k), dead=dead
    )
    return [
        (rank, doc_id, s)
        for rank, (doc_id, s) in enumerate(
            zip(ids.tolist(), scores.tolist()), start=1
        )
    ]


#: above this many total postings (sum of query-term dfs) the pruned
#: volume no longer belongs in one process — dispatch to the cluster.
#: Scale note: a serving query's memory is its decoded postings plus
#: the kernel's accumulator, at most 64 B per posting (about 8 MB on a
#: 1M-doc index; see kernel.score_topk). Read by ``topk_auto`` at call
#: time
SERVE_MAX_POSTINGS = 2_000_000

#: guards building the ServingIndex ``topk_auto`` keeps on each
#: BM25Index handle (``index._serving``). On the handle, not in a dict
#: keyed by id(index): CPython id reuse could answer from the wrong
#: corpus, and such a dict would pin every handle (and its decode LRU)
#: in memory. The ServingIndex empties its LRU on a new snapshot
_SERVING_LOCK = threading.Lock()


def _pool_worker(index_dir: str, conn) -> None:
    """ServePool worker loop: Spark-free handle, sticky shard. A request,
    its share of a batch ``[(i, query, k), ...]``, gets one reply
    ``[(i, rows, err, seconds), ...]``; a failing query is an error
    entry. ``None`` or a closed pipe shuts the worker down."""
    li = LocalIndex(index_dir)
    sv = ServingIndex(li)
    while True:
        try:
            share = conn.recv()
        except EOFError:
            return
        if share is None:
            return
        out = []
        for i, query, k in share:
            t0 = time.perf_counter()
            try:
                rows, err = topk_serve(li, query, k, _serving=sv), None
            except Exception as exc:  # surface, never wedge the pool
                rows, err = None, repr(exc)
            out.append((i, rows, err, time.perf_counter() - t0))
        conn.send(out)


class ServePool:
    """Sticky-sharded serving pool: N Spark-free worker processes over
    one on-disk index, queries routed by head term (``route``) so each
    worker's scored-postings cache owns its own slice of the head-term
    working set (unsticky workers all re-decode every head term:
    BASELINE.md measured ~100 ms per query under 16 of them).

    This is the serving-tier shape the reference's concurrent TPS
    table implies — its backends scan local segment files; here the
    workers scan shared storage, so the pool scales horizontally by
    adding hosts. The router process holds only a dictionary-df cache
    (its LocalIndex's snapshot) — routing never touches postings.

    Each worker has its own pipe: ``search_many`` sends it its share of
    the batch as one message and reads back one reply. Results are
    identical to ``topk_serve`` (same handle type, same kernel). Use as
    a context manager::

        with ServePool(index_dir, n_workers=8) as pool:
            rows = pool.search("hello world", k=10)
            results = pool.search_many(["q1 text", "q2 text"])
    """

    def __init__(self, index_dir: str, n_workers: int = 8):
        import multiprocessing as mp

        self.index_dir = index_dir
        self.n_workers = int(n_workers)
        self._local = LocalIndex(index_dir)
        ctx = mp.get_context("spawn")
        self._conns, self._procs = [], []
        for _ in range(self.n_workers):
            mine, theirs = ctx.Pipe()
            p = ctx.Process(
                target=_pool_worker, args=(index_dir, theirs), daemon=True
            )
            p.start()
            # only the worker holds its end: its death reads as EOF here
            theirs.close()
            self._conns.append(mine)
            self._procs.append(p)
        #: queries routed to each worker and not yet answered — the load
        #: signal for two-choice routing (a reply zeroes it)
        self._outstanding = [0] * self.n_workers
        #: workers owing a reply; after a batch abandoned mid-drain (e.g.
        #: on KeyboardInterrupt) the next one discards those replies
        #: before it sends, so a worker never has two requests out and
        #: no send blocks behind an unread reply
        self._owed: set[int] = set()
        #: one dispatcher at a time: a second concurrent search_many
        #: would read the first one's replies off the same pipes.
        #: Concurrent callers serialize; high-QPS multi-client use
        #: should batch queries into search_many (that IS the tier's
        #: throughput shape) rather than fan out threads over one pool.
        self._dispatch_lock = threading.Lock()

    def route(self, query: str) -> int:
        """Sticky two-choice routing: the buckets (``term_bucket``, the
        hash every process agrees on) of the query's top-2 distinct
        terms by df are its candidate workers, and the less-loaded one
        wins (the primary on ties — cache affinity). So a term's
        postings land in at most two workers' caches, each worker's LRU
        holds its own slice of the head-term working set, and a
        head-heavy mix spreads over two candidates instead of piling on
        one (power of two choices). The router reads only dictionary
        dfs (``self._local``'s snapshot memo), never postings; a query
        with no indexed term goes to worker 0 (it returns empty at once
        anyway)."""
        snap = self._local.snapshot
        qtf = tokenize_query(query, snap.config)
        dfs = snap.term_dfs(list(qtf)) if qtf else {}
        if not dfs:
            return 0
        ranked = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))
        p = term_bucket(ranked[0][0], self.n_workers)
        if len(ranked) == 1:
            return p
        s = term_bucket(ranked[1][0], self.n_workers)
        if s != p and self._outstanding[s] < self._outstanding[p]:
            return s
        return p

    def search(self, query: str, k: int = 10):
        """Blocking single query -> list[(rank, doc_id, score)]."""
        return self.search_many([query], k)[0]

    def search_many(self, queries: list[str], k: int = 10) -> list:
        """Route a batch across the sticky shards, send each worker its
        share as one message, gather the replies in input order.
        Per-worker execution is serial (one process, one cache); across
        workers it is parallel. Thread-safe via ``_dispatch_lock``."""
        with self._dispatch_lock:
            return self._search_many_locked(queries, k)

    def _search_many_locked(self, queries: list[str], k: int) -> list:
        from multiprocessing.connection import wait

        while self._owed:
            self._recv(self._owed.pop())  # an abandoned batch's reply
        self._outstanding = [0] * self.n_workers
        shares: list[list] = [[] for _ in range(self.n_workers)]
        for i, q in enumerate(queries):
            w = self.route(q)
            self._outstanding[w] += 1
            shares[w].append((i, q, int(k)))
        #: per-worker query counts of the batch just sent —
        #: observability for the skew bound (bench records max_shard)
        self.last_shard_counts = list(self._outstanding)
        for w, share in enumerate(shares):
            if share:
                try:
                    self._conns[w].send(share)
                except OSError:
                    raise self._dead(w) from None
                self._owed.add(w)
        out: list = [None] * len(queries)
        lats: list[float] = [0.0] * len(queries)
        # receive EVERY reply before raising a query's error, so a
        # failed batch leaves no worker owing one
        first_err = None
        by_conn = {self._conns[w]: w for w in self._owed}
        while self._owed:
            for c in wait([self._conns[w] for w in self._owed]):
                w = by_conn[c]
                self._owed.discard(w)
                for i, rows, err, lat in self._recv(w):
                    out[i], lats[i] = rows, lat
                    if err is not None and first_err is None:
                        first_err = err
        #: per-query worker-side service seconds of the batch just
        #: drained (queueing excluded) — tail-latency observability
        self.last_latencies = lats
        if first_err is not None:
            raise RuntimeError(f"ServePool worker failed: {first_err}")
        return out

    def _recv(self, w: int) -> list:
        """Worker ``w``'s reply; a dead worker raises at once."""
        try:
            reply = self._conns[w].recv()
        except (EOFError, OSError):
            raise self._dead(w) from None
        self._outstanding[w] = 0
        return reply

    def _dead(self, w: int) -> RuntimeError:
        p = self._procs[w]
        p.join(timeout=1)
        return RuntimeError(
            f"ServePool worker {w} (pid {p.pid}) died with exit "
            f"code {p.exitcode}; its queries will never answer"
        )

    def close(self) -> None:
        for c in self._conns:
            try:
                c.send(None)
            except OSError:
                pass  # already dead
        for p in self._procs:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()
        for c in self._conns:
            c.close()

    def __enter__(self) -> "ServePool":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


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


def topk_auto(index, query: str, k: int = 10):
    """The one local-or-cluster rule: serve in this process
    (``topk_serve`` over the handle's ServingIndex, reused across
    calls) when the query terms' dfs sum to at most
    ``SERVE_MAX_POSTINGS``, else run the distributed plan
    (``bmw.topk_bmw``). Each answers from one snapshot; the cluster
    plan takes its own, so a commit landing between the choice and the
    plan changes only which path ran, never the answer's consistency.
    Returns a Spark DataFrame either way (served rows are lifted via
    local_topk_df — k rows, JVM-local, near-free to act on)."""
    from pg_textsearch_spark.operators.bmw import topk_bmw

    with _SERVING_LOCK:
        if index._serving is None:
            index._serving = ServingIndex(index)
        sv = index._serving
    snap = index.snapshot
    qtf = tokenize_query(query, snap.config)
    dfs = sv.term_dfs(list(qtf), snap) if qtf else {}
    if sum(dfs.values()) <= SERVE_MAX_POSTINGS:
        return local_topk_df(index.spark, _serve_rows(sv, snap, qtf, dfs, k))
    return topk_bmw(index, query, k)
