"""Driver-side serving path (operators/serve.py): result parity with
the distributed BMW/exhaustive paths, df/delete correctness, and the
latency contract (no Spark job in the hot path)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.bmw import topk_bmw
from pg_textsearch_spark.operators.serve import (
    ServingIndex,
    topk_auto,
    topk_serve,
)
from pg_textsearch_spark.operators.topk import (
    BM25Index,
    decode_postings_flat,
    topk_batch,
    topk_exhaustive,
)

QUERIES = [
    "spark query table",
    "window",
    "join join merge",
    "stream batch filter nosuchterm",
    "nosuchterm",
]


def _same_ranking(a, b, ctx):
    """(rank, doc_id) exactly equal; scores equal to within f64
    summation-order noise (paths sum identical per-posting f64 term
    scores in different per-doc term orders)."""
    import math

    assert [(r, d) for r, d, _ in a] == [(r, d) for r, d, _ in b], (
        ctx, a, b,
    )
    for (_, _, sa), (_, _, sb) in zip(a, b):
        assert math.isclose(sa, sb, rel_tol=1e-12), (ctx, sa, sb)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path_factory.mktemp("serve") / "idx")
    build_index(spark, docs, d, config="ascii", n_buckets=8)
    return BM25Index(spark, d)


def test_serve_matches_distributed_paths(idx):
    sv = ServingIndex(idx)
    for q in QUERIES:
        want = [
            (r["rank"], r["doc_id"], r["score"])
            for r in topk_exhaustive(idx, q, k=10).collect()
        ]
        got = topk_serve(idx, q, k=10, _serving=sv)
        _same_ranking(got, want, q)
        bmw = [
            (r["rank"], r["doc_id"], r["score"])
            for r in topk_bmw(idx, q, k=10).collect()
        ]
        _same_ranking(got, bmw, q)


def _live_dfs(index, terms):
    """Oracle: distinct live doc ids per term, decoded from the
    postings themselves (not from the dictionary or dead_dfs)."""
    flat = decode_postings_flat(index.pruned_postings(terms))
    if index.has_deletes():
        flat = flat.join(index.deleted_ids(), "doc_id", "left_anti")
    rows = flat.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return {r["term"]: r["df"] for r in rows.collect()}


def test_term_dfs_match_live_postings(idx, spark, tmp_path):
    """Both handles' df lookup equals the live posting count per term:
    fresh, after a delete that empties one term, and after vacuum."""
    import shutil

    from pg_textsearch_spark.index.deletes import delete_docs, vacuum

    d = str(tmp_path / "dfidx")
    shutil.copytree(idx.index_dir, d)
    all_dfs = _live_dfs(idx, [t for t, in idx.postings()
                              .select("term").distinct().collect()])
    rare = min(all_dfs, key=lambda t: (all_dfs[t], t))
    terms = ["join", "window", "stream", "spark", rare, "nosuchterm"]

    def check(expect_rare):
        bi = BM25Index(spark, d)
        want = _live_dfs(bi, terms)
        assert (rare in want) == expect_rare
        assert bi.term_dfs(terms) == want
        assert ServingIndex(bi).term_dfs(terms) == want
        return bi

    bi = check(True)
    flat = decode_postings_flat(bi.pruned_postings([rare, "window"]))
    victims = sorted(
        {r["doc_id"] for r in flat.filter(F.col("term") == rare).collect()}
        | {r["doc_id"] for r in flat.filter(F.col("term") == "window")
           .orderBy("doc_id").limit(3).collect()}
    )
    delete_docs(bi, victims)
    bi = check(False)
    vacuum(bi)
    assert not check(False).has_deletes()


def test_df_lookup_and_batch_spark_jobs(idx, spark):
    """An uncached df lookup runs no Spark job; a topk_batch sweep of
    uncached terms runs 2: the scan-and-score job's two stages."""
    sc = spark.sparkContext

    def jobs(group, fn, *args, **kwargs):
        sc.setJobGroup(group, group)
        try:
            fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    terms = ["join", "window", "stream", "nosuchterm"]
    cold = BM25Index(spark, idx.index_dir)
    assert jobs("df-lookup-jobs", cold.term_dfs, terms) == 0
    cold = BM25Index(spark, idx.index_dir)
    sweep = dict(enumerate(QUERIES))
    assert jobs("batch-sweep-jobs", topk_batch, cold, sweep, k=10) == 2


def test_serve_under_deletes(idx, spark, tmp_path):
    import shutil

    d = str(tmp_path / "delidx")
    shutil.copytree(idx.index_dir, d)
    di = BM25Index(spark, d)
    from pg_textsearch_spark.index.deletes import delete_docs

    top = topk_serve(di, "window", k=3)
    victims = [r[1] for r in top[:2]]
    delete_docs(di, victims)
    sv = ServingIndex(di)
    got = topk_serve(di, "window", k=10, _serving=sv)
    assert not ({r[1] for r in got} & set(victims))
    want = [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk_exhaustive(di, "window", k=10).collect()
    ]
    _same_ranking(got, want, "deletes")


def test_serve_pool_matches_exhaustive_under_deletes(idx, spark, tmp_path):
    """ServePool workers over an index with pending deletes: every
    answer equals topk_exhaustive, and no deleted doc is returned —
    including the docs that ranked first before the delete."""
    import shutil

    from pg_textsearch_spark.index.deletes import delete_docs
    from pg_textsearch_spark.operators.serve import ServePool

    d = str(tmp_path / "pooldel")
    shutil.copytree(idx.index_dir, d)
    di = BM25Index(spark, d)
    queries = ["window", "spark query table", "join join merge",
               "stream batch filter sort", "nosuchterm"]
    victims = sorted({
        r[1] for q in queries[:3] for r in topk_serve(di, q, k=2)
    })
    delete_docs(di, victims)
    di = BM25Index(spark, d)
    with ServePool(d, n_workers=2) as pool:
        got = pool.search_many(queries, k=10)
    for q, rows in zip(queries, got):
        want = [
            (r["rank"], r["doc_id"], r["score"])
            for r in topk_exhaustive(di, q, k=10).collect()
        ]
        _same_ranking(rows, want, q)
        assert not ({r[1] for r in rows} & set(victims)), q


def test_decoded_cache_invalidates_on_delete(idx, spark, tmp_path):
    """The decoded-postings cache must drop on a stamp change: the
    SAME ServingIndex queried across a delete reflects it."""
    import shutil

    from pg_textsearch_spark.index.deletes import delete_docs

    d = str(tmp_path / "cacheinv")
    shutil.copytree(idx.index_dir, d)
    di = BM25Index(spark, d)
    sv = ServingIndex(di)
    before = topk_serve(di, "window", k=5, _serving=sv)
    assert before
    victim = before[0][1]
    delete_docs(di, [victim])
    after = topk_serve(di, "window", k=5, _serving=sv)
    assert victim not in {r[1] for r in after}


def test_impacts_rescored_after_delete(idx, spark, tmp_path):
    """The serving cache holds impacts, which carry N, avgdl and df: one
    ServingIndex and one ``topk_auto`` handle reused across a delete
    must answer with the new stamp's scores, ids AND scores equal to
    ``topk_exhaustive`` (not only without the victim)."""
    import shutil

    from pg_textsearch_spark.index.deletes import delete_docs

    d = str(tmp_path / "restamp")
    shutil.copytree(idx.index_dir, d)
    di = BM25Index(spark, d)
    sv = ServingIndex(di)
    queries = ["window", "window window join", "spark query table"]
    for q in queries:
        topk_serve(di, q, k=10, _serving=sv)
        topk_auto(di, q, k=10).collect()
    victim = topk_serve(di, "window", k=1, _serving=sv)[0][1]
    delete_docs(di, [victim])
    for q in queries:
        want = [
            (r["rank"], r["doc_id"], r["score"])
            for r in topk_exhaustive(di, q, k=10).collect()
        ]
        assert victim not in {r[1] for r in want}
        _same_ranking(topk_serve(di, q, k=10, _serving=sv), want, ("serve", q))
        got = [tuple(r) for r in topk_auto(di, q, k=10).collect()]
        _same_ranking(got, want, ("auto", q))


def test_impacts_scored_once_per_stamp(idx, monkeypatch):
    """A query over terms already in the serving cache scores no
    posting: the impact function runs 0 times."""
    from pg_textsearch_spark.operators import serve

    calls = []
    real = serve.impacts

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(serve, "impacts", counted)
    sv = ServingIndex(idx)
    first = topk_serve(idx, "window join", k=10, _serving=sv)
    assert first and len(calls) == 2
    calls.clear()
    assert topk_serve(idx, "join window", k=10, _serving=sv) == first
    topk_serve(idx, "window window join", k=10, _serving=sv)
    assert calls == []


def test_serve_query_frequency_parity(idx):
    """A repeated query term (qf = 2) scales the cached qf = 1 impacts:
    serve, bmw and batch all equal exhaustive."""
    sv = ServingIndex(idx)
    q = "window window join"
    want = [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk_exhaustive(idx, q, k=10).collect()
    ]
    assert want
    _same_ranking(topk_serve(idx, q, k=10, _serving=sv), want, "serve")
    bmw = [tuple(r) for r in topk_bmw(idx, q, k=10).collect()]
    _same_ranking(bmw, want, "bmw")
    batch = [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk_batch(idx, {"q": q}, k=10).collect()
    ]
    _same_ranking(sorted(batch), want, "batch")
    single = topk_serve(idx, "window join", k=10, _serving=sv)
    assert single != topk_serve(idx, q, k=10, _serving=sv)


def test_serve_is_interactive_fast(idx):
    sv = ServingIndex(idx)
    topk_serve(idx, "spark query table", k=10, _serving=sv)  # warm caches
    t0 = time.perf_counter()
    for _ in range(5):
        topk_serve(idx, "spark query table", k=10, _serving=sv)
    per_q = (time.perf_counter() - t0) / 5
    # the whole point: well under the ~0.25 s Spark job floor
    assert per_q < 0.05, per_q


def test_local_index_serving_matches(idx):
    """LocalIndex (Spark-free handle) serves identical results to the
    BM25Index-backed serving path — same manifest stats, same kernels."""
    from pg_textsearch_spark.operators.serve import LocalIndex

    li = LocalIndex(idx.index_dir)
    assert (li.num_docs, li.total_tokens, li.config, li.n_buckets) == (
        idx.num_docs, idx.total_tokens, idx.config, idx.n_buckets,
    )
    assert li.avgdl == idx.avgdl
    sv_li = ServingIndex(li)
    sv = ServingIndex(idx)
    for q in QUERIES:
        assert topk_serve(li, q, k=10, _serving=sv_li) == topk_serve(
            idx, q, k=10, _serving=sv
        ), q


def test_local_index_serving_needs_no_jvm(idx):
    """A fresh process can serve from the index directory without ever
    starting a JVM/SparkSession (the serving-tier contract)."""
    import json
    import subprocess
    import sys

    code = f"""
import json
from pg_textsearch_spark.operators.serve import LocalIndex, ServingIndex, topk_serve
li = LocalIndex({idx.index_dir!r})
rows = topk_serve(li, "spark query table", k=5, _serving=ServingIndex(li))
import pyspark
assert pyspark.SparkContext._active_spark_context is None, "a JVM was started"
print(json.dumps(rows))
"""
    import os

    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [tuple(r) for r in json.loads(out.stdout.strip().splitlines()[-1])]
    sv = ServingIndex(idx)
    assert rows == topk_serve(idx, "spark query table", k=5, _serving=sv)


def test_serve_multi_segment(idx, spark, tmp_path):
    """Serving reads across delta segments (incremental inserts, no
    compaction) identically to the distributed exhaustive path."""
    import shutil

    from pg_textsearch_spark.streaming.incremental import insert_batch

    d = str(tmp_path / "multiseg")
    shutil.copytree(idx.index_dir, d)
    batch = spark.createDataFrame(
        [(10_000_001, "window join stream extra page one"),
         (10_000_002, "window window window heavy page")],
        "doc_id long, text string",
    )
    insert_batch(spark, d, batch, doc_id_col="doc_id", compact=False)
    di = BM25Index(spark, d)
    assert len(di.manifest["segments"]) >= 2
    sv = ServingIndex(di)
    for q in ("window", "window join", "stream batch filter"):
        want = [
            (r["rank"], r["doc_id"], r["score"])
            for r in topk_exhaustive(di, q, k=10).collect()
        ]
        _same_ranking(topk_serve(di, q, k=10, _serving=sv), want, q)


def test_topk_auto_dispatch(idx, spark, monkeypatch):
    """Below the cut ``topk_auto`` serves in process: no Spark job, and
    a second call on the same handle reads no postings file (the
    handle keeps its ServingIndex). Above it (the cut monkeypatched to
    -1) it runs the distributed plan, with the same answer."""
    import pyarrow.parquet as pq

    from pg_textsearch_spark.operators import serve

    sc = spark.sparkContext
    handle = BM25Index(spark, idx.index_dir)
    group = "topk-auto-serve-jobs"
    sc.setJobGroup(group, group)
    try:
        small = topk_auto(handle, "window join", k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    rows = [(r["rank"], r["doc_id"], r["score"]) for r in small.collect()]
    assert [r[0] for r in rows] == [1, 2, 3, 4, 5]

    read = pq.read_table
    postings_reads = []

    def counting_read(source, *args, **kwargs):
        if f"{os.sep}postings{os.sep}" in str(source):
            postings_reads.append(source)
        return read(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting_read)
    again = [tuple(r) for r in topk_auto(handle, "window join", k=5).collect()]
    assert postings_reads == []
    assert again == rows

    monkeypatch.setattr(serve, "SERVE_MAX_POSTINGS", -1)
    big = [tuple(r) for r in topk_auto(handle, "window join", k=5).collect()]
    want = [tuple(r) for r in topk_bmw(handle, "window join", k=5).collect()]
    assert big == want
    _same_ranking(big, rows, "auto above the cut")


def test_topk_auto_builds_one_serving_index_under_threads(idx, spark, monkeypatch):
    """Threads racing ``topk_auto`` on a fresh handle share ONE
    ServingIndex (built under the lock, never twice) and all get the
    same answer."""
    import sys
    import threading

    from pg_textsearch_spark.operators import serve

    built = []

    class Counted(serve.ServingIndex):
        def __init__(self, *a, **kw):
            built.append(1)
            super().__init__(*a, **kw)

    monkeypatch.setattr(serve, "ServingIndex", Counted)
    handle = BM25Index(spark, idx.index_dir)
    n = 8
    barrier = threading.Barrier(n)
    results: list = [None] * n
    errs: list = []

    def run(i):
        try:
            barrier.wait(timeout=30)
            results[i] = [tuple(r) for r in
                          topk_auto(handle, "window join", k=5).collect()]
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs[0]
    assert len(built) == 1
    assert isinstance(handle._serving, Counted)
    assert all(r == results[0] for r in results) and len(results[0]) == 5


def test_serve_pool_matches_topk_serve_and_routes_sticky(idx):
    """ServePool results == topk_serve; routing is deterministic and
    workers survive a mixed batch (incl. a no-result query)."""
    from pg_textsearch_spark.operators.serve import (
        LocalIndex,
        ServingIndex,
        ServePool,
        topk_serve,
    )

    li = LocalIndex(idx.index_dir)
    sv = ServingIndex(li)
    queries = [
        "alpha beta", "beta", "alpha", "zzz_absent_term", "alpha beta",
    ]
    with ServePool(idx.index_dir, n_workers=2) as pool:
        routes = [pool.route(q) for q in queries]
        # deterministic: same query -> same worker
        assert routes[0] == routes[4]
        got = pool.search_many(queries, k=5)
        single = pool.search("alpha beta", k=5)
    for q, rows in zip(queries, got):
        want = topk_serve(li, q, 5, _serving=sv)
        assert rows == want, q
    assert single == got[0]


POOL_VOCAB = ["join", "merge", "table", "window", "batch", "stream",
              "filter", "sort", "query", "vector", "spark", "hash"]


def test_serve_pool_survives_worker_error(idx, tmp_path):
    """Advisor r4: a query that fails in its worker must not cost the
    batch's other replies: the batch raises that failure only after
    every reply is in, and the pool stays usable."""
    import shutil
    from pathlib import Path

    from pg_textsearch_spark.index.codec import term_bucket
    from pg_textsearch_spark.operators.serve import LocalIndex, ServePool

    d = str(tmp_path / "broken")
    shutil.copytree(idx.index_dir, d)
    snap = LocalIndex(d).snapshot
    bucket = {t: term_bucket(t, snap.n_buckets) for t in POOL_VOCAB}
    bad = POOL_VOCAB[0]
    good = [t for t in POOL_VOCAB if bucket[t] != bucket[bad]][:4]
    queries = [good[0], good[1], bad, f"{good[2]} {good[3]}", good[0]]
    files = [Path(f) for f in snap.bucket_files("postings", bucket[bad])]
    saved = {f: f.read_bytes() for f in files}
    with ServePool(d, n_workers=2) as pool:
        # the router reads only dictionaries: the garbage postings file
        # fails the bad query in its worker, on the cold read
        for f in files:
            f.write_bytes(b"not a parquet file")
        try:
            with pytest.raises(RuntimeError, match="worker failed: .*Parquet"):
                pool.search_many(queries, k=5)
            assert all(s > 0 for s in pool.last_latencies), "raised early"
            assert not pool._owed
        finally:
            for f, data in saved.items():
                f.write_bytes(data)
        # the pool is NOT wedged: a fresh batch still answers correctly
        again = pool.search_many(queries, k=5)
    li = LocalIndex(d)
    assert again == [topk_serve(li, q, 5) for q in queries]


def test_serve_pool_replies_past_pipe_buffer(idx):
    """Replies far larger than an OS pipe buffer (2,000 queries of up
    to 100 rows on 2 workers, several MB each way) finish, and equal
    topk_serve: a worker blocked writing its reply never wedges the
    router."""
    import threading

    from pg_textsearch_spark.operators.serve import (
        LocalIndex,
        ServingIndex,
        ServePool,
    )

    n = len(POOL_VOCAB)
    queries = [
        f"{POOL_VOCAB[i % n]} {POOL_VOCAB[(i // n) % n]} {POOL_VOCAB[i * 7 % n]}"
        for i in range(2000)
    ]
    got: list = []
    with ServePool(idx.index_dir, n_workers=2) as pool:
        th = threading.Thread(
            target=lambda: got.append(pool.search_many(queries, k=100)),
            daemon=True,
        )
        th.start()
        th.join(timeout=120)
        assert not th.is_alive(), "search_many wedged on a full pipe"
    li = LocalIndex(idx.index_dir)
    sv = ServingIndex(li)
    assert sum(len(r) for r in got[0]) > 100_000
    assert got[0] == [topk_serve(li, q, 100, _serving=sv) for q in queries]


def test_serve_pool_abandoned_batch(idx, monkeypatch):
    """A caller that abandons a batch after its sends (here a
    KeyboardInterrupt in the wait for replies) leaves workers owing
    replies: the next batch discards them before it sends, and
    returns its own answers."""
    import multiprocessing.connection as mpc

    from pg_textsearch_spark.operators.serve import (
        LocalIndex,
        ServingIndex,
        ServePool,
    )

    first = [f"{t} {u}" for t, u in zip(POOL_VOCAB, POOL_VOCAB[1:])]
    second = [f"{t} {u}" for t, u in zip(POOL_VOCAB[::-1], POOL_VOCAB[-2::-1])]
    real_wait = mpc.wait
    calls: list = []

    def interrupted_wait(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise KeyboardInterrupt
        return real_wait(*args, **kwargs)

    with ServePool(idx.index_dir, n_workers=2) as pool:
        monkeypatch.setattr(mpc, "wait", interrupted_wait)
        with pytest.raises(KeyboardInterrupt):
            pool.search_many(first, k=5)
        assert pool._owed
        got = pool.search_many(second, k=5)
        again = pool.search_many(first, k=5)
    li = LocalIndex(idx.index_dir)
    sv = ServingIndex(li)
    assert got == [topk_serve(li, q, 5, _serving=sv) for q in second]
    assert again == [topk_serve(li, q, 5, _serving=sv) for q in first]


def test_serve_pool_two_choice_bounds_skew(idx):
    """A head-heavy mix (every query shares the Zipf-head term) must
    NOT all land on one worker: two-choice routing (less-loaded of the
    top-2 head-term buckets) bounds max-shard while results stay
    identical to topk_serve (VERDICT r4 #4)."""
    from pg_textsearch_spark.operators.serve import (
        LocalIndex,
        ServingIndex,
        ServePool,
        topk_serve,
    )

    li = LocalIndex(idx.index_dir)
    sv = ServingIndex(li)
    dfs = sv.term_dfs(POOL_VOCAB)
    head = max(dfs, key=lambda t: (dfs[t], t))
    tails = [t for t in POOL_VOCAB if t != head]
    queries = [f"{head} {tails[i % len(tails)]}" for i in range(40)]
    n_workers = 4
    with ServePool(idx.index_dir, n_workers=n_workers) as pool:
        got = pool.search_many(queries, k=5)
        counts = pool.last_shard_counts
    # every query's primary is bucket(head): single-choice routing
    # would put all 40 there; the two-choice bound is 1.5x fair share
    fair = len(queries) / n_workers
    assert max(counts) <= 1.5 * fair, counts
    assert sum(counts) == len(queries)
    for q, rows in zip(queries, got):
        assert rows == topk_serve(li, q, 5, _serving=sv), q


def test_serve_pool_concurrent_dispatchers(idx):
    """Two threads calling search_many concurrently must both get
    their own complete, correct results (round-6 verdict "wrong" #4:
    the shared result queue wedged a second dispatcher forever —
    thread A drained B's qids as stale. The dispatch lock serializes
    dispatchers instead)."""
    import threading

    from pg_textsearch_spark.operators.serve import (
        LocalIndex,
        ServingIndex,
        ServePool,
        topk_serve,
    )

    li = LocalIndex(idx.index_dir)
    sv = ServingIndex(li)
    mixes = [
        ["alpha beta", "beta", "alpha"] * 4,
        ["alpha", "beta gamma", "alpha beta"] * 4,
    ]
    results: list = [None, None]
    errs: list = []

    def run(i):
        try:
            results[i] = pool.search_many(mixes[i], k=5)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    with ServePool(idx.index_dir, n_workers=2) as pool:
        threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads), "dispatcher wedged"
    assert not errs, errs[0]
    for i, mix in enumerate(mixes):
        for q, rows in zip(mix, results[i]):
            assert rows == topk_serve(li, q, 5, _serving=sv), (i, q)


def test_serve_pool_dead_worker_raises(idx):
    """A worker that dies never answers its queries: search_many must
    raise a RuntimeError naming it within seconds, not block forever
    on the shared result queue."""
    import threading

    from pg_textsearch_spark.operators.serve import ServePool

    queries = ["alpha beta", "beta", "alpha", "gamma", "beta gamma"] * 4
    with ServePool(idx.index_dir, n_workers=2) as pool:
        pool.search_many(queries, k=5)
        victim = pool._procs[pool.route(queries[0])]
        victim.kill()
        victim.join(timeout=10)
        outcome: list = []

        def run():
            try:
                pool.search_many(queries, k=5)
                outcome.append(None)
            except RuntimeError as exc:
                outcome.append(exc)

        t0 = time.perf_counter()
        th = threading.Thread(target=run, daemon=True)
        th.start()
        th.join(timeout=20)
        assert not th.is_alive(), "search_many wedged on a dead worker"
        assert time.perf_counter() - t0 < 10
    assert outcome and isinstance(outcome[0], RuntimeError)
    assert f"pid {victim.pid}" in str(outcome[0])
