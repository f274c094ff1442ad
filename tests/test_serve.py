"""Driver-side serving path (operators/serve.py): result parity with
the distributed BMW/exhaustive paths, df/delete correctness, and the
latency contract (no Spark job in the hot path)."""

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
from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive

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


def test_serve_term_dfs_matches_index(idx):
    sv = ServingIndex(idx)
    terms = ["join", "window", "stream", "nosuchterm"]
    assert sv.term_dfs(terms) == idx.term_dfs(terms)


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


def test_topk_auto_dispatch(idx):
    small = topk_auto(idx, "window", k=5)
    rows = small.collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    # forcing the threshold to 0 routes through the distributed path
    big = topk_auto(idx, "window", k=5, max_postings=0)
    assert [
        (r["rank"], r["doc_id"], round(r["score"], 9)) for r in big.collect()
    ] == [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows]


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


def test_serve_pool_survives_worker_error(idx):
    """Advisor r4: an error mid-batch must drain the batch's remaining
    results (and discard stale ones) so the pool stays usable."""
    from pg_textsearch_spark.operators.serve import ServePool

    with ServePool(idx.index_dir, n_workers=2) as pool:
        good = pool.search_many(["alpha beta", "beta"], k=5)
        # forge a worker failure for the NEXT batch's first qid: the
        # real result for that qid then arrives as a stale duplicate
        # and must be discarded, while the other two queries' results
        # are drained before the raise
        pool._res_q.put((pool._next_qid, None, "forged failure", 0.0))
        with pytest.raises(RuntimeError, match="forged failure"):
            pool.search_many(["alpha beta", "beta", "alpha"], k=5)
        # the pool is NOT wedged: a fresh batch still answers correctly
        again = pool.search_many(["alpha beta", "beta"], k=5)
    assert again == good


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
    vocab = ["join", "merge", "table", "window", "batch", "stream",
             "filter", "sort", "query", "vector", "spark", "hash"]
    dfs = sv.term_dfs(vocab)
    head = max(dfs, key=lambda t: (dfs[t], t))
    tails = [t for t in vocab if t != head]
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
