"""The one scoring kernel (operators/kernel.py) against
``topk_exhaustive``: the kernel called directly on the serving cache's
flat arrays and on collected posting rows, on the edge cases of its
accumulator and its top-k cut; then every read path over ids spread
across runs, and over sparse caller-chosen doc ids."""

import math
import shutil

import numpy as np
import pyarrow as pa
import pytest

from pg_textsearch_spark.index.builder import _postings_arrow_schema, build_index
from pg_textsearch_spark.index.codec import compress_block
from pg_textsearch_spark.index.deletes import delete_docs
from pg_textsearch_spark.operators import kernel
from pg_textsearch_spark.operators.bmw import topk_bmw
from pg_textsearch_spark.operators.kernel import decode_rows, score_topk
from pg_textsearch_spark.operators.serve import ServingIndex, topk_serve
from pg_textsearch_spark.operators.topk import (
    BM25Index,
    topk_batch,
    topk_exhaustive,
)
from pg_textsearch_spark.streaming.incremental import insert_batch


def _build(spark, rows, path):
    shutil.rmtree(path, ignore_errors=True)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(spark, docs, path, config="ascii", n_buckets=4)
    return BM25Index(spark, path)


def _exhaustive(idx, query, k):
    return [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk_exhaustive(idx, query, k).collect()
    ]


def _rows(ids, scores):
    return [
        (rank, d, s) for rank, (d, s) in
        enumerate(zip(ids.tolist(), scores.tolist()), start=1)
    ]


def _kernel(idx, query, k):
    """score_topk over the serving cache's impacts and over the query's
    collected posting rows (``decode_rows`` + ``impacts``)."""
    weights = idx.query_weights(query)
    sv = ServingIndex(idx)
    flat = sv.posting_flat_decoded(list(weights))
    dead = idx.snapshot.dead_ids()
    rows = idx.pruned_postings(list(weights)).select("term", "blocks")
    decoded = {
        t: {"ids": e["ids"], "s": kernel.impacts(
            e["tfs"], e["fns"], weights[t][0], idx.avgdl, idx.k1, idx.b
        )}
        for t, e in decode_rows(rows.toArrow()).items()
    }
    return [
        _rows(*score_topk(
            [(weights[t][1], e["ids"], e["s"]) for t, e in entries.items()],
            k, dead=dead,
        ))
        for entries in (flat, decoded)
    ]


def _same(got, want, ctx):
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (
        ctx, got, want,
    )
    for (_, _, a), (_, _, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-12), (ctx, a, b)


def _same_up_to_ulp_ties(got, want, ctx):
    """As ``_same``, but docs whose scores agree to 1e-12 may swap
    ranks: for 3+ terms f64 summation order (which differs between
    Spark's aggregate and the kernel) can split an exact tie by an
    ulp."""
    assert len(got) == len(want), (ctx, got, want)
    for (_, _, a), (_, _, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-12), (ctx, a, b)

    def groups(rows):
        out, last = [], None
        for _, d, s in rows:
            if last is None or not math.isclose(s, last, rel_tol=1e-12):
                out.append(set())
            out[-1].add(d)
            last = s
        return out

    g, w = groups(got), groups(want)
    # the last group may be cut by k on either side differently
    assert g[:-1] == w[:-1], (ctx, got, want)


def _check(idx, query, k):
    want = _exhaustive(idx, query, k)
    for got in _kernel(idx, query, k):
        _same(got, want, query)
    return want


def test_doc_id_zero_ranks_first(spark, tmp_path):
    rows = [(0, "alpha alpha alpha")] + [
        (i, f"alpha filler{i} more words here") for i in range(1, 40)
    ]
    idx = _build(spark, rows, str(tmp_path / "zero"))
    want = _check(idx, "alpha", 5)
    assert want[0][1] == 0
    _check(idx, "alpha filler3", 5)


def test_ids_span_run_gap_and_insert(spark, tmp_path):
    # runs are 8192-id ranges: ids 3..60 and 20000..20060 leave empty
    # runs between them, and the insert adds ids beyond the first
    # segment's range
    path = str(tmp_path / "gap")
    rows = [(i, f"gamma w{i % 7} w{i % 3}") for i in range(3, 60)]
    rows += [(20000 + i, f"gamma delta w{i % 5}") for i in range(60)]
    idx = _build(spark, rows, path)
    more = spark.createDataFrame(
        [(50000 + i, f"delta gamma gamma w{i % 4}") for i in range(30)],
        "doc_id long, text string",
    )
    insert_batch(spark, path, more, doc_id_col="doc_id", compact=False,
                 config="ascii", n_buckets=4)
    idx = BM25Index(spark, path)
    assert len(idx.manifest["segments"]) == 2
    runs = set()
    for q, k in (("gamma delta", 10), ("gamma w1", 25), ("delta", 100)):
        runs |= {d >> 13 for _, d, _ in _check(idx, q, k)}
    assert runs == {0, 2, 6}, runs


def test_fewer_matches_than_k(spark, tmp_path):
    rows = [(i, "common words") for i in range(30)]
    rows += [(100, "rare common"), (7000, "rare rare"), (9000, "rare")]
    idx = _build(spark, rows, str(tmp_path / "few"))
    want = _check(idx, "rare", 10)
    assert len(want) == 3
    want = _check(idx, "rare nosuchterm", 10)
    assert len(want) == 3


def test_f64_ties_break_by_doc_id(spark, tmp_path):
    # twelve identical docs tie exactly in f64; two shorter docs score
    # higher. k=6 cuts inside the tie: the lowest doc_ids must win
    rows = [(i, "tie word padding") for i in range(50, 62)]
    rows += [(70, "tie"), (3, "tie word")]
    rows += [(i, f"other{i}") for i in range(200, 230)]
    idx = _build(spark, rows, str(tmp_path / "ties"))
    want = _check(idx, "tie", 6)
    assert [d for _, d, _ in want] == [70, 3, 50, 51, 52, 53]


def test_f32_equal_f64_distinct_straddling_k(spark, tmp_path):
    # tf = 10000+i: equal f32 scores, distinct f64 scores, so only the
    # f64 totals order the boundary (highest tf = highest doc_id wins)
    n = 20
    rows = [(i, ("tie " * (10000 + i)) + "anchor") for i in range(n)]
    idx = _build(spark, rows, str(tmp_path / "f32"))
    for q in ("tie", "tie anchor"):
        want = _check(idx, q, 5)
        assert [d for _, d, _ in want] == [n - 1 - i for i in range(5)]


def test_dead_doc_that_would_rank_first(spark, tmp_path):
    rows = [(5, "omega omega omega"), (6, "omega psi")]
    rows += [(i, f"omega filler{i} filler") for i in range(7, 60)]
    path = str(tmp_path / "dead")
    idx = _build(spark, rows, path)
    assert _check(idx, "omega", 3)[0][1] == 5
    delete_docs(idx, [5])
    idx = BM25Index(spark, path)
    for q in ("omega", "omega psi"):
        want = _check(idx, q, 3)
        assert 5 not in {d for _, d, _ in want}
        served = topk_serve(idx, q, 3)
        _same(served, want, q)


def test_every_read_path_equals_exhaustive(spark, tmp_path):
    # docs spread over several runs: serve, bmw and batch must each
    # equal exhaustive
    import random

    rng = random.Random(5)
    vocab = [f"v{i}" for i in range(40)]
    rows = [
        (i * 37, " ".join(rng.choices(vocab[: 5 + i % 35], k=rng.randrange(3, 40))))
        for i in range(500)
    ]
    idx = _build(spark, rows, str(tmp_path / "every"))
    queries = {"a": "v0", "b": "v0 v1", "c": "v2 v9 v17", "d": "v1 v1 v4"}
    batch = topk_batch(idx, queries, k=10).collect()
    for qid, q in queries.items():
        want = _exhaustive(idx, q, 10)
        _same_up_to_ulp_ties(topk_serve(idx, q, 10), want, ("serve", q))
        got = [(r["rank"], r["doc_id"], r["score"])
               for r in topk_bmw(idx, q, 10).collect()]
        _same_up_to_ulp_ties(got, want, ("bmw", q))
        got = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in batch if r["query_id"] == qid
        )
        _same_up_to_ulp_ties(got, want, ("batch", q))


def _random_blocks(rng, n, span):
    """One term's posting row as the index stores it: encoded
    128-posting blocks with their block metadata."""
    ids = np.sort(rng.choice(span, n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, n).astype(np.uint32)
    fns = rng.integers(0, 60, n).astype(np.uint8)
    return [
        {
            "last_doc_id": int(ids[i:i + 128][-1]),
            "doc_count": len(ids[i:i + 128]),
            "block_max_tf": int(tfs[i:i + 128].max()),
            "block_max_norm": int(fns[i:i + 128].min()),
            "payload": compress_block(ids[i:i + 128], tfs[i:i + 128], fns[i:i + 128]),
        }
        for i in range(0, n, 128)
    ]


def _table(rows):
    """(term, blocks) rows as the Arrow table ``decode_rows`` reads,
    blocks typed as the postings table stores them."""
    return pa.table({
        "term": pa.array([t for t, _ in rows], pa.string()),
        "blocks": pa.array(
            [bl for _, bl in rows],
            _postings_arrow_schema().field("blocks").type,
        ),
    })


def _bm25_expr(tfs, fns, idf, qf, avgdl, k1, b):
    """The exhaustive path's per-posting expression, written out in its
    operation order (functions/bm25.py bm25_score_expr)."""
    tf = tfs.astype(np.float64)
    dl = kernel.FIELDNORM_DECODE_TABLE[fns].astype(np.float64)
    return idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)) * qf


@pytest.mark.parametrize("seed", range(5))
def test_accumulate_is_bit_identical_to_sorted_group_by(seed):
    # the reference: group the same per-posting f64 scores by a sorted
    # unique + bincount(inverse), drop dead docs, rank (score DESC,
    # doc_id ASC). bincount adds in input order in both, so totals
    # must be EQUAL, not just close — over dense and sparse id spans
    # (both accumulator keys)
    rng = np.random.default_rng(seed)
    k1, b, avgdl = 1.2, 0.75, 17.0
    for _ in range(40):
        span = int(rng.choice([rng.integers(50, 9000), 1 << 40]))
        terms = [f"t{i}" for i in range(int(rng.integers(1, 5)))]
        rows = _table([
            (t, _random_blocks(rng, int(rng.integers(1, min(span, 600))), span))
            for t in terms
        ])
        weights = {
            t: (float(rng.uniform(0.1, 4.0)), int(rng.integers(1, 3)))
            for t in terms
        }
        full = decode_rows(rows)
        ids = np.concatenate([full[t]["ids"] for t in terms])
        dead = np.unique(rng.choice(ids, int(rng.integers(0, 30))))
        dead = dead.astype(np.int64) if len(dead) else None
        k = int(rng.integers(1, 40))
        s64 = np.concatenate([
            _bm25_expr(e["tfs"], e["fns"], *weights[t], avgdl, k1, b)
            for t, e in full.items()
        ])
        if dead is not None:
            alive = ~np.isin(ids, dead)
            ids, s64 = ids[alive], s64[alive]
        uids, inv = np.unique(ids, return_inverse=True)
        totals = np.bincount(inv, weights=s64)
        order = np.lexsort((uids, -totals))[:k]
        want_ids, want_s = uids[order], totals[order]
        got_ids, got_s = score_topk(
            [
                (weights[t][1], e["ids"], kernel.impacts(
                    e["tfs"], e["fns"], weights[t][0], avgdl, k1, b
                ))
                for t, e in full.items()
            ],
            k, dead=dead,
        )
        assert np.array_equal(got_ids, want_ids)
        assert np.array_equal(got_s, want_s)


def test_sparse_doc_ids_every_path(spark, tmp_path):
    # caller-chosen ids far apart (up to 2^40): every path must answer
    # in memory that grows with the postings, not the id range, and
    # equal exhaustive — before and after deleting the top doc
    from pg_textsearch_spark.operators.serve import ServePool, topk_auto

    big = [0, 5, 1 << 20, 1 << 33, (1 << 33) + 1, 1 << 40, (1 << 40) + 8191]
    rows = [(d, f"sparse sparse w{i % 3}" + " pad" * i) for i, d in enumerate(big)]
    rows += [((1 << 36) + 97 * i, f"pad w{i % 3} sparse") for i in range(40)]
    path = str(tmp_path / "sparse")
    idx = _build(spark, rows, path)
    for deleted in (False, True):
        if deleted:
            delete_docs(idx, [0])
            idx = BM25Index(spark, path)
        queries = {"a": "sparse", "b": "sparse w1", "c": "w2 pad"}
        batch = topk_batch(idx, queries, k=5).collect()
        with ServePool(path, n_workers=2) as pool:
            pooled = pool.search_many(list(queries.values()), k=5)
        for (qid, q), got_pool in zip(queries.items(), pooled):
            want = _check(idx, q, 5)
            if deleted:
                assert 0 not in {d for _, d, _ in want}
            elif q == "sparse":
                assert want[0][1] == 0
            _same(topk_serve(idx, q, 5), want, ("serve", q))
            got = [tuple(r) for r in topk_auto(idx, q, 5).collect()]
            _same(got, want, ("auto", q))
            _same(got_pool, want, ("pool", q))
            got = [(r["rank"], r["doc_id"], r["score"])
                   for r in topk_bmw(idx, q, 5).collect()]
            _same(got, want, ("bmw", q))
            got = sorted(
                (r["rank"], r["doc_id"], r["score"])
                for r in batch if r["query_id"] == qid
            )
            _same(got, want, ("batch", q))


def _lexsort_topk(postings, k, dead):
    """Reference top k: sorted-unique group-by, zero and dead totals
    dropped, then (score DESC, doc_id ASC) by a full lexsort."""
    ids = np.concatenate([i for _, i, _ in postings])
    s64 = np.concatenate([s * qf for qf, _, s in postings])
    uids, inv = np.unique(ids, return_inverse=True)
    totals = np.bincount(inv, weights=s64)
    keep = totals != 0
    if dead is not None:
        keep &= ~np.isin(uids, dead)
    uids, totals = uids[keep], totals[keep]
    order = np.lexsort((uids, -totals))[:k]
    return uids[order], totals[order]


@pytest.mark.parametrize("k", [1, 3, 10])
def test_topk_cut_matches_lexsort(k):
    # the cut's block-max bound at and around its fallback size
    # (n = CUT_BLOCK * k), over dense accumulators of n slots
    rng = np.random.default_rng(k)
    width = kernel.CUT_BLOCK * k
    for n in (width - 1, width, width + 1, 3 * width + 5):
        ids = np.arange(n, dtype=np.int64)
        tied = np.ones(n)
        # k-1 clear winners, then the k-th value tied on both sides of
        # block edges (so the cut lands inside the tie)
        tied[rng.choice(n, k - 1, replace=False)] = 9.0
        edges = [e for e in (63, 64, 127, 128, n - 1) if e < n]
        tied[[e for e in edges if tied[e] != 9.0]] = 4.0
        few = np.zeros(n)
        few[rng.choice(n, max(k - 1, 1), replace=False)] = 2.0
        cases = [
            ([(1, ids, tied)], None),
            ([(1, ids, np.full(n, 2.5))], None),  # all equal
            ([(1, ids, rng.integers(1, 4, n).astype(float))], None),
            ([(1, ids[few > 0], few[few > 0]),  # fewer nonzero than k,
              (1, ids[[0, n - 1]], np.ones(2))], None),  # gaps between
            ([(2, ids, rng.uniform(0.5, 3.0, n)),
              (1, ids[::3], rng.uniform(0.5, 3.0, len(ids[::3])))],
             np.sort(rng.choice(n, n // 4, replace=False))),  # dead docs
            ([(1, ids, tied)], np.flatnonzero(tied == 9.0)),  # dead winners
            ([(1, ids, tied)], ids[: n - max(k - 1, 1)]),  # < k live docs
        ]
        for postings, dead in cases:
            dead = None if dead is None else dead.astype(np.int64)
            got = score_topk(postings, k, dead=dead)
            want = _lexsort_topk(postings, k, dead)
            assert np.array_equal(got[0], want[0]), (n, got, want)
            assert np.array_equal(got[1], want[1]), (n, got, want)


@pytest.mark.parametrize("n_terms", [1, 3])
@pytest.mark.parametrize("span", [2_000, 1 << 40])  # dense key, sorted key
@pytest.mark.parametrize("qf", [1, 2])
def test_score_topk_leaves_inputs_unchanged(n_terms, span, qf):
    # the serving cache hands score_topk its shared entries: no key,
    # scaling or dead-doc step may write into a caller's array
    rng = np.random.default_rng(n_terms * 7 + qf)
    postings = [
        (qf, np.sort(rng.choice(span, 300, replace=False)).astype(np.int64) + 5,
         rng.uniform(0.1, 3.0, 300))
        for _ in range(n_terms)
    ]
    dead = np.sort(postings[0][1][:4])
    before = [(i.copy(), s.copy()) for _, i, s in postings], dead.copy()
    want = _lexsort_topk(postings, 10, dead)
    got = score_topk(postings, 10, dead=dead)
    assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])
    for (_, i, s), (i0, s0) in zip(postings, before[0]):
        assert np.array_equal(i, i0) and np.array_equal(s, s0)
    assert np.array_equal(dead, before[1])
