"""BMW vs exhaustive parity (reference invariant: BMW is a pure
optimization — test/sql/validation.sql, test/sql/wand.sql)."""

import shutil

import numpy as np
import pytest

from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.bmw import topk_bmw
from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive


def _build(spark, docs_rows, path, **kw):
    shutil.rmtree(path, ignore_errors=True)
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    build_index(spark, docs, path, config=kw.pop("config", "ascii"), **kw)
    return BM25Index(spark, path)


def _assert_parity(idx, query, k=10):
    exh = topk_exhaustive(idx, query, k).collect()
    # both physical plans must agree with exhaustive: the default
    # (small queries take the one-task no-exchange path on these
    # corpora) AND the run-sharded shuffle plan (forced with
    # small_query_postings=0 — the cluster-scale head-term plan)
    for sqp in (None, 0):
        bmw = topk_bmw(idx, query, k, small_query_postings=sqp).collect()
        assert len(exh) == len(bmw), (sqp, len(exh), len(bmw))
        for e, w in zip(exh, bmw):
            # BMW emits the exact f64 score (f32 only prunes); the two
            # paths differ only in per-doc summation order -> last-ulp
            assert abs(e["score"] - w["score"]) <= 1e-9, (sqp, e, w)
        # doc order must agree where scores are not tied at the boundary
        e_scores = [round(r["score"], 6) for r in exh]
        if len(set(e_scores)) == len(e_scores):
            assert [r["doc_id"] for r in exh] == [
                r["doc_id"] for r in bmw
            ], sqp


@pytest.fixture(scope="module")
def wand_fixture_index(spark, tmp_path_factory):
    # FIXTURES.md F4 (from reference test/sql/wand.sql:17-41): 206 docs
    # forcing 'beta' to span posting blocks (128-block size); doc 6 is
    # the only multi-term doc and must rank first — block skipping must
    # not lose it.
    rows = (
        [(i, f"alpha word{i}") for i in range(1, 6)]
        + [(6, "alpha beta both terms here")]
        + [(i, f"beta word{i}") for i in range(7, 207)]
    )
    path = str(tmp_path_factory.mktemp("wand") / "idx")
    return _build(spark, rows, path)


def test_wand_block_skip_keeps_multi_term_doc(wand_fixture_index):
    # doc 6 is the only doc matching both terms; block skipping must
    # not lose it (it scores below the short alpha-only docs because
    # it is longer — BM25 length normalization)
    res = topk_bmw(wand_fixture_index, "alpha beta", k=10).collect()
    assert 6 in {r["doc_id"] for r in res}
    _assert_parity(wand_fixture_index, "alpha beta", k=10)


def test_wand_large_k_low_threshold(wand_fixture_index):
    # large K keeps the threshold low long — exercises the safe-skip
    # condition (reference: bmw_skip_advance.sql analogs)
    _assert_parity(wand_fixture_index, "alpha beta", k=200)


def test_single_term_block_skip(wand_fixture_index):
    _assert_parity(wand_fixture_index, "beta", k=5)
    _assert_parity(wand_fixture_index, "alpha", k=3)


@pytest.fixture(scope="module")
def zipf_index(spark, tmp_path_factory):
    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(80)]
    rows = []
    for d in range(400):
        n = int(rng.integers(3, 60))
        # zipf-ish draw: low ids much more common
        ids = np.minimum((rng.zipf(1.3, n) - 1), len(vocab) - 1)
        rows.append((d, " ".join(vocab[i] for i in ids)))
    path = str(tmp_path_factory.mktemp("zipf") / "idx")
    return _build(spark, rows, path)


@pytest.mark.parametrize("query,k", [
    ("w0", 10),
    ("w0 w3", 10),
    ("w1 w7 w20", 10),
    ("w0 w0 w5", 7),       # repeated query term (query_freq multiplier)
    ("w2 w40 w79", 25),
    ("w0 w1 w2 w3 w4 w5", 10),
])
def test_zipf_parity(zipf_index, query, k):
    _assert_parity(zipf_index, query, k)


def test_testdata_documents_parity(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("docs") / "idx")
    shutil.rmtree(path, ignore_errors=True)
    build_index(spark, docs, path, config="ascii", n_buckets=8)
    idx = BM25Index(spark, path)
    for q in ["spark query table", "window", "join join merge",
              "stream batch filter sort"]:
        _assert_parity(idx, q, k=10)


@pytest.mark.parametrize("query,k", [
    ("w0", 10), ("w0 w3", 10), ("w1 w7 w20", 5), ("w0 w1 w2 w3", 25),
])
def test_bootstrap_parity(zipf_index, query, k):
    # force the two-phase global-threshold bootstrap on a small corpus
    # and require identical results to exhaustive
    exh = topk_exhaustive(zipf_index, query, k).collect()
    bst = topk_bmw(zipf_index, query, k, bootstrap=True).collect()
    assert len(exh) == len(bst)
    for e, w in zip(exh, bst):
        assert abs(e["score"] - w["score"]) <= 1e-3, (e, w)


def test_bootstrap_floor_groups_by_doc(spark, tmp_path_factory):
    # regression (round-1 advice): doc 0 matches BOTH query terms and
    # spans runs vs doc 8192. A floor taken over ungrouped per-(term,
    # doc) partials counts doc 0 once per term, exceeds the true 2nd
    # best document total, and WAND then prunes doc 8192 — k=2 must
    # return BOTH docs.
    path = str(tmp_path_factory.mktemp("bstrap") / "idx")
    idx = _build(
        spark,
        [(0, "alpha beta beta beta"), (8192, "beta")],
        path,
    )
    exh = topk_exhaustive(idx, "alpha beta", k=2).collect()
    bst = topk_bmw(idx, "alpha beta", k=2, bootstrap=True).collect()
    assert len(exh) == 2
    assert len(bst) == 2, bst
    assert {r["doc_id"] for r in bst} == {0, 8192}
    for e, w in zip(exh, bst):
        assert abs(e["score"] - w["score"]) <= 1e-3, (e, w)


def test_bootstrap_collect_is_bounded_by_k(spark, tmp_path_factory):
    # phase 1 must collect O(k * |terms|) scalar rows, not one row per
    # (term, run): 60 docs spaced one per run -> 60 (term, run) rows in
    # the index, but k=3 single-term bootstrap may only pull k*1 = 3.
    path = str(tmp_path_factory.mktemp("manyrun") / "idx")
    rows = [(i * 8192, f"common word{i}") for i in range(60)]
    idx = _build(spark, rows, path)
    stats = {}
    k = 3
    bst = topk_bmw(
        idx, "common", k=k, bootstrap=True, _bootstrap_stats=stats
    ).collect()
    exh = topk_exhaustive(idx, "common", k=k).collect()
    assert stats["phase1_rows"] <= k, stats
    assert stats["phase2_rows"] <= k, stats
    assert [r["doc_id"] for r in bst] == [r["doc_id"] for r in exh]


@pytest.mark.parametrize("seed", [7, 19])
def test_randomized_multisegment_delete_parity(spark, tmp_path_factory, seed):
    # randomized end-to-end fuzz: incremental multi-segment index,
    # random zipf-ish docs spanning runs, deletes applied, then every
    # scoring path (exhaustive / BMW / BMW+bootstrap) must agree
    from pg_textsearch_spark.index.deletes import delete_docs
    from pg_textsearch_spark.streaming.incremental import insert_batch

    rng = np.random.default_rng(seed)
    vocab = [f"v{i}" for i in range(50)]
    path = str(tmp_path_factory.mktemp(f"fuzz{seed}") / "idx")
    next_id = 0
    for batch in range(3):
        rows = []
        for _ in range(120):
            n = int(rng.integers(2, 25))
            ids = np.minimum(rng.zipf(1.4, n) - 1, len(vocab) - 1)
            rows.append((next_id, " ".join(vocab[i] for i in ids)))
            # leave doc_id gaps so segments span multiple runs
            next_id += int(rng.integers(1, 200))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        insert_batch(spark, path, docs, doc_id_col="doc_id",
                     compact=False, config="ascii", n_buckets=4)
    idx = BM25Index(spark, path)
    victims = [r["doc_id"] for r in
               topk_exhaustive(idx, "v0 v1", 7).collect()][:3]
    delete_docs(idx, victims)
    idx = BM25Index(spark, path)
    for q in ["v0", "v0 v1", "v1 v2 v5", "v0 v0 v3", "v2 v7 v11 v19"]:
        exh = topk_exhaustive(idx, q, 10).collect()
        for bootstrap in (False, True):
            bmw = topk_bmw(idx, q, 10, bootstrap=bootstrap).collect()
            assert [r["doc_id"] for r in exh] == [
                r["doc_id"] for r in bmw
            ], (q, bootstrap)
            for e, w in zip(exh, bmw):
                assert abs(e["score"] - w["score"]) <= 1e-9, (q, e, w)
        assert not ({r["doc_id"] for r in exh} & set(victims))


def test_f32_tied_scores_straddling_k_boundary(spark, tmp_path):
    """Adversarial tie test (round-2 verdict #7 / ADVICE): 20 docs
    whose float32 scores are IDENTICAL but whose float64 scores differ
    (tf = 10000+i: the f64 delta is ~1e-10 relative, far below one f32
    ulp) straddle the k boundary inside one run. A top-k that ranks by
    f32 keeps the lowest doc_ids (tie-break) and drops the true f64
    top-k — the f64-ranked cut must match exhaustive exactly."""
    from pg_textsearch_spark.index.builder import build_index
    from pg_textsearch_spark.operators.bmw import topk_bmw
    from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive

    n = 20  # k=5 -> boundary well inside the ties
    rows = [(i, ("tie " * (10000 + i)) + "anchor") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "ties")
    build_index(spark, docs, d, config="ascii", n_buckets=4)
    idx = BM25Index(spark, d)

    for q in ("tie", "tie anchor"):
        exh = [(r["rank"], r["doc_id"], r["score"])
               for r in topk_exhaustive(idx, q, k=5).collect()]
        bmw = [(r["rank"], r["doc_id"], r["score"])
               for r in topk_bmw(idx, q, k=5).collect()]
        assert bmw == exh, (q, bmw, exh)
        # the true winners are the HIGHEST-tf docs (largest doc_ids
        # here), exactly the rows an f32-ranked heap would evict
        assert [doc for _, doc, _ in exh] == [n - 1 - i for i in range(5)]


def test_accumulate_and_wand_kernels_agree(spark, tmp_path):
    """The block-max scoring kernel, with and without a bootstrap
    floor, must produce the same ranking as exhaustive scoring:
    identical (rank, doc_id) sequences and scores equal to within f64
    summation-order noise (the paths sum identical per-posting f64
    term scores, but in different per-doc term orders — f64 addition
    is not associative, so the last ulp of a multi-term total can
    differ)."""
    import math
    import random

    from pg_textsearch_spark.index.builder import build_index
    from pg_textsearch_spark.operators.bmw import topk_bmw
    from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randrange(3, 60))))
        for i in range(400)
    ]
    # include equal-df twin terms: the skip bound must key per TERM,
    # not per (idf, qf) weight (two terms can share a weight)
    rows += [(400 + i, "twina twinb filler") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "kern")
    build_index(spark, docs, d, config="ascii", n_buckets=4)
    idx = BM25Index(spark, d)
    def same(a, b, q):
        assert [(r, d) for r, d, _ in a] == [(r, d) for r, d, _ in b], q
        for (_, _, sa), (_, _, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-12), (q, sa, sb)

    for q in ("w1 w2", "w3 w4 w5 w6", "twina twinb", "w0 w0 w7",
              "w1 w2 w3 w4 w5 w6 w7 w8"):
        exh = [(r["rank"], r["doc_id"], r["score"])
               for r in topk_exhaustive(idx, q, k=10).collect()]
        acc = [(r["rank"], r["doc_id"], r["score"])
               for r in topk_bmw(idx, q, k=10).collect()]
        same(acc, exh, q)
        # bootstrap floor composes with the kernel too
        boot = [(r["rank"], r["doc_id"], r["score"])
                for r in topk_bmw(idx, q, k=10, bootstrap=True).collect()]
        same(boot, exh, q)


# ---------------- batched multi-query kernel ----------------

def _assert_batch_parity(idx, queries, k=10, **kw):
    """topk_batch must equal per-query topk_exhaustive: same docs and
    ranks, scores equal to last-ulp (summation order differs)."""
    import math

    from pg_textsearch_spark.operators.topk import topk_batch

    got = topk_batch(idx, queries, k=k, **kw).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, qtext in queries.items():
        exp = topk_exhaustive(idx, qtext, k).collect()
        rows = sorted(by_q.get(str(qid), []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [
            e["doc_id"] for e in exp
        ], (qid, qtext)
        for r, e in zip(rows, exp):
            assert math.isclose(
                r["score"], e["score"], rel_tol=1e-12
            ), (qid, r, e)


def test_batch_pruned_parity(zipf_index, monkeypatch):
    # mixed head/tail query set sharing terms across queries — the
    # shared-decode + per-query-floor kernel must reproduce per-query
    # exhaustive results exactly, with and without floors
    from pg_textsearch_spark.operators import kernel

    queries = {
        "q0": "w0", "q1": "w0 w3", "q2": "w1 w7 w20",
        "q3": "w0 w0 w5", "q4": "w2 w40 w79", "q5": "w0 w1 w2 w3",
        "q6": "w3 w7", "q7": "w79", "q8": "w5 w20 w40 w7",
    }
    # the default floor rule: no query here reaches the volume gate
    _assert_batch_parity(zipf_index, queries, k=3)
    # with the gate at 0 every query bootstraps a floor
    monkeypatch.setattr(kernel, "BOOTSTRAP_MIN_POSTINGS", 0)
    stats: dict = {}
    _assert_batch_parity(zipf_index, queries, k=10, _floor_stats=stats)
    # the bootstrap actually ran and its collects stayed O(k*|terms|)
    assert 0 < stats["phase1_rows"]
    assert 0 < stats["phase2_rows"] <= stats["phase1_rows"]
    # a resubmitted batch reads its floors from the memo and says so
    hit: dict = {}
    _assert_batch_parity(zipf_index, queries, k=10, _floor_stats=hit)
    assert hit == {"floor_cache_hit": True}
    # the tightest floor: k=3 skips the most blocks
    _assert_batch_parity(zipf_index, queries, k=3)
    _assert_batch_parity(zipf_index, queries, k=10, prune=False)


def test_batch_multirun_and_deletes(spark, tmp_path_factory):
    # docs spread across runs (8192-doc ranges) so the groupBy(run)
    # shard path really merges per-run candidate sets; then deletes
    # (floors auto-disabled) must still match exhaustive
    import random

    from pg_textsearch_spark.index.deletes import delete_docs

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(30)]
    rows = [
        (i * 1537, " ".join(rng.choices(vocab, k=rng.randrange(3, 30))))
        for i in range(300)
    ]
    path = str(tmp_path_factory.mktemp("batchrun") / "idx")
    idx = _build(spark, rows, path, n_buckets=4)
    queries = {
        "a": "v0 v1", "b": "v2", "c": "v0 v3 v5", "d": "v7 v7 v9",
    }
    _assert_batch_parity(idx, queries, k=10)
    delete_docs(idx, [r[0] for r in rows[::7]])
    idx = BM25Index(spark, path)
    _assert_batch_parity(idx, queries, k=10)


def test_topk_filtered_matches_filtered_exhaustive(zipf_index, spark):
    # the semi-join pushdown must equal "score everything, then apply
    # the predicate, then cut to k" — with index-wide IDF/avgdl (the
    # WHERE clause never changes corpus stats, reference semantics)
    import math

    from pg_textsearch_spark.operators.topk import topk_filtered

    allow = set(range(0, 400, 3))
    allowed = zipf_index.spark.createDataFrame(
        [(d,) for d in sorted(allow)], "doc_id long"
    )
    for q in ("w0 w3", "w1 w7 w20", "w0"):
        res = topk_filtered(zipf_index, q, allowed, k=10).collect()
        exh = topk_exhaustive(zipf_index, q, k=400).collect()
        want = [r for r in exh if r["doc_id"] in allow][:10]
        assert [r["doc_id"] for r in res] == [r["doc_id"] for r in want], q
        for r, e in zip(res, want):
            assert math.isclose(r["score"], e["score"], rel_tol=1e-12)


def test_topk_filtered_doc_key_requires_keymap(zipf_index):
    import pytest as _pytest

    from pg_textsearch_spark.operators.topk import topk_filtered

    allowed = zipf_index.spark.createDataFrame(
        [("k1",)], "doc_key string"
    )
    with _pytest.raises(ValueError, match="key_col"):
        topk_filtered(zipf_index, "w0", allowed, k=5, on="doc_key")


def test_small_query_fallback_when_driver_slots_busy(zipf_index, monkeypatch):
    """With every driver-side scoring slot held, a small query must
    return identical results via BOTH overflow paths: the in-process
    serving kernel and the distributed plan, which a store the serving
    path cannot read falls back to (``_serve_overflow`` returns None)
    — see bmw._DRIVER_SCORE_SLOTS / bmw._serve_overflow."""
    from pg_textsearch_spark.operators import bmw as bmw_mod

    query = topk_exhaustive(zipf_index, "t3 t7", 5).collect()
    fast = topk_bmw(zipf_index, "t3 t7", 5).collect()
    # exhaust the slots, then query again under each overflow mode
    held = 0
    while bmw_mod._DRIVER_SCORE_SLOTS.acquire(blocking=False):
        held += 1
    try:
        served = topk_bmw(zipf_index, "t3 t7", 5).collect()
        monkeypatch.setattr(bmw_mod, "_serve_overflow", lambda *a: None)
        spilled = topk_bmw(zipf_index, "t3 t7", 5).collect()
        monkeypatch.undo()
    finally:
        for _ in range(held):
            bmw_mod._DRIVER_SCORE_SLOTS.release()
    assert held >= 1
    for got in (served, spilled):
        assert [(r["doc_id"],) for r in got] == [(r["doc_id"],) for r in fast]
        for a, b in zip(got, query):
            assert abs(a["score"] - b["score"]) <= 1e-9

def test_serve_overflow_same_stamp_indexes_do_not_alias(
    spark, tmp_path_factory,
):
    """Round-6 verdict bug: the serve-overflow ServingIndex cache was
    keyed by id(index) with a stamp (deleted_docs, seg_ids) that does
    NOT identify the index directory — two fresh single-segment
    indexes share stamp (0, (0,)), so CPython id reuse could serve
    top-k from the WRONG corpus. The handle now lives on the index
    object itself; this pins that two same-stamp indexes over
    different corpora answer from their own postings."""
    from pg_textsearch_spark.operators import bmw as bmw_mod

    base = tmp_path_factory.mktemp("alias")
    idx_a = _build(
        spark, [(i, f"apple orchard doc{i}") for i in range(1, 9)],
        str(base / "a"),
    )
    idx_b = _build(
        spark, [(i + 100, f"banana grove doc{i}") for i in range(1, 9)],
        str(base / "b"),
    )
    assert idx_a._stamp() == idx_b._stamp()  # the aliasing precondition
    held = 0
    while bmw_mod._DRIVER_SCORE_SLOTS.acquire(blocking=False):
        held += 1
    try:
        got_a = topk_bmw(idx_a, "apple", 3).collect()
        got_b = topk_bmw(idx_b, "banana", 3).collect()
        # and the cross queries: each corpus lacks the other's term
        none_a = topk_bmw(idx_a, "banana", 3).collect()
        none_b = topk_bmw(idx_b, "apple", 3).collect()
    finally:
        for _ in range(held):
            bmw_mod._DRIVER_SCORE_SLOTS.release()
    assert held >= 1
    assert sorted(r["doc_id"] for r in got_a) == [1, 2, 3]
    assert sorted(r["doc_id"] for r in got_b) == [101, 102, 103]
    assert none_a == [] and none_b == []
    # each handle caches its own ServingIndex; neither sees the other's
    assert idx_a._serve_overflow[1] is not idx_b._serve_overflow[1]
