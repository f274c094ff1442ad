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
    # the distributed plan (a scan-batch plan for one term, the
    # run-sharded shuffle plan for several) must agree with exhaustive
    exh = topk_exhaustive(idx, query, k).collect()
    bmw = topk_bmw(idx, query, k).collect()
    assert len(exh) == len(bmw), (len(exh), len(bmw))
    for e, w in zip(exh, bmw):
        # BMW emits the exact f64 score; the two paths differ only in
        # per-doc summation order -> last-ulp
        assert abs(e["score"] - w["score"]) <= 1e-9, (e, w)
    # doc order must agree where scores are not tied at the boundary
    e_scores = [round(r["score"], 6) for r in exh]
    if len(set(e_scores)) == len(e_scores):
        assert [r["doc_id"] for r in exh] == [r["doc_id"] for r in bmw]


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


def test_run_merge_keeps_multi_term_doc(spark, tmp_path_factory):
    # doc 0 matches BOTH query terms and sits in another run than doc
    # 8192: the run-sharded plan must merge the two runs' top-ks, and
    # k=2 must return BOTH docs.
    path = str(tmp_path_factory.mktemp("runmerge") / "idx")
    idx = _build(
        spark,
        [(0, "alpha beta beta beta"), (8192, "beta")],
        path,
    )
    exh = topk_exhaustive(idx, "alpha beta", k=2).collect()
    got = topk_bmw(idx, "alpha beta", k=2).collect()
    assert len(exh) == 2
    assert len(got) == 2, got
    assert {r["doc_id"] for r in got} == {0, 8192}
    for e, w in zip(exh, got):
        assert abs(e["score"] - w["score"]) <= 1e-3, (e, w)


@pytest.mark.parametrize("seed", [7, 19])
def test_randomized_multisegment_delete_parity(spark, tmp_path_factory, seed):
    # randomized end-to-end fuzz: incremental multi-segment index,
    # random zipf-ish docs spanning runs, deletes applied, then every
    # scoring path (exhaustive / BMW) must agree
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
        bmw = topk_bmw(idx, q, 10).collect()
        assert [r["doc_id"] for r in exh] == [r["doc_id"] for r in bmw], q
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
    """The scoring kernel must produce the same ranking as exhaustive
    scoring:
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


# ---------------- batched multi-query kernel ----------------

def _assert_batch_parity(idx, queries, k=10):
    """topk_batch must equal per-query topk_exhaustive: same docs and
    ranks, scores equal to last-ulp (summation order differs)."""
    import math

    from pg_textsearch_spark.operators.topk import topk_batch

    got = topk_batch(idx, queries, k=k).collect()
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


def test_batch_pruned_parity(zipf_index):
    # mixed head/tail query set sharing terms across queries — the
    # shared-decode kernel must reproduce per-query exhaustive results
    # exactly
    queries = {
        "q0": "w0", "q1": "w0 w3", "q2": "w1 w7 w20",
        "q3": "w0 w0 w5", "q4": "w2 w40 w79", "q5": "w0 w1 w2 w3",
        "q6": "w3 w7", "q7": "w79", "q8": "w5 w20 w40 w7",
    }
    _assert_batch_parity(zipf_index, queries, k=3)
    _assert_batch_parity(zipf_index, queries, k=10)


def test_batch_multirun_and_deletes(spark, tmp_path_factory):
    # docs spread across runs (8192-doc ranges) so the groupBy(run)
    # shard path really merges per-run candidate sets; then deletes
    # must still match exhaustive
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


def test_serve_overflow_same_stamp_indexes_do_not_alias(
    spark, tmp_path_factory,
):
    """Two fresh single-segment indexes share their segment ids and
    delete count, which do NOT identify the index directory: a
    ServingIndex cache keyed by id(index) and those could, after
    CPython id reuse, serve top-k from the WRONG corpus. ``topk_auto``
    keeps its ServingIndex on the handle itself; this pins that two
    such indexes over different corpora answer from their own
    postings, each through its own cached ServingIndex."""
    from pg_textsearch_spark.operators.serve import ServingIndex, topk_auto

    base = tmp_path_factory.mktemp("alias")
    idx_a = _build(
        spark, [(i, f"apple orchard doc{i}") for i in range(1, 9)],
        str(base / "a"),
    )
    idx_b = _build(
        spark, [(i + 100, f"banana grove doc{i}") for i in range(1, 9)],
        str(base / "b"),
    )
    def shape(idx):
        m = idx.manifest
        return m.get("deleted_docs", 0), [s["seg_id"] for s in m["segments"]]

    assert shape(idx_a) == shape(idx_b)  # the aliasing precondition
    got_a = topk_auto(idx_a, "apple", 3).collect()
    got_b = topk_auto(idx_b, "banana", 3).collect()
    # and the cross queries: each corpus lacks the other's term
    none_a = topk_auto(idx_a, "banana", 3).collect()
    none_b = topk_auto(idx_b, "apple", 3).collect()
    assert sorted(r["doc_id"] for r in got_a) == [1, 2, 3]
    assert sorted(r["doc_id"] for r in got_b) == [101, 102, 103]
    assert none_a == [] and none_b == []
    # each handle caches its own ServingIndex over its own handle
    assert isinstance(idx_a._serving, ServingIndex)
    assert isinstance(idx_b._serving, ServingIndex)
    assert idx_a._serving is not idx_b._serving
    assert idx_a._serving.index is idx_a and idx_b._serving.index is idx_b
