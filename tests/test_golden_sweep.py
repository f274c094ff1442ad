"""200-query golden sweep vs the persisted TSV (tests/golden_queries.tsv)
— the in-repo analog of the reference's MS MARCO validate_queries.sql
(691 queries, per-rank doc + score at 1e-3). The engine's batch path
answers all 200 queries in a handful of jobs; BMW is spot-checked on a
deterministic sample."""

import os

import pytest

from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.topk import BM25Index, topk_batch

TSV = os.path.join(os.path.dirname(__file__), "golden_queries.tsv")
TOL = 1e-3  # the reference's validate_queries.sql acceptance band
TIE = 1e-9  # adjacent ranks whose scores differ below this may swap
            # (f64 summation-order ulps between engine and oracle)


def load_golden():
    queries: dict[str, str] = {}
    expected: dict[str, list[tuple[int, float]]] = {}
    with open(TSV) as f:
        next(f)
        for line in f:
            qid, qtext, rank, doc, score = line.rstrip("\n").split("\t")
            queries[qid] = qtext
            expected.setdefault(qid, []).append((int(doc), float(score)))
    return queries, expected


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path_factory.mktemp("sweep") / "idx")
    build_index(spark, docs, d, config="ascii", n_buckets=8)
    return BM25Index(spark, d)


def check(got: list[tuple[int, float]], want: list[tuple[int, float]], qid):
    assert len(got) == len(want), (qid, got, want)
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd == wd:
            assert abs(gs - ws) <= TOL, (qid, i, gd, gs, ws)
        else:
            # rank flip is only legal within an exact-arithmetic tie
            assert abs(gs - ws) <= TIE, (qid, i, got, want)


def test_sweep_exhaustive_batch(idx):
    queries, expected = load_golden()
    res = topk_batch(idx, queries, k=10).collect()
    got: dict[str, list[tuple[int, float]]] = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    missing = set(expected) - set(got)
    assert not missing, missing
    for qid in expected:
        check(got[qid], expected[qid], qid)


def test_sweep_bmw_sample(idx):
    from pg_textsearch_spark.operators.bmw import topk_bmw

    queries, expected = load_golden()
    sample = sorted(queries)[::8]  # 25 deterministic queries
    for qid in sample:
        rows = topk_bmw(idx, queries[qid], k=10).collect()
        got = [(r["doc_id"], r["score"]) for r in rows]
        check(got, expected[qid], qid)


def test_sweep_serve_all(idx):
    """The interactive serving path (the vectorized accumulate
    kernel) over ALL 200 golden queries — cheap,
    since each answer is milliseconds with no Spark job."""
    from pg_textsearch_spark.operators.serve import ServingIndex, topk_serve

    queries, expected = load_golden()
    sv = ServingIndex(idx)
    for qid in sorted(queries):
        rows = topk_serve(idx, queries[qid], k=10, _serving=sv)
        got = [(doc_id, score) for _rank, doc_id, score in rows]
        check(got, expected[qid], qid)
