"""Deletes + vacuum (reference: vacuum.c, alive_bitset.c, deletion.sql):
marked docs vanish from results immediately; vacuum physically drops
them; stats follow the quantized-correction rule."""

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.index.deletes import delete_docs, vacuum
from pg_textsearch_spark.operators.bmw import topk_bmw
from pg_textsearch_spark.operators.topk import (
    BM25Index,
    topk_batch,
    topk_exhaustive,
)


@pytest.fixture()
def idx(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, config="ascii", n_buckets=8)
    return BM25Index(spark, d)


def test_delete_hides_docs_both_paths(idx):
    q = "spark query table"
    before = topk_exhaustive(idx, q, 5).collect()
    victims = [r["doc_id"] for r in before[:2]]
    delete_docs(idx, victims)

    idx2 = BM25Index(idx.spark, idx.index_dir)
    assert idx2.num_docs == 498
    after_exh = topk_exhaustive(idx2, q, 5).collect()
    after_bmw = topk_bmw(idx2, q, 5).collect()
    assert not ({r["doc_id"] for r in after_exh} & set(victims))
    assert not ({r["doc_id"] for r in after_bmw} & set(victims))
    for e, w in zip(after_exh, after_bmw):
        assert abs(e["score"] - w["score"]) <= 1e-3


def test_dead_ids_read_once_per_handle(idx, monkeypatch):
    # the dead-id array is memoized per handle stamp: repeated batch
    # and bmw queries under pending deletes read the deletes table once
    queries = {"a": "spark query table", "b": "window"}
    victims = [r["doc_id"] for r in topk_exhaustive(idx, "window", 3).collect()]
    delete_docs(idx, victims[:2])
    idx2 = BM25Index(idx.spark, idx.index_dir)
    want = {
        qid: [(r["rank"], r["doc_id"], r["score"])
              for r in topk_exhaustive(idx2, q, 5).collect()]
        for qid, q in queries.items()
    }
    reads = []
    real = local_commit.read_deleted_ids
    monkeypatch.setattr(
        local_commit, "read_deleted_ids",
        lambda d: reads.append(1) or real(d),
    )
    for _ in range(2):
        rows = topk_batch(idx2, queries, k=5).collect()
        for qid in queries:
            got = sorted(
                (r["rank"], r["doc_id"], r["score"])
                for r in rows if r["query_id"] == qid
            )
            assert [g[:2] for g in got] == [w[:2] for w in want[qid]], qid
            for g, w in zip(got, want[qid]):
                assert g[2] == pytest.approx(w[2], rel=1e-12)
    got = [(r["rank"], r["doc_id"]) for r in topk_bmw(idx2, "window", 5).collect()]
    assert got == [w[:2] for w in want["b"]]
    assert len(reads) == 1


def test_vacuum_drops_and_matches_filtered_rebuild(spark, idx, tmp_path):
    q = "window"
    victims = [r["doc_id"] for r in topk_exhaustive(idx, q, 3).collect()]
    delete_docs(idx, victims)
    idx = BM25Index(spark, idx.index_dir)
    pre_vacuum = [(r["doc_id"],) for r in topk_exhaustive(idx, q, 10).collect()]
    pre_stats = (idx.num_docs, idx.total_tokens, idx.avgdl)

    vacuum(idx)
    idx2 = BM25Index(spark, idx.index_dir)
    assert not idx2.has_deletes()
    assert idx2.num_docs == 497
    assert idx2.deleted_ids().isEmpty()
    post = [(r["doc_id"],) for r in topk_exhaustive(idx2, q, 10).collect()]
    assert post == pre_vacuum  # doc set unchanged by vacuum

    # the reference stats rule (merge.c:842-866): vacuum carries
    # pending-delete corpus stats forward EXACTLY — total_tokens =
    # sum(source totals) - quantized dead lengths, so avgdl (and hence
    # every score) is identical before and after vacuum
    assert (idx2.num_docs, idx2.total_tokens, idx2.avgdl) == pre_stats

    # vacuumed index == index built fresh over the surviving docs up
    # to the quantized-vs-raw dead-length correction (the rebuild
    # knows the survivors' raw totals; the vacuum, like the reference,
    # only knows quantized lengths for the dead) — ranks identical,
    # scores within the reference's own 1e-3 acceptance
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    survivors = docs.filter(~F.col("doc_id").isin(victims))
    d2 = str(tmp_path / "rebuild")
    build_index(spark, survivors, d2, config="ascii", n_buckets=8)
    rebuilt = BM25Index(spark, d2)
    a = topk_exhaustive(idx2, q, 10).collect()
    b = topk_exhaustive(rebuilt, q, 10).collect()
    assert [(r["rank"], r["doc_id"]) for r in a] == [
        (r["rank"], r["doc_id"]) for r in b
    ]
    for x, y in zip(a, b):
        assert abs(x["score"] - y["score"]) <= 1e-3, (x, y)


def test_delete_idempotent_and_stats(idx):
    delete_docs(idx, [0, 1])
    m1 = BM25Index(idx.spark, idx.index_dir).manifest
    delete_docs(BM25Index(idx.spark, idx.index_dir), [0, 1])  # repeat
    m2 = BM25Index(idx.spark, idx.index_dir).manifest
    assert m1["deleted_docs"] == m2["deleted_docs"] == 2
    assert m1["deleted_tokens_quantized"] == m2["deleted_tokens_quantized"] > 0
