"""One snapshot per query, one snapshot swap per commit: a handle reads
N, avgdl, dfs, dead ids and segment files through ``Snapshot``, every
commit through the handle swaps it, and a query keeps the snapshot it
took to the end."""

import shutil

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import IndexWriter, build_index
from pg_textsearch_spark.index.deletes import delete_docs, vacuum
from pg_textsearch_spark.index.merge import force_merge
from pg_textsearch_spark.index.storage import ParquetDirStore
from pg_textsearch_spark.operators.serve import (
    LocalIndex,
    ServingIndex,
    topk_auto,
    topk_serve,
)
from pg_textsearch_spark.operators.topk import (
    BM25Index,
    topk_batch,
    topk_exhaustive,
)
from pg_textsearch_spark.streaming.incremental import insert_batch
from golden_sweep import DOCS_PARQUET as DOCS
from test_serve import _live_dfs, _same_ranking

QUERIES = ["spark query table", "window", "join join merge"]
TERMS = ["join", "window", "stream", "spark", "nosuchterm"]


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def _batch(idx):
    rows = topk_batch(idx, dict(enumerate(QUERIES)), k=10).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in rows)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("snapshot") / "idx")
    build_index(spark, spark.read.parquet(DOCS), d, config="ascii",
                n_buckets=8)
    return d


@pytest.fixture(scope="module")
def segmented(spark, tmp_path_factory):
    """The corpus in 4 inserted segments."""
    docs = spark.read.parquet(DOCS)
    d = str(tmp_path_factory.mktemp("snapshot") / "segs")
    for lo in range(0, 500, 125):
        insert_batch(
            spark, d,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 125)),
            doc_id_col="doc_id", compact=False, config="ascii", n_buckets=8,
        )
    return d


def _copy(src, tmp_path, name="idx"):
    d = str(tmp_path / name)
    shutil.copytree(src, d)
    return d


def test_same_handle_after_force_merge(spark, segmented, tmp_path):
    """force_merge reclaims the source segments; the handle it ran
    through must answer from the merged one, on every read path, as a
    fresh handle does."""
    d = _copy(segmented, tmp_path)
    idx = BM25Index(spark, d)
    for q in QUERIES:  # warm every per-snapshot memo on the old segments
        topk_auto(idx, q, 10).collect()
        topk_exhaustive(idx, q, 10).collect()
    _batch(idx)
    force_merge(idx)
    fresh = BM25Index(spark, d)
    assert len(fresh.manifest["segments"]) == 1
    for q in QUERIES:
        got = _rows(topk_auto(idx, q, 10))
        assert got and got == _rows(topk_auto(fresh, q, 10)), q
        assert _rows(topk_exhaustive(idx, q, 10)) == _rows(
            topk_exhaustive(fresh, q, 10)), q
    assert _batch(idx) == _batch(fresh)
    assert idx.manifest == fresh.manifest


class Crash(Exception):
    pass


def _state(spark, d):
    h = BM25Index(spark, d)
    return (
        h.num_docs, h.total_tokens, h.term_dfs(TERMS),
        {q: _rows(topk_exhaustive(h, q, 10)) for q in QUERIES},
    )


def test_vacuum_stopped_after_any_step(spark, built, tmp_path, monkeypatch):
    """Stop vacuum after each of its steps (write the merged segment,
    swap the manifest, remove deletes, remove dead_dfs, reclaim each
    source file set): the reopened index equals the index before (and
    after) the vacuum, and a later delete keeps dfs equal to the live
    postings."""
    src = _copy(built, tmp_path, "deleted")
    h = BM25Index(spark, src)
    victims = [r["doc_id"] for r in topk_exhaustive(h, "window", 3).collect()]
    delete_docs(h, victims)
    before = _state(spark, src)
    done = _copy(src, tmp_path, "vacuumed")
    vacuum(BM25Index(spark, done))
    assert _state(spark, done) == before
    assert not BM25Index(spark, done).has_deletes()

    calls = {"n": 0, "stop_at": 0}

    def stop_after(fn, counts=lambda *a: True):
        def step(*args, **kwargs):
            out = fn(*args, **kwargs)
            if counts(*args):
                calls["n"] += 1
                if calls["n"] == calls["stop_at"]:
                    raise Crash(calls["n"])
            return out
        return step

    monkeypatch.setattr(local_commit, "merge_local",
                        stop_after(local_commit.merge_local))
    monkeypatch.setattr(IndexWriter, "_commit_manifest",
                        stop_after(IndexWriter._commit_manifest))
    monkeypatch.setattr(ParquetDirStore, "drop_segment",
                        stop_after(ParquetDirStore.drop_segment))
    monkeypatch.setattr(shutil, "rmtree", stop_after(
        shutil.rmtree,
        lambda path, *a: str(path).endswith(("/deletes", "/dead_dfs")),
    ))
    stops = 0
    while True:
        d = _copy(src, tmp_path, f"stop{stops + 1}")
        calls.update(n=0, stop_at=stops + 1)
        try:
            vacuum(BM25Index(spark, d))
        except Crash:
            stops += 1
        else:
            break
        calls["stop_at"] = 0
        assert _state(spark, d) == before, stops
        # a delete after the stop: dfs equal the live postings
        h = BM25Index(spark, d)
        delete_docs(h, [r["doc_id"] for r in
                        topk_exhaustive(h, "window join", 2).collect()])
        h = BM25Index(spark, d)
        assert h.term_dfs(TERMS) == _live_dfs(h, TERMS), stops
    assert stops >= 5  # merge, swap, two tables, source files


def test_query_keeps_its_snapshot_across_a_commit(spark, built, tmp_path):
    """A delete that commits while a served query reads postings does
    not reach that query: it answers as topk_exhaustive before the
    delete; the next query answers as topk_exhaustive after it."""
    d = _copy(built, tmp_path)
    di = BM25Index(spark, d)
    q = "window join"
    before = _rows(topk_exhaustive(di, q, 10))
    victims = [before[0][1], before[1][1]]
    sv = ServingIndex(di)
    read = sv.posting_blocks_flat
    commits = []

    def commit_then_read(terms, *args):
        if not commits:
            commits.append(delete_docs(di, victims))
        return read(terms, *args)

    sv.posting_blocks_flat = commit_then_read
    got = topk_serve(di, q, 10, _serving=sv)
    assert commits and di.has_deletes()
    _same_ranking(got, before, "during the commit")
    after = _rows(topk_exhaustive(di, q, 10))
    assert not {r[1] for r in after} & set(victims)
    _same_ranking(topk_serve(di, q, 10, _serving=sv), after, "after it")


def test_local_index_serves_an_insert_after_refresh(spark, built, tmp_path):
    d = _copy(built, tmp_path)
    li = LocalIndex(d)
    sv = ServingIndex(li)
    old = topk_serve(li, "window", 10, _serving=sv)
    assert topk_serve(li, "zqxmarker", 10, _serving=sv) == []
    insert_batch(
        spark, d,
        spark.createDataFrame([(10_000, "zqxmarker window window")],
                              "doc_id long, text string"),
        doc_id_col="doc_id", compact=False,
    )
    assert topk_serve(li, "zqxmarker", 10, _serving=sv) == []
    assert topk_serve(li, "window", 10, _serving=sv) == old
    li.refresh()
    assert [r[1] for r in topk_serve(li, "zqxmarker", 10, _serving=sv)] == [
        10_000]
    fresh = LocalIndex(d)
    assert topk_serve(li, "window", 10, _serving=sv) == topk_serve(
        fresh, "window", 10)


def test_handle_and_topk_auto_share_one_df_memo(spark, built, monkeypatch):
    """``BM25Index.term_dfs`` and the ServingIndex ``topk_auto`` keeps
    on the handle read one df memo: a term looked up through both is
    read from the dictionary once."""
    read = []
    real = local_commit.read_term_dfs

    def counted(index_dir, manifest, terms):
        read.extend(terms)
        return real(index_dir, manifest, terms)

    monkeypatch.setattr(local_commit, "read_term_dfs", counted)
    idx = BM25Index(spark, built)
    assert idx.term_dfs(["window"])
    assert topk_auto(idx, "window", 5).collect()
    assert read.count("window") == 1
