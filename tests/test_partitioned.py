"""Partitioned-table index analog (index/partitioned.py) — the
reference's partitioned.sql/partitioned_many.sql coverage: per-child
indexes, per-child stats approximation, cross-partition query, and
partition pruning. The global-stats mode is additionally pinned
score-identical to a single flat index over the same corpus."""

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.index.partitioned import (
    PartitionedIndex,
    build_partitioned_index,
    topk_partitioned,
)
from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive

QUERY = "spark query table"


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = tmp_path_factory.mktemp("part")
    proot = str(base / "parted")
    pidx = build_partitioned_index(
        spark, docs, proot, "lang", config="ascii", n_buckets=4
    )
    flat_dir = str(base / "flat")
    build_index(spark, docs, flat_dir, config="ascii", n_buckets=4)
    return pidx, BM25Index(spark, flat_dir), docs


def test_children_cover_partition_values(setup, spark):
    pidx, _, docs = setup
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert set(pidx.partitions) == {str(v) for v in langs}
    # children are plain indexes with their own stats
    total = sum(pidx.child(v).num_docs for v in pidx.partitions)
    assert total == docs.count()


def test_global_stats_mode_matches_flat_index_exactly(setup):
    pidx, flat, _ = setup
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_exhaustive(flat, QUERY, k=10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_partitioned(pidx, QUERY, k=10, stats="global").collect()
    ]
    # same docs, same scores, same order — exact global IDF/avgdl
    assert got == want


def test_child_stats_mode_is_the_reference_approximation(setup):
    pidx, _, _ = setup
    rows = topk_partitioned(pidx, QUERY, k=10, stats="child").collect()
    assert len(rows) == 10
    assert [r["rank"] for r in rows] == list(range(1, 11))
    # each returned (part, doc, score) is exactly that child's own
    # score for the doc (per-child stats, reference query.c:753-862)
    by_part: dict = {}
    for r in rows:
        by_part.setdefault(r["part"], []).append(r)
    for part, prs in by_part.items():
        child_scores = {
            r["doc_id"]: r["score"]
            for r in topk_exhaustive(pidx.child(part), QUERY, k=50).collect()
        }
        for r in prs:
            assert abs(child_scores[r["doc_id"]] - r["score"]) < 1e-12


def test_partition_pruning(setup):
    pidx, _, _ = setup
    v = pidx.partitions[0]
    pruned = topk_partitioned(
        pidx, QUERY, k=5, stats="global", partitions=[v]
    ).collect()
    # pruning to one child == querying that child alone (its stats
    # become the "global" stats of a one-child union)
    solo = topk_exhaustive(pidx.child(v), QUERY, k=5).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in pruned] == [
        (r["doc_id"], round(r["score"], 9)) for r in solo
    ]
    assert all(r["part"] == v for r in pruned)


def test_handle_reload(setup, spark):
    pidx, _, _ = setup
    again = PartitionedIndex(spark, pidx.root)
    assert again.partitions == pidx.partitions
    assert again.partition_col == "lang"


def test_column_plans_drop_pending_deletes(setup, spark, tmp_path):
    """Under pending deletes the global-stats union and the filtered
    scan still equal the flat index's exhaustive top-k, and return no
    deleted doc. Copies of the indexes keep the shared fixture intact."""
    import shutil

    from pg_textsearch_spark.index.deletes import delete_docs
    from pg_textsearch_spark.operators.topk import topk_filtered

    pidx, flat, docs = setup
    shutil.copytree(pidx.root, str(tmp_path / "parted"))
    shutil.copytree(flat.index_dir, str(tmp_path / "flat"))
    pidx = PartitionedIndex(spark, str(tmp_path / "parted"))
    flat = BM25Index(spark, str(tmp_path / "flat"))
    victims = [r["doc_id"] for r in topk_exhaustive(flat, QUERY, k=3).collect()]
    delete_docs(flat, victims)
    for v in pidx.partitions:
        delete_docs(pidx.child(v), victims)

    def rows(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    want = rows(topk_exhaustive(flat, QUERY, k=10))
    assert len(want) == 10 and not set(victims) & {d for d, _ in want}
    assert rows(topk_partitioned(pidx, QUERY, k=10, stats="global")) == want
    allowed = docs.select("doc_id")
    assert rows(topk_filtered(flat, QUERY, allowed, k=10)) == want
