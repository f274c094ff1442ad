"""Partitioned-table indexes: one child index per partition value.

Reference semantics: pg_textsearch supports indexes on partitioned
tables — each child table gets its own physical index, and a query
over the parent fans out to the children (reference:
test/sql/partitioned.sql, test/sql/partitioned_many.sql). Corpus
statistics are tracked PER CHILD, so cross-partition scores are an
approximation stitched from per-child N/avgdl/df
(src/types/query.c:753-862 resolves the index under the child
relation at hand).

Spark translation (this module):

- ``build_partitioned_index``: one ordinary segment index per
  partition value under ``root/part=<value>/`` — children are fully
  independent (build, merge, vacuum, stream into one child without
  touching siblings), exactly like attaching/detaching partitions.
- ``topk_partitioned(..., stats="child")``: the reference's behavior —
  each child scores with its OWN stats and the per-child top-ks merge
  by score. Fast, embarrassingly parallel, scores are the reference's
  cross-partition approximation.
- ``topk_partitioned(..., stats="global")``: the Spark-first upgrade —
  the query unions the children's bucket+term-pruned postings scans
  into ONE plan, scoring with EXACT global statistics (N = sum child
  N, df = sum child df, avgdl = global token mean). Result is
  score-identical to a single flat index over the same corpus
  (pytest-pinned), something the reference cannot do across children.
- ``partitions=[...]`` prunes children before any scan — the
  partition-elimination analog: an unlisted child contributes zero
  I/O because its scan is simply not in the union.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.tokenizer import tokenize_query
from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.topk import (
    BM25Index,
    column_topk,
    live_postings,
    ranked_topk,
    topk_exhaustive,
)


class PartitionedIndex:
    """Handle over a root directory of per-partition child indexes."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.partition_col: str = self.manifest["partition_col"]
        self.partitions: list[str] = list(self.manifest["partitions"])
        self._children: dict[str, BM25Index] = {}

    def child(self, value: str) -> BM25Index:
        if value not in self._children:
            if value not in self.partitions:
                raise KeyError(f"no partition {value!r}; have {self.partitions}")
            self._children[value] = BM25Index(
                self.spark, os.path.join(self.root, f"part={value}")
            )
        return self._children[value]

    def children(self, partitions: list[str] | None = None) -> list[tuple[str, BM25Index]]:
        vals = self.partitions if partitions is None else list(partitions)
        return [(v, self.child(v)) for v in vals]


def build_partitioned_index(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    partition_col: str,
    **build_kwargs,
) -> PartitionedIndex:
    """Build one child index per distinct ``partition_col`` value.

    Children are plain ``build_index`` outputs — every maintenance
    operation (insert_batch, merge, vacuum, deletes) works per child
    unchanged. The partition value count is assumed small (table
    partitions, not data shards); each child build is itself fully
    distributed.
    """
    values = [
        str(r[0])
        for r in docs.select(partition_col).distinct().orderBy(partition_col).collect()
    ]
    for v in values:
        build_index(
            spark,
            docs.filter(F.col(partition_col) == v).drop(partition_col),
            os.path.join(root, f"part={v}"),
            lineage={"partition": v},
            **build_kwargs,
        )
    manifest = {
        "format_version": 1,
        "kind": "partitioned",
        "partition_col": partition_col,
        "partitions": values,
    }
    local_commit.write_json(os.path.join(root, "manifest.json"), manifest)
    return PartitionedIndex(spark, root)


def topk_partitioned(
    pidx: PartitionedIndex,
    query: str,
    k: int = 10,
    stats: str = "global",
    partitions: list[str] | None = None,
) -> DataFrame:
    """Top-k across child indexes: (rank, part, doc_id, score).

    ``stats="child"`` reproduces the reference's per-child statistics
    approximation; ``stats="global"`` computes exact global IDF/avgdl
    and is score-identical to one flat index over the union. doc_ids
    are child-local, hence the ``part`` column in the result identity.
    """
    spark = pidx.spark
    kids = pidx.children(partitions)
    empty = spark.createDataFrame(
        [], "rank int, part string, doc_id bigint, score double"
    )
    if not kids:
        return empty
    keys = ("part", "doc_id")

    if stats == "child":
        per = [
            topk_exhaustive(idx, query, k=k).select(
                F.lit(v).alias("part"), "doc_id", "score"
            )
            for v, idx in kids
        ]
        alldf = per[0]
        for d in per[1:]:
            alldf = alldf.unionByName(d)
        return ranked_topk(alldf, k, keys)

    assert stats == "global", stats
    # exact global statistics: sums over each child's one snapshot
    snaps = [(v, idx, idx.snapshot) for v, idx in kids]
    n_docs = sum(snap.num_docs for _, _, snap in snaps)
    if n_docs == 0:
        return empty
    avgdl = sum(snap.total_tokens for _, _, snap in snaps) / n_docs
    first = snaps[0][2]
    qtf = tokenize_query(query, first.config)
    if not qtf:
        return empty
    dfs: dict[str, int] = {}
    for _, _, snap in snaps:
        for t, d in snap.term_dfs(list(qtf)).items():
            dfs[t] = dfs.get(t, 0) + d
    weights = {
        t: (bm25.idf(n_docs, dfs[t]), int(qf))
        for t, qf in qtf.items() if dfs.get(t, 0) > 0
    }
    if not weights:
        return empty

    # ONE plan: union of the children's pruned scans, one aggregation,
    # one global top-k — partition pruning is the union membership
    flats = [
        live_postings(idx, snap, weights).select(
            F.lit(v).alias("part"), "term", "doc_id", "tf", "fieldnorm"
        )
        for v, idx, snap in snaps
    ]
    allflat = flats[0]
    for d in flats[1:]:
        allflat = allflat.unionByName(d)
    return column_topk(allflat, weights, avgdl, first.k1, first.b, k, keys)
