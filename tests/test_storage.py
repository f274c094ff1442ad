"""SegmentStore contract: Parquet round-trip + the Iceberg probe.

north_rule names Iceberg as the substrate; this sandbox has no Iceberg
runtime jars (documented blocker in index/storage.py), so the tests
pin (a) the ParquetDirStore round-trip the ANN index writes through,
with the BM25 segment layout on the same identity-partition dirs, and
(b) the exact failure contract of the Iceberg probe, so a
cluster with the jars activates it without code changes.
"""

import os

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.index.storage import (
    ICEBERG_MAPPING,
    IcebergSegmentStore,
    ParquetDirStore,
)


def test_parquet_store_roundtrip(spark, tmp_path):
    store = ParquetDirStore(str(tmp_path / "idx"))
    df = spark.createDataFrame(
        [(f"t{i % 4}", i, i % 3) for i in range(100)],
        "term string, doc_id long, bucket int",
    )
    store.write(df, "postings", 0, partition_by="bucket",
                sort_within=["term"], parquet_block_size=1 << 20)
    store.write(df.filter(F.col("doc_id") >= 50), "postings", 1,
                partition_by="bucket", sort_within=["term"])
    back0 = store.read(spark, "postings", [0],
                       "term string, doc_id long, bucket int, seg int")
    assert back0.count() == 100
    both = store.read(spark, "postings", [0, 1],
                      "term string, doc_id long, bucket int, seg int")
    assert both.count() == 150
    # seg resolves as a partition column -> pruning key
    assert set(r["seg"] for r in both.select("seg").distinct().collect()) == {0, 1}

    store.drop_segment("postings", 1)
    assert not os.path.exists(str(tmp_path / "idx/postings/seg=1"))
    assert store.read(spark, "postings", [0],
                      "term string, doc_id long, bucket int, seg int").count() == 100


def test_index_writes_go_through_store(spark, tmp_path):
    # the BM25 writer's segment layout IS the store's layout (identity
    # partition dirs, Iceberg-shaped)
    from pg_textsearch_spark.index.builder import build_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(20)], "doc_id long, text string"
    )
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, config="ascii", n_buckets=4)
    assert os.path.isdir(os.path.join(d, "postings", "seg=0", "bucket=0"))
    assert os.path.isdir(os.path.join(d, "doclen", "seg=0"))


def test_iceberg_probe_error_contract(spark):
    # without the runtime jars + catalog conf the store must refuse
    # with an actionable message, not fail later mid-write
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergSegmentStore(spark, catalog="pgts", database="search")


def test_iceberg_mapping_documents_every_contract_point():
    for key in ("segment write", "manifest commit", "read resolution",
                "term pruning", "drop/vacuum", "resumable build"):
        assert key in ICEBERG_MAPPING and len(ICEBERG_MAPPING[key]) > 20
