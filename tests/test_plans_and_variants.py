"""Plan-shape assertions + index variants (text[], partial,
expression) mirroring reference features (README.md:195-271,
src/types/array.c)."""

import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.index.builder import build_index, term_bucket
from pg_textsearch_spark.operators.topk import BM25Index, in_list, topk_exhaustive
from pg_textsearch_spark.plans.explain import (
    assert_broadcast_join,
    assert_partition_filter,
    assert_pushed_filter,
    formatted_plan,
)
from pg_textsearch_spark.shipping import ensure_shipped


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    ensure_shipped(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path_factory.mktemp("plans") / "idx")
    build_index(spark, docs, d, config="ascii", n_buckets=8)
    return BM25Index(spark, d)


def test_postings_scan_prunes_bucket_partitions(idx):
    pruned = idx.pruned_postings(["window"])
    b = term_bucket("window", idx.n_buckets)
    # bucket is a partition column -> directory pruning, term a data
    # column -> parquet row-group pushdown
    assert_partition_filter(pruned, "bucket")
    assert_pushed_filter(pruned, "term")
    # only the single matching bucket directory is read
    plan = formatted_plan(pruned)
    assert f"bucket#" in plan or str(b) in plan


def test_in_list_matches_isin_and_pushes_in(spark, tmp_path):
    # terms that would break or be rewritten in quoted SQL text: quotes,
    # backslashes, variable substitution, comment markers, non-ASCII,
    # the empty string
    hostile = ["a'b", "c\\d", "${x}", "x\\'y", "--x", "é", "日本", ""]
    rows = [(t, i) for i, t in enumerate(hostile + ["plain", "x", "'"])]
    path = str(tmp_path / "terms")
    spark.createDataFrame(rows, "term string, i int").write.parquet(path)
    df = spark.read.parquet(path)

    def ids(cond):
        return sorted(r["i"] for r in df.filter(cond).collect())

    for t in hostile:
        assert ids(in_list("term", [t])) == ids(F.col("term").isin([t])), t
    assert ids(in_list("term", hostile)) == list(range(len(hostile)))
    assert ids(in_list("term", [])) == []
    assert_pushed_filter(df.filter(in_list("term", hostile)), "In(term")


def test_topk_broadcasts_query_weights(idx):
    res = topk_exhaustive(idx, "spark query table", 10)
    assert_broadcast_join(res)


def test_text_array_flatten_invariant(spark, tmp_path):
    # reference: text[] flattened with single spaces, NULL/empty
    # elements skipped; scores must equal the concatenated scalar
    # (src/types/array.c:36-70, test/sql/text_array.sql:27-55)
    arr_rows = [
        (1, ["the quick brown fox", None, "jumped over the lazy dog"]),
        (2, ["goodbye cruel world", ""]),
        (3, ["hello world"]),
    ]
    from pg_textsearch_spark.functions.tokenizer import flatten_text_array

    arr = spark.createDataFrame(arr_rows, "doc_id long, content array<string>")
    flat = arr.select("doc_id", flatten_text_array("content").alias("text"))
    scalar_rows = [
        (1, "the quick brown fox jumped over the lazy dog"),
        (2, "goodbye cruel world"),
        (3, "hello world"),
    ]
    scalar = spark.createDataFrame(scalar_rows, "doc_id long, text string")

    d1, d2 = str(tmp_path / "arr"), str(tmp_path / "scl")
    build_index(spark, flat, d1, config="ascii", n_buckets=4)
    build_index(spark, scalar, d2, config="ascii", n_buckets=4)
    for q in ["world", "quick fox", "hello"]:
        a = [(r["rank"], r["doc_id"], round(r["score"], 9))
             for r in topk_exhaustive(BM25Index(spark, d1), q, 5).collect()]
        b = [(r["rank"], r["doc_id"], round(r["score"], 9))
             for r in topk_exhaustive(BM25Index(spark, d2), q, 5).collect()]
        assert a == b


def test_partial_index_analog(spark, tmp_path):
    # partial index == filtered build (reference partial indexes,
    # README.md:247-271): only 'en' docs are indexed/scored
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    en = docs.filter(F.col("lang") == "en")
    d = str(tmp_path / "en_idx")
    build_index(spark, en, d, config="ascii", n_buckets=8)
    idx = BM25Index(spark, d)
    assert idx.num_docs == en.count()
    en_ids = {r["doc_id"] for r in en.select("doc_id").collect()}
    res = topk_exhaustive(idx, "window table", 10).collect()
    assert res and all(r["doc_id"] in en_ids for r in res)


def test_expression_index_analog(spark, tmp_path):
    # expression index == computed-column build (reference expression
    # indexes on (data->>'field')): here extract_text(html)
    from pg_textsearch_spark.sources.pages import (
        generate_pages,
        with_extracted_text,
    )

    pages = with_extracted_text(generate_pages(spark, 80, seed=5))
    d = str(tmp_path / "expr_idx")
    build_index(
        spark, pages, d, key_col="url", text_col="extracted_text",
        config="ascii", n_buckets=8,
    )
    idx = BM25Index(spark, d)
    assert idx.num_docs == 80
    res = topk_exhaustive(idx, "t0 t1", 5).collect()
    assert len(res) == 5


def test_keymap_resolution_roundtrip(spark, tmp_path):
    # key_col builds must persist doc_id -> key (the ctid map analog)
    # so results resolve back to source rows — including across vacuum
    from pg_textsearch_spark.index.deletes import delete_docs, vacuum
    from pg_textsearch_spark.sources.pages import (
        generate_pages,
        with_extracted_text,
    )

    pages = with_extracted_text(generate_pages(spark, 60, seed=11))
    d = str(tmp_path / "km_idx")
    build_index(
        spark, pages, d, key_col="url", text_col="extracted_text",
        config="ascii", n_buckets=4,
    )
    idx = BM25Index(spark, d)
    rows = idx.keymap().orderBy("doc_id").collect()
    assert len(rows) == 60
    urls = [r["doc_key"] for r in rows]
    # docmap invariant: doc_id order == key order (docmap.c:172-181)
    assert urls == sorted(urls)
    assert [r["doc_id"] for r in rows] == list(range(60))
    by_id = {r["doc_id"]: r["doc_key"] for r in rows}

    res = topk_exhaustive(idx, "t0 t1", 5)
    resolved = idx.resolve_keys(res).collect()
    assert resolved and all(
        r["doc_key"] == by_id[r["doc_id"]] for r in resolved
    )

    # keymap survives the rewrite path (vacuum = merge with drops)
    victim = resolved[0]["doc_id"]
    delete_docs(idx, [victim])
    vacuum(BM25Index(spark, d))
    idx2 = BM25Index(spark, d)
    rows2 = idx2.keymap().collect()
    assert len(rows2) == 59
    assert victim not in {r["doc_id"] for r in rows2}
    resolved2 = idx2.resolve_keys(topk_exhaustive(idx2, "t0 t1", 5)).collect()
    assert resolved2 and all(
        r["doc_key"] == by_id[r["doc_id"]] for r in resolved2
    )


def test_tokenize_vector_udf_matches_tokenize(spark):
    # the bm25vector-shaped column (reference: src/types/vector.h) must
    # agree with the scalar tokenizer
    from pg_textsearch_spark.functions.tokenizer import (
        tokenize,
        tokenize_vector_udf,
    )

    ensure_shipped(spark)
    rows = [(1, "The runners were running, running fast!"),
            (2, "hello hello world"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["v"] for r in df.select(
        "doc_id", tokenize_vector_udf("english")("text").alias("v")
    ).collect()}
    assert {e["term"]: e["tf"] for e in out[1]} == tokenize(rows[0][1], "english")
    assert {e["term"]: e["tf"] for e in out[2]} == {"hello": 2, "world": 1}
    assert out[3] == []
    # sorted by term (deterministic wire order)
    assert [e["term"] for e in out[1]] == sorted(e["term"] for e in out[1])


def test_local_topk_df_rejects_non_finite(spark):
    """A non-finite score would render as a bare inf/nan token and
    fail SQL analysis as an unresolved identifier; the helper must
    name the actual problem (advisor round 6)."""
    from pg_textsearch_spark.operators.serve import local_topk_df

    ok = local_topk_df(spark, [(1, 7, 1.25)]).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in ok] == [(1, 7, 1.25)]
    with pytest.raises(ValueError, match="non-finite"):
        local_topk_df(spark, [(1, 7, float("inf"))])
    with pytest.raises(ValueError, match="non-finite"):
        local_topk_df(spark, [(1, 7, float("nan"))])


def test_segment_store_exists_probe(tmp_path):
    """Existence probes route through SegmentStore.exists (advisor
    round 6: a future non-local store must not silently answer False
    for data that exists — deleted docs would resurrect)."""
    from pg_textsearch_spark.index.storage import ParquetDirStore

    store = ParquetDirStore(str(tmp_path))
    assert not store.exists("deletes")
    assert not store.exists("dictionary", 0)
    (tmp_path / "deletes").mkdir()
    (tmp_path / "dictionary" / "seg=3").mkdir(parents=True)
    assert store.exists("deletes")
    assert store.exists("dictionary", 3)
    assert not store.exists("dictionary", 0)


def test_out_of_range_doc_id_fails_loudly(spark, tmp_path):
    """Packing would silently wrap snowflake-scale ids; the build must
    raise instead (postings_from_flat_ids range guard)."""
    rows = [(1 << 60, "alpha beta"), (5, "beta gamma")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(Exception, match="packable range"):
        build_index(spark, docs, str(tmp_path / "big"),
                    config="ascii", n_buckets=2)
