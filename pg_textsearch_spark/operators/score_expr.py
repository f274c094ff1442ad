"""Per-row scoring operator — ``text <@> query`` as a column function.

Reference semantics (bm25_text_bm25query_score,
src/types/query.c:659-1118): score one (document, query) pair by
tokenizing the document on the fly, using corpus stats + IDF from the
index, with the *quantized* doc length. Useful for re-scoring,
verification, and scoring documents that are not (yet) indexed.

Spark form: a DataFrame transform rather than a scalar function —
tokenize the doc column (``spark_token_table``), broadcast the query's (term, idf,
query_freq) weights, aggregate per doc. When ``index`` is given, stats
and dfs come from it (the reference behavior); otherwise they are
computed from the input corpus itself (self-contained oracle mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.functions.tokenizer import spark_token_table, tokenize_query
from pg_textsearch_spark.operators.topk import in_list


def _quantize_expr(dl_col):
    """raw doc_len -> decode(encode(len)): searchsorted over the
    monotone 256-entry decode table as ONE array expression —
    ``element_at(table, size(filter(table, v -> v <= dl)))`` picks the
    largest table value <= dl (table[0] = 0 and dl >= 0, so the filter
    is never empty). Same element_at-on-the-literal-table pattern as
    topk._fieldnorm_decode_expr; the round-2 version chained 256
    ``when()`` branches and bloated every generated plan."""
    table = F.array(*[F.lit(int(v)) for v in FIELDNORM_DECODE_TABLE])
    idx = F.size(F.filter(table, lambda v: v <= dl_col))
    return F.element_at(table, F.greatest(idx, F.lit(1))).cast("double")


def score_texts(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    config: str = "ascii",
    index=None,
    k1: float = bm25.DEFAULT_K1,
    b: float = bm25.DEFAULT_B,
) -> DataFrame:
    """-> (doc_id, score) for every doc matching >= 1 query term,
    ordered by doc_id. Float64 column math (the reference's per-row
    operator is float8 too, query.c:623-656)."""
    spark = docs.sparkSession
    qtf = tokenize_query(query, config)
    if not qtf:
        return spark.createDataFrame([], f"{id_col} bigint, score double")

    tokens = spark_token_table(docs, id_col, text_col, config)
    w = Window.partitionBy(id_col)
    toklen = tokens.withColumn("doc_len", F.sum("tf").over(w).cast("long"))

    if index is not None:
        n_docs, avgdl = index.num_docs, index.avgdl
        dfs = index.term_dfs(list(qtf))
    else:
        # N counts every doc, incl. empty-tokenizing ones (docmap rule)
        n_docs = docs.count()
        tt = toklen.groupBy(id_col).agg(F.first("doc_len").alias("dl")).agg(
            F.coalesce(F.sum("dl"), F.lit(0)).alias("tt")
        ).collect()[0]["tt"]
        avgdl = (int(tt) / n_docs) if n_docs else 0.0
        dfs = {
            r["term"]: int(r["df"])
            for r in tokens.filter(in_list("term", list(qtf)))
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }

    rows = []
    for term, qf in qtf.items():
        df = dfs.get(term, 0)
        if df == 0:
            continue
        rows.append((term, bm25.idf(n_docs, df), int(qf)))
    if not rows:
        return spark.createDataFrame([], f"{id_col} bigint, score double")
    wdf = spark.createDataFrame(rows, "term string, idf double, query_freq int")

    scored = toklen.join(F.broadcast(wdf), "term").select(
        F.col(id_col),
        bm25.bm25_score_expr(
            tf=F.col("tf").cast("double"),
            dl=_quantize_expr(F.col("doc_len")),
            idf=F.col("idf"),
            avgdl=F.lit(float(avgdl)),
            query_freq=F.col("query_freq").cast("double"),
            k1=k1,
            b=b,
        ).alias("term_score"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
        .orderBy(id_col)
    )
