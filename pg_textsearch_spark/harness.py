"""Driver-harness queries + matching DuckDB oracle SQL.

Each operator exposed in ``__spark_entry__.queries()`` lives here as a
(spark_fn, oracle_sql) pair. The Spark side runs the *real engine*
(build the inverted index on disk, query through the postings tables);
the oracle recomputes the same answer index-free in pure SQL over the
raw ``documents`` table — the reference's own validation strategy
(reference: test/sql/validation.sql:186-205, an index-free pure-SQL
BM25 used as ground truth).

Gated queries use the ``ascii`` config (exactly expressible in ANSI
SQL); ``english``-config semantics (stemming/stopwords) are covered by
the pytest suite instead, since Porter2 is not SQL-expressible.

Score columns are rounded to 4 decimals on both sides: per-term f64
math is bit-identical across engines; only multi-term summation order
can differ (last-ulp), which 4dp absorbs — matching the reference's
own 1e-3 acceptance tolerance (reference:
benchmarks/datasets/msmarco/validate_queries.sql:10-29).
"""

from __future__ import annotations

import hashlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_textsearch_spark.functions.bm25 import DEFAULT_B, DEFAULT_K1
from pg_textsearch_spark.functions.fieldnorm import fieldnorm_case_sql
from pg_textsearch_spark.functions.tokenizer import tokenize_query
from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive
from pg_textsearch_spark.shipping import ensure_shipped

CONFIG = "ascii"  # SQL-expressible tokenizer for the oracle gate
N_BUCKETS = 8
_INDEX_CACHE_ROOT = os.environ.get("PGTS_INDEX_CACHE", "/tmp/pgts_index_cache")
_build_lock = threading.Lock()

# Fixed query set (terms exist in the synthetic vocabulary; includes a
# repeated-term query to pin the query_freq multiplier)
QUERY_SINGLE = "window"
QUERY_MULTI = "spark query table"
QUERY_REPEAT = "join join merge"
TERMS_DF = ["join", "window", "stream", "nosuchterm"]
BATCH_QUERIES = {
    "q1": QUERY_MULTI,
    "q2": QUERY_SINGLE,
    "q3": "stream batch filter",
    "q4": "customer order part",
}


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def ensure_index(spark: SparkSession, sf_dir: str) -> BM25Index:
    """Build (once per sf_dir) the on-disk index over ``documents``."""
    ensure_shipped(spark)  # workers need the package for pandas UDFs
    tag = hashlib.sha1(f"{sf_dir}:{CONFIG}:{N_BUCKETS}:v1".encode()).hexdigest()[:12]
    idx_dir = os.path.join(_INDEX_CACHE_ROOT, tag)
    with _build_lock:
        if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
            build_index(
                spark,
                documents(spark, sf_dir),
                idx_dir,
                doc_id_col="doc_id",
                text_col="text",
                config=CONFIG,
                n_buckets=N_BUCKETS,
                lineage={"input": sf_dir, "table": "documents"},
            )
    return BM25Index(spark, idx_dir)


# ---------------------------------------------------------------------------
# Oracle SQL generation
# ---------------------------------------------------------------------------

# the unnest sits in a select list, not a lateral join: DuckDB plans a
# lateral unnest as a delim join that materializes the whole documents
# table, which at 1M docs spilled tens of GB per oracle query
_TOK_CTE = """
tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
    FROM documents
  ) WHERE term <> '' AND length(term) <= 2047
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (
  -- every doc counts, incl. ones tokenizing to nothing (doc_len 0)
  SELECT d.doc_id, coalesce(t.doc_len, 0)::BIGINT AS doc_len
  FROM documents d
  LEFT JOIN (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM tf GROUP BY 1) t
  USING (doc_id)
),
corpus AS (
  SELECT count(*)::BIGINT AS n_docs,
         (sum(doc_len)::DOUBLE / count(*)) AS avgdl
  FROM dl
)
"""


def _values_clause(weights: dict[str, int]) -> str:
    rows = ", ".join(f"('{t}', {qf})" for t, qf in sorted(weights.items()))
    return f"(VALUES {rows}) AS q(term, query_freq)"


def bm25_topk_oracle_sql(
    query: str, k: int = 10, where_doc_sql: str | None = None
) -> str:
    """Oracle for the top-k paths. ``where_doc_sql`` (a predicate over
    the ``documents`` table) restricts which docs may appear in the
    result — the filtered-scan analog; corpus stats and dfs stay
    index-wide, exactly like the engine (the WHERE clause never
    changes IDF in the reference either)."""
    qtf = tokenize_query(query, CONFIG)
    assert qtf, "empty query"
    dlq = fieldnorm_case_sql("dl.doc_len")
    k1, b = DEFAULT_K1, DEFAULT_B
    flt = (
        f"WHERE tf.doc_id IN (SELECT doc_id FROM documents WHERE {where_doc_sql})"
        if where_doc_sql
        else ""
    )
    return f"""
WITH {_TOK_CTE},
qterms AS (SELECT * FROM {_values_clause(qtf)}),
dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * {k1 + 1.0}
           / (tf.tf + {k1} * ({1.0 - b} + {b} * ({dlq}) / c.avgdl))
           * q.query_freq
         ) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus c
  {flt}
  GROUP BY tf.doc_id
)
SELECT
  row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank,
  doc_id,
  round(score, 4) AS score
FROM scored
ORDER BY rank
LIMIT {k}
"""


def topk_batch_oracle_sql(batch: dict[str, str], k: int = 10) -> str:
    vals = []
    for qid, qtext in batch.items():
        for term, qf in sorted(tokenize_query(qtext, CONFIG).items()):
            vals.append(f"('{qid}', '{term}', {qf})")
    dlq = fieldnorm_case_sql("dl.doc_len")
    k1, b = DEFAULT_K1, DEFAULT_B
    return f"""
WITH {_TOK_CTE},
qterms AS (
  SELECT * FROM (VALUES {", ".join(vals)}) AS q(query_id, term, query_freq)
),
dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * {k1 + 1.0}
           / (tf.tf + {k1} * ({1.0 - b} + {b} * ({dlq}) / c.avgdl))
           * q.query_freq
         ) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus c
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, round(score, 4) AS score
FROM r WHERE rank <= {k}
"""


def corpus_stats_oracle_sql() -> str:
    return f"WITH {_TOK_CTE} SELECT n_docs, (SELECT sum(doc_len) FROM dl)::BIGINT AS total_tokens, round(avgdl, 6) AS avgdl FROM corpus"


def term_df_oracle_sql(terms: list[str]) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_TOK_CTE}
SELECT term, count(*)::BIGINT AS df
FROM tf WHERE term IN ({in_list})
GROUP BY term ORDER BY term
"""


def doclen_oracle_sql() -> str:
    dlq = fieldnorm_case_sql("doc_len")
    return f"""
WITH {_TOK_CTE}
SELECT doc_id, doc_len, ({dlq})::BIGINT AS dl_quantized
FROM dl ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Spark-side queries (run the real engine)
# ---------------------------------------------------------------------------


def q_bm25_topk(query: str, k: int = 10):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = ensure_index(spark, sf_dir)
        res = topk_exhaustive(idx, query, k=k)
        return res.select("rank", "doc_id", F.round("score", 4).alias("score"))

    return run


#: predicate for the filtered-top-k gate (over documents columns)
FILTERED_WHERE_SQL = "source = 'src1' AND n_chars >= 120"


def q_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.topk import topk_filtered

    idx = ensure_index(spark, sf_dir)
    docs = documents(spark, sf_dir)
    allowed = docs.filter(
        (F.col("source") == "src1") & (F.col("n_chars") >= 120)
    ).select("doc_id")
    res = topk_filtered(idx, QUERY_MULTI, allowed, k=10)
    return res.select("rank", "doc_id", F.round("score", 4).alias("score"))


def q_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.topk import topk_batch

    idx = ensure_index(spark, sf_dir)
    res = topk_batch(idx, BATCH_QUERIES, k=10)
    return res.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    # round via Spark's HALF_UP (matches DuckDB), not Python's HALF_EVEN
    return spark.createDataFrame(
        [(idx.num_docs, idx.total_tokens, idx.avgdl)],
        "n_docs bigint, total_tokens bigint, avgdl double",
    ).select("n_docs", "total_tokens", F.round("avgdl", 6).alias("avgdl"))


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_index(spark, sf_dir)
    dfs = idx.term_dfs(TERMS_DF)
    rows = [(t, d) for t, d in sorted(dfs.items())]
    return spark.createDataFrame(rows, "term string, df bigint")


def q_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.topk import _fieldnorm_decode_expr

    idx = ensure_index(spark, sf_dir)
    return idx.doclen().select(
        "doc_id",
        "doc_len",
        _fieldnorm_decode_expr(F.col("fieldnorm")).cast("bigint").alias("dl_quantized"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# training-pipeline operators: dedup / similarity / text analysis
# ---------------------------------------------------------------------------


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_shipped(spark)
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.dedup import dedup_exact

    return dedup_exact(documents(spark, sf_dir))


#: hot-shingle df cap for the gated jaccard query — mirrored exactly in
#: the oracle SQL (both sides drop shingles with df > cap)
JACCARD_MAX_SHINGLE_DF = 50


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        documents(spark, sf_dir), n=3, threshold=0.1,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.dedup import minhash_lsh_pairs

    ensure_shipped(spark)
    pairs = minhash_lsh_pairs(
        documents(spark, sf_dir), n=3, num_perm=32, bands=8
    )
    return pairs.filter(F.col("est_jaccard") >= 0.2).select(
        "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.dedup import simhash_table

    ensure_shipped(spark)
    return simhash_table(documents(spark, sf_dir)).orderBy("doc_id")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.dedup import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        embeddings(spark, sf_dir), threshold=0.35, exact=True
    )
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH blocked variant (the 100 TB path): sub-quadratic
    candidate generation, exact rescore. Recall < 1 by construction ->
    rows-only driver check; recall pinned vs exact by pytest."""
    from pg_textsearch_spark.operators.dedup import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        embeddings(spark, sf_dir), threshold=0.35, exact=False,
        n_bits=16, bands=8,
    )
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.hybrid import hybrid_rrf_topk

    idx = ensure_index(spark, sf_dir)
    emb = embeddings(spark, sf_dir)
    qvec = (
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    res = hybrid_rrf_topk(
        idx, QUERY_MULTI, qvec, emb=emb, k=10, candidates=50
    )
    return res.select("rank", "doc_id", F.round("rrf", 6).alias("rrf"))


def q_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF with the MATERIALIZED ANN index as the vector side —
    the 100 TB scale path of the fusion (rows-only: IVF probing has
    recall < 1 by construction; parity with the exact side is pinned
    by tests/test_hybrid.py)."""
    from pg_textsearch_spark.operators.hybrid import hybrid_rrf_topk

    idx = ensure_index(spark, sf_dir)
    ann = ensure_ann_index(spark, sf_dir)
    emb = embeddings(spark, sf_dir)
    qvec = (
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    res = hybrid_rrf_topk(
        idx, QUERY_MULTI, qvec, ann_index=ann, k=10, candidates=50,
        n_probe=8,
    )
    return res.select("rank", "doc_id", F.round("rrf", 6).alias("rrf"))


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.knn import knn_bruteforce

    emb = embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    res = knn_bruteforce(emb, queries, k=10)
    return res.select(
        "query_id", "rank", "vec_id", F.round("cos", 6).alias("cos")
    )


def ensure_ann_index(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the materialized ANN index over
    ``embeddings`` — IVF lists + LSH band tables (index/ann.py)."""
    from pg_textsearch_spark.index.ann import ANNIndex, build_ann_index

    ensure_shipped(spark)
    tag = hashlib.sha1(f"ann:{sf_dir}:v1".encode()).hexdigest()[:12]
    idx_dir = os.path.join(_INDEX_CACHE_ROOT, tag)
    with _build_lock:
        if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
            build_ann_index(
                spark, embeddings(spark, sf_dir), idx_dir,
                n_lists=16, n_bits=16, bands=8, seed=11,
            )
    return ANNIndex(spark, idx_dir)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH over the MATERIALIZED band tables (rows-only:
    recall < 1 by construction; pinned vs brute force by pytest)."""
    from pg_textsearch_spark.index.ann import ann_lsh_topk

    idx = ensure_ann_index(spark, sf_dir)
    queries = embeddings(spark, sf_dir).filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    res = ann_lsh_topk(idx, queries, k=10)
    return res.select(
        "query_id", "rank", "vec_id", F.round("cos", 6).alias("cos")
    )


def q_topk_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with document resolution (operator Q12: doc_id -> row)."""
    idx = ensure_index(spark, sf_dir)
    docs = documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    res = topk_exhaustive(idx, QUERY_MULTI, k=10, with_text=docs)
    return res.select("rank", "doc_id", "lang", "n_chars")


def topk_resolve_oracle_sql(query: str, k: int = 10) -> str:
    inner = bm25_topk_oracle_sql(query, k)
    return f"""
WITH topk AS ({inner})
SELECT t.rank, t.doc_id, d.lang, d.n_chars
FROM topk t JOIN documents d USING (doc_id)
ORDER BY t.rank
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.dedup import simhash_neardup_pairs

    ensure_shipped(spark)
    return simhash_neardup_pairs(documents(spark, sf_dir), max_hamming=16)


def q_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw tokenizer output (doc_id, term, tf) for a doc slice —
    operator I1 gated directly."""
    from pg_textsearch_spark.functions.tokenizer import spark_token_table

    ensure_shipped(spark)
    docs = documents(spark, sf_dir).filter(F.col("doc_id") < 50)
    return spark_token_table(docs, "doc_id", "text", CONFIG)


def tokenize_tf_oracle_sql() -> str:
    return f"""
WITH {_TOK_CTE}
SELECT doc_id, term, tf::INT AS tf FROM tf WHERE doc_id < 50
"""


def q_tokenize_pg_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG default-parser token classes (urls/emails/hosts/files/
    hyphen compounds; the reference's actual tokenizer contract) over
    the documents slice — rows-only: the typed scanner + Porter2 are
    not ANSI-SQL-expressible; fixture-pinned in tests/test_pg_parser."""
    from pg_textsearch_spark.functions.tokenizer import spark_token_table

    ensure_shipped(spark)
    docs = documents(spark, sf_dir).filter(F.col("doc_id") < 50)
    return spark_token_table(docs, "doc_id", "text", "pg_english")


def q_bm25vector_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25vector canonical text I/O (reference src/types/vector.c
    tpvector_in/out, test/sql/vector.sql): tokenize each doc under the
    gate config and emit the 'idx:{lexeme:tf,...}' form — entries
    bytewise-sorted, empty docs as 'idx:{}'. The oracle rebuilds the
    identical string with string_agg(... ORDER BY term)."""
    from pg_textsearch_spark.functions.bm25vector import bm25vector_text_col

    ensure_shipped(spark)
    docs = documents(spark, sf_dir).filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        bm25vector_text_col(CONFIG, "docs_idx")("text").alias("vec"),
    )


def bm25vector_text_oracle_sql() -> str:
    return f"""
WITH {_TOK_CTE}
SELECT d.doc_id,
       'docs_idx:{{' ||
       coalesce(
         (SELECT string_agg(term || ':' || tf, ',' ORDER BY term)
          FROM tf WHERE tf.doc_id = d.doc_id),
         ''
       ) || '}}' AS vec
FROM documents d
WHERE d.doc_id < 50
"""


def q_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search: per-lang counts + best score over ALL docs
    matching any query term. The reference delegates faceting to plain
    SQL around the index scan (README.md:509-529); here the relational
    layer composes directly with the scoring DataFrame."""
    from pg_textsearch_spark.operators.score_expr import score_texts

    docs = documents(spark, sf_dir)
    scores = score_texts(docs, QUERY_MULTI, config=CONFIG)
    return (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            # round before max: the oracle's CTE carries 4dp scores
            F.round(F.max(F.round("score", 4)), 4).alias("best_score"),
        )
        .orderBy("lang")
    )


def search_facets_oracle_sql(query: str) -> str:
    inner = score_texts_oracle_sql(query)
    return f"""
WITH scored AS ({inner})
SELECT d.lang, count(*)::BIGINT AS n_hits,
       round(max(s.score), 4) AS best_score
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


def q_pages_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end over the north-rule input shape (rows-only check):
    synthetic pages(url, warc_ts, html, text, lang) -> extract_text(html)
    -> build index keyed by url -> BM25 top-k. Exercises I5/I6, url
    doc-identity, and the english config in one pass."""
    import hashlib

    from pg_textsearch_spark.index.builder import build_index
    from pg_textsearch_spark.sources.pages import (
        generate_pages,
        with_extracted_text,
    )

    ensure_shipped(spark)
    tag = hashlib.sha1(f"pages:{sf_dir}:v1".encode()).hexdigest()[:12]
    idx_dir = os.path.join(_INDEX_CACHE_ROOT, tag)
    with _build_lock:
        if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
            pages = with_extracted_text(generate_pages(spark, 2000, seed=77))
            build_index(
                spark, pages, idx_dir, key_col="url",
                text_col="extracted_text", config="english", n_buckets=8,
                lineage={"input": "synthetic pages n=2000 seed=77"},
            )
    idx = BM25Index(spark, idx_dir)
    return topk_exhaustive(idx, "t0 t1 t2", k=10)


def ensure_partitioned_index(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) per-lang child indexes over documents
    (the reference's partitioned-table analog, index/partitioned.py)."""
    from pg_textsearch_spark.index.partitioned import (
        PartitionedIndex,
        build_partitioned_index,
    )

    ensure_shipped(spark)
    tag = hashlib.sha1(f"parted:{sf_dir}:{CONFIG}:v1".encode()).hexdigest()[:12]
    root = os.path.join(_INDEX_CACHE_ROOT, tag)
    with _build_lock:
        if not os.path.exists(os.path.join(root, "manifest.json")):
            build_partitioned_index(
                spark, documents(spark, sf_dir), root, "lang",
                config=CONFIG, n_buckets=N_BUCKETS,
            )
    return PartitionedIndex(spark, root)


def q_topk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-partition top-k with exact global stats over per-lang
    child indexes — score-identical to a flat index, so the ordinary
    index-free SQL oracle gates it (plus the lang join for `part`)."""
    from pg_textsearch_spark.index.partitioned import topk_partitioned

    pidx = ensure_partitioned_index(spark, sf_dir)
    res = topk_partitioned(pidx, QUERY_MULTI, k=10, stats="global")
    return res.select(
        "rank", "part", "doc_id", F.round("score", 4).alias("score")
    )


def partitioned_topk_oracle_sql(query: str, k: int = 10) -> str:
    qtf = tokenize_query(query, CONFIG)
    dlq = fieldnorm_case_sql("dl.doc_len")
    k1, b = DEFAULT_K1, DEFAULT_B
    return f"""
WITH {_TOK_CTE},
qterms AS (SELECT * FROM {_values_clause(qtf)}),
dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * {k1 + 1.0}
           / (tf.tf + {k1} * ({1.0 - b} + {b} * ({dlq}) / c.avgdl))
           * q.query_freq
         ) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus c
  GROUP BY tf.doc_id
),
j AS (
  SELECT s.doc_id, d.lang AS part, s.score
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT row_number() OVER (ORDER BY score DESC, part ASC, doc_id ASC)::INT AS rank,
       part, doc_id, round(score, 4) AS score
FROM j
ORDER BY rank
LIMIT {k}
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the MATERIALIZED index: the query is a partition-
    pruned scan of n_probe list dirs, zero query-time Python (rows-only
    — recall < 1 by construction; pinned vs brute force by pytest)."""
    from pg_textsearch_spark.index.ann import ann_ivf_topk

    idx = ensure_ann_index(spark, sf_dir)
    queries = embeddings(spark, sf_dir).filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    res = ann_ivf_topk(idx, queries, k=10, n_probe=6)
    return res.select(
        "query_id", "rank", "vec_id", F.round("cos", 6).alias("cos")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.functions import textstats as ts

    t = F.col("text")
    return documents(spark, sf_dir).select(
        "doc_id",
        ts.token_count(t).alias("n_tokens"),
        ts.quality_score(t).alias("quality"),
        ts.lang_id(t).alias("lang_pred"),
        ts.doc_fingerprint(t).alias("fingerprint"),
    ).orderBy("doc_id")


def q_score_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_textsearch_spark.operators.score_expr import score_texts

    res = score_texts(documents(spark, sf_dir), QUERY_MULTI, config=CONFIG)
    return res.select("doc_id", F.round("score", 4).alias("score"))


# ---------------------------------------------------------------------------
# oracle SQL for the training-pipeline operators
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(ts) - 2, 0) + 1)) AS r(i)
)
"""


def dedup_exact_oracle_sql() -> str:
    return (
        "SELECT min(doc_id)::BIGINT AS doc_id, count(*)::BIGINT AS dup_count "
        "FROM documents GROUP BY text"
    )


def ngram_jaccard_oracle_sql(
    threshold: float = 0.1, max_shingle_df: int | None = None
) -> str:
    # the df cap is part of the operator contract: both sides drop
    # shingles with df > cap before intersection AND union
    cap_cte = (
        f"shk AS (SELECT sh.* FROM sh JOIN (SELECT shingle FROM sh "
        f"GROUP BY shingle HAVING count(*) <= {max_shingle_df}) k "
        f"USING (shingle))"
        if max_shingle_df is not None
        else "shk AS (SELECT * FROM sh)"
    )
    return f"""
WITH {_SHINGLE_CTE},
{cap_cte},
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shk GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
  FROM shk a JOIN shk b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i::DOUBLE / (x.sz + y.sz - i), 6) AS jaccard
FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE i::DOUBLE / (x.sz + y.sz - i) >= {threshold}
"""


_COS_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform({b}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
)


def embedding_neardup_oracle_sql(threshold: float = 0.35) -> str:
    cos = _COS_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round({cos}, 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id AND {cos} >= {threshold}
"""


def knn_oracle_sql(k: int = 10, n_queries: int = 5) -> str:
    cos = _COS_SQL.format(a="e.embedding", b="q.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, e.vec_id, {cos} AS cos
  FROM embeddings e, embeddings q
  WHERE q.vec_id < {n_queries}
),
r AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC)::INT AS rank
  FROM s
)
SELECT query_id, rank, vec_id, round(cos, 6) AS cos
FROM r WHERE rank <= {k}
"""


def hybrid_rrf_oracle_sql(
    query: str, k: int = 10, c: int = 50, k0: int = 60, qvec_id: int = 0
) -> str:
    """RRF fusion oracle: BM25 top-c CTE (index-free scoring, same as
    bm25_topk_oracle_sql) full-outer-joined with exact-cosine top-c
    for the query vector ``embeddings[qvec_id]``; rrf = sum of
    1/(k0 + rank) over the rankings where the doc appears."""
    qtf = tokenize_query(query, CONFIG)
    assert qtf, "empty query"
    dlq = fieldnorm_case_sql("dl.doc_len")
    k1, b = DEFAULT_K1, DEFAULT_B
    cos = _COS_SQL.format(a="e.embedding", b="q.embedding")
    return f"""
WITH {_TOK_CTE},
qterms AS (SELECT * FROM {_values_clause(qtf)}),
dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * {k1 + 1.0}
           / (tf.tf + {k1} * ({1.0 - b} + {b} * ({dlq}) / c.avgdl))
           * q.query_freq
         ) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus c
  GROUP BY tf.doc_id
),
b AS (
  -- rank over ROUNDED scores, id tie-break (engine-reproducible
  -- fusion — mirrors operators/hybrid.py)
  SELECT doc_id, trank FROM (
    SELECT doc_id,
           row_number() OVER (
             ORDER BY round(score, 4) DESC, doc_id ASC
           ) AS trank
    FROM scored
  ) WHERE trank <= {c}
),
v AS (
  SELECT vec_id AS doc_id, vrank FROM (
    SELECT e.vec_id,
           row_number() OVER (
             ORDER BY round({cos}, 6) DESC, e.vec_id ASC
           ) AS vrank
    FROM embeddings e,
         (SELECT embedding FROM embeddings WHERE vec_id = {qvec_id}) q
  ) WHERE vrank <= {c}
),
f AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         coalesce(1.0 / ({k0} + trank), 0)
         + coalesce(1.0 / ({k0} + vrank), 0) AS rrf
  FROM b FULL JOIN v ON b.doc_id = v.doc_id
)
SELECT row_number() OVER (ORDER BY rrf DESC, doc_id ASC)::INT AS rank,
       doc_id, round(rrf, 6) AS rrf
FROM f ORDER BY rank LIMIT {k}
"""


def text_stats_oracle_sql() -> str:
    from pg_textsearch_spark.functions import textstats as ts

    return f"""
SELECT doc_id,
       {ts.token_count_sql('text')} AS n_tokens,
       {ts.quality_score_sql('text')} AS quality,
       {ts.lang_id_sql('text')} AS lang_pred,
       {ts.doc_fingerprint_sql('text')} AS fingerprint
FROM documents ORDER BY doc_id
"""


def score_texts_oracle_sql(query: str) -> str:
    qtf = tokenize_query(query, CONFIG)
    dlq = fieldnorm_case_sql("dl.doc_len")
    k1, b = DEFAULT_K1, DEFAULT_B
    return f"""
WITH {_TOK_CTE},
qterms AS (SELECT * FROM {_values_clause(qtf)}),
dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
)
SELECT tf.doc_id,
       round(sum(
         ln(1.0 + (c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
         * tf.tf * {k1 + 1.0}
         / (tf.tf + {k1} * ({1.0 - b} + {b} * ({dlq}) / c.avgdl))
         * q.query_freq
       ), 4) AS score
FROM tf
JOIN qterms q USING (term)
JOIN dfs USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN corpus c
GROUP BY tf.doc_id
ORDER BY tf.doc_id
"""


def q_bmw_topk(query: str, k: int = 10):
    """Kernel path (``topk_bmw``, a one-query ``topk_batch``),
    oracle-gated: the emitted score is the exact float64 total, so the
    result matches the same oracle SQL as the exhaustive path."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pg_textsearch_spark.operators.bmw import topk_bmw

        idx = ensure_index(spark, sf_dir)
        res = topk_bmw(idx, query, k=k)
        return res.select("rank", "doc_id", F.round("score", 4).alias("score"))

    return run


def q_topk_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive driver-side serving path (operators/serve.py):
    same kernels and exact f64 scores as BMW, zero Spark jobs in the
    hot path — gated against the same index-free oracle."""
    from pg_textsearch_spark.operators.serve import topk_serve

    idx = ensure_index(spark, sf_dir)
    rows = topk_serve(idx, QUERY_MULTI, k=10)
    return spark.createDataFrame(
        rows, "rank int, doc_id bigint, score double"
    ).select("rank", "doc_id", F.round("score", 4).alias("score"))


def harness_queries() -> dict:
    return {
        "bm25_topk_multi": q_bm25_topk(QUERY_MULTI),
        "bm25_topk_single": q_bm25_topk(QUERY_SINGLE),
        "bm25_topk_repeat": q_bm25_topk(QUERY_REPEAT),
        "bm25_topk_bmw": q_bmw_topk(QUERY_MULTI),
        "bm25_topk_serve": q_topk_serve,
        "bm25_topk_batch": q_topk_batch,
        "bm25_topk_filtered": q_topk_filtered,
        "bm25_corpus_stats": q_corpus_stats,
        "bm25_term_df": q_term_df,
        "bm25_doclen_fieldnorm": q_doclen,
        "bm25_score_texts": q_score_texts,
        "tokenize_tf": q_tokenize_tf,
        "tokenize_pg_web": q_tokenize_pg_web,
        "bm25vector_text": q_bm25vector_text,
        "bm25_topk_resolve": q_topk_resolve,
        "bm25_topk_partitioned": q_topk_partitioned,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash_pairs": q_simhash_pairs,
        "dedup_ngram_jaccard": q_ngram_jaccard,
        "dedup_minhash_lsh": q_minhash_lsh,
        "dedup_simhash": q_simhash,
        "dedup_embedding_cosine": q_embedding_neardup,
        "dedup_embedding_lsh": q_embedding_neardup_lsh,
        "knn_cosine_topk": q_knn_topk,
        "hybrid_rrf_topk": q_hybrid_rrf,
        "hybrid_rrf_ann": q_hybrid_rrf_ann,
        "knn_ann_lsh": q_ann_lsh,
        "knn_ann_ivf": q_ann_ivf,
        "text_stats": q_text_stats,
        "search_facets": q_search_facets,
        "pages_e2e_pipeline": q_pages_pipeline,
    }


def harness_oracle_sql() -> dict:
    # keys absent here (dedup_minhash_lsh, dedup_simhash, knn_ann_lsh,
    # dedup_embedding_lsh, dedup_simhash_pairs, hybrid_rrf_ann,
    # pages_e2e_pipeline) are rows-only checks: hash-based
    # approximations / recall<1 blocking / english-config stemming that
    # are not ANSI-SQL-expressible; their correctness is pinned by the
    # pytest suite instead.
    return {
        "bm25_topk_multi": bm25_topk_oracle_sql(QUERY_MULTI),
        "bm25_topk_bmw": bm25_topk_oracle_sql(QUERY_MULTI),
        "bm25_topk_serve": bm25_topk_oracle_sql(QUERY_MULTI),
        "bm25_topk_single": bm25_topk_oracle_sql(QUERY_SINGLE),
        "bm25_topk_repeat": bm25_topk_oracle_sql(QUERY_REPEAT),
        "bm25_topk_batch": topk_batch_oracle_sql(BATCH_QUERIES),
        "bm25_topk_filtered": bm25_topk_oracle_sql(
            QUERY_MULTI, where_doc_sql=FILTERED_WHERE_SQL
        ),
        "bm25_corpus_stats": corpus_stats_oracle_sql(),
        "bm25_term_df": term_df_oracle_sql(TERMS_DF),
        "bm25_doclen_fieldnorm": doclen_oracle_sql(),
        "bm25_score_texts": score_texts_oracle_sql(QUERY_MULTI),
        "tokenize_tf": tokenize_tf_oracle_sql(),
        "bm25vector_text": bm25vector_text_oracle_sql(),
        "bm25_topk_resolve": topk_resolve_oracle_sql(QUERY_MULTI),
        "bm25_topk_partitioned": partitioned_topk_oracle_sql(QUERY_MULTI),
        "dedup_exact": dedup_exact_oracle_sql(),
        "dedup_ngram_jaccard": ngram_jaccard_oracle_sql(
            0.1, JACCARD_MAX_SHINGLE_DF
        ),
        "dedup_embedding_cosine": embedding_neardup_oracle_sql(0.35),
        "knn_cosine_topk": knn_oracle_sql(10, 5),
        "hybrid_rrf_topk": hybrid_rrf_oracle_sql(QUERY_MULTI),
        "text_stats": text_stats_oracle_sql(),
        "search_facets": search_facets_oracle_sql(QUERY_MULTI),
    }
