"""Top-k BM25 retrieval over the materialized index.

Two scoring plans with identical semantics (the reference's own
invariant — BMW is a pure optimization over exhaustive scoring,
reference: test/sql/validation.sql:186-205):

- The Column plan, ``live_postings`` + ``column_topk``: decode the
  pruned postings, drop pending deletes, score every posting with
  float64 JVM column expressions, sum per doc, global top-k.
  ``topk_exhaustive`` (operator Q10, the semantic ground truth the
  DuckDB oracle gate runs against), ``topk_filtered`` (a semi-join
  before the sum) and ``partitioned.topk_partitioned`` (a union of
  child scans, ranked per (part, doc_id)) are this one plan.
- The kernel plan, ``topk_batch`` (and ``bmw.topk_bmw``, a batch of
  one): the scoring kernel (operators/kernel.py) per run inside an
  Arrow UDF — decodes each posting block once, emits exact f64 totals
  (reference: bmw.c) — merged per query in the driver.

Query lifecycle (SURVEY.md §3.1 Spark equivalent): take the handle's
snapshot (``local_commit.Snapshot``: one committed manifest, its N,
avgdl, dfs, dead ids and files; every step below reads it and no
other) -> tokenize the query driver-side -> look up df per term in the
driver, a pyarrow point read of the terms' dictionary buckets with no
Spark job (``local_commit.read_term_dfs``, memoized per snapshot) ->
compute IDF driver-side -> broadcast (term, idf, query_freq) -> scan
postings with bucket+term pushdown (partition pruning plays the
dictionary binary search's role) -> score -> ORDER BY score DESC,
doc_id ASC LIMIT k.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.functions.tokenizer import tokenize_query
from pg_textsearch_spark.index.builder import term_bucket
from pg_textsearch_spark.index.codec import decompress_blocks
from pg_textsearch_spark.operators.serve import LocalIndex, local_topk_df
from pg_textsearch_spark.shipping import ensure_shipped


#: explicit read schemas (incl. partition columns): parquet dirs from
#: degenerate segments (empty corpus / empty bucket) have no footers to
#: infer from, and explicit schemas also skip footer-merging overhead
POSTINGS_READ_SCHEMA = (
    "term string, run bigint, df_run bigint, blocks "
    "array<struct<last_doc_id:bigint,doc_count:int,block_max_tf:int,"
    "block_max_norm:int,payload:binary>>, bucket int, seg int"
)
DOCLEN_READ_SCHEMA = "doc_id bigint, doc_len bigint, fieldnorm int, seg int"


def in_list(expr: str, values) -> Column:
    """``expr IN (values)`` for a list of strings or ints, built with a
    constant number of JVM calls however long the list is.
    ``Column.isin`` makes one py4j round trip per literal (0.5-2 s for
    800 query terms on a 4-vCPU host). Here the whole predicate is one
    SQL expression.
    Strings are written as ``CAST(X'<utf-8 hex>' AS STRING)``, so no
    quote, backslash or ``${...}`` in a term reaches the SQL parser or
    its variable substitution. Spark folds the casts to literals, so a
    column ``expr`` still pushes the same parquet ``In`` filter (and
    partition filter) as ``isin``. ``expr`` is SQL text: a column name
    or an expression over columns."""
    lits = [
        f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)" if isinstance(v, str)
        else str(int(v))
        for v in values
    ]
    if not lits:
        return F.lit(False)
    return F.expr(f"{expr} IN ({', '.join(lits)})")


class BM25Index(LocalIndex):
    """Spark handle over an on-disk index (manifest + postings +
    doclen): ``LocalIndex``'s snapshot reads plus the Spark scans of
    each snapshot."""

    def __init__(self, spark: SparkSession, index_dir: str):
        # every read path runs Python UDFs on the workers
        ensure_shipped(spark)
        super().__init__(index_dir)
        self.spark = spark
        #: (snapshot, its memoized scans: "postings" -> the DataFrame
        #: over its segments, term tuple -> ``pruned_postings``); the
        #: scans carry their file listing (InMemoryFileIndex), which a
        #: rebuild per query would re-list
        self._scans: tuple = (None, {})
        # serve.topk_auto's in-process reader, built on first use
        self._serving = None

    def _scan_memo(self, snap) -> dict:
        if self._scans[0] is not snap:
            self._scans = (snap, {})
        return self._scans[1]

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Unified doc_freq per term across segments (reference:
        bm25.c:46-111), from the snapshot's df memo."""
        return self.snapshot.term_dfs(terms)

    def query_weights(self, query: str) -> dict[str, tuple[float, int]]:
        """query text -> {term: (idf, query_freq)} — float64 IDF."""
        return self.snapshot.query_weights(query)

    def deleted_ids(self):
        """doc_ids marked deleted (the alive-bitset analog) as a
        DataFrame; empty when the snapshot has no pending deletes. Under
        committed deletes a missing or unreadable table raises, so a
        deleted doc never resurrects."""
        if not self.snapshot.has_deletes:
            return self.spark.createDataFrame([], "doc_id bigint")
        path = os.path.join(self.index_dir, "deletes")
        return self.spark.read.parquet(path).select("doc_id").distinct()

    def postings(self, snap=None) -> DataFrame:
        """Postings scan over the segments of ``snap`` (default: the
        handle's snapshot)."""
        snap = snap or self.snapshot
        memo = self._scan_memo(snap)
        if "postings" not in memo:
            # basePath keeps seg/bucket partition columns visible
            root = os.path.join(self.index_dir, "postings")
            memo["postings"] = self.spark.read.schema(
                POSTINGS_READ_SCHEMA
            ).option("basePath", root).parquet(*[
                os.path.join(root, f"seg={s['seg_id']}")
                for s in snap.manifest["segments"]
            ])
        return memo["postings"]

    def doclen(self) -> DataFrame:
        root = os.path.join(self.index_dir, "doclen")
        return self.spark.read.schema(DOCLEN_READ_SCHEMA).option(
            "basePath", root
        ).parquet(
            *[os.path.join(root, f"seg={s['seg_id']}") for s in self.manifest["segments"]]
        )

    def pruned_postings(self, terms: list[str], snap=None) -> DataFrame:
        """Postings scan of ``snap`` (default: the handle's snapshot)
        restricted to the query terms.

        The bucket IN (...) predicate prunes partition directories
        (file-level skip, the dictionary-lookup analog); term IN (...)
        is pushed to the Parquet row-group scan. Both are ``in_list``
        predicates, so building the plan costs a constant few JVM calls
        however many terms a batch has. The plan is memoized per term
        set and snapshot, so a repeated query also skips re-analysis.
        """
        snap = snap or self.snapshot
        memo = self._scan_memo(snap)
        key = tuple(sorted(set(terms)))
        cached = memo.get(key)
        if cached is not None:
            return cached
        buckets = sorted({term_bucket(t, snap.n_buckets) for t in terms})
        df = (
            self.postings(snap)
            .filter(in_list("bucket", buckets))
            .filter(in_list("term", key))
        )
        if len(memo) >= 4096:  # plans are small; bound anyway
            memo.clear()
        memo[key] = df
        return df

    def keymap(self) -> DataFrame | None:
        """(doc_id, doc_key) for key_col-built indexes (the ctid-map
        analog; reference: segment.c:1270-1288) — None when the index
        was built over pre-assigned integer ids."""
        segs = [
            s for s in self.manifest["segments"] if s.get("has_keymap")
        ]
        if not segs:
            return None
        root = os.path.join(self.index_dir, "keymap")
        return self.spark.read.schema("doc_id bigint, doc_key string").parquet(
            *[os.path.join(root, f"seg={s['seg_id']}") for s in segs]
        )

    def resolve_keys(self, df: DataFrame) -> DataFrame:
        """Join doc_key onto a small DataFrame carrying doc_id (a
        top-k result) — the reference's CTID resolution step
        (tp_topk_resolve_ctids, bmw.c:260-295), which also runs at
        query completion over exactly k rows.

        Materializes ``df`` (k rows) driver-side ONCE, prunes the
        corpus-scale keymap down to those ids (``doc_id IN`` pushes to
        the parquet row-group scan), and broadcast-left-joins the
        pruned keymap back on. A broadcast hint on the preserved side
        of an outer join is ineligible (Spark builds the hash table on
        the other side), so the only plans that avoid shuffling the
        keymap are (a) this id-pruned scan or (b) broadcasting the
        whole keymap — (a) is the one that survives corpus scale.
        Rows whose id has no keymap entry (segments built without
        key_col in a mixed index) keep a NULL doc_key, as before."""
        km = self.keymap()
        if km is None:
            raise ValueError(
                "index was not built with key_col; no keymap to resolve"
            )
        rows = df.collect()
        local = self.spark.createDataFrame(rows, df.schema)
        ids = [r["doc_id"] for r in rows]
        out_cols = df.columns + [c for c in km.columns if c != "doc_id"]
        pruned_km = km.filter(F.col("doc_id").isin(ids))
        return local.join(F.broadcast(pruned_km), "doc_id", "left").select(
            *out_cols
        )


_FLAT_SCHEMA = (
    "term string, run bigint, doc_id bigint, tf int, fieldnorm int"
)


def decode_postings_flat(postings: DataFrame) -> DataFrame:
    """Posting rows -> flat (term, run, doc_id, tf, fieldnorm).

    mapInArrow over the rows' Arrow batches: every block payload of a
    batch decodes in ONE ``decompress_blocks`` call (native loop, no
    per-block Python) and term/run fan out by ``take`` — no per-posting
    Python objects (an explode-of-structs UDF builds one dict per
    posting and is 10-50x slower on multi-million-posting scans).
    """

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            blocks = batch.column("blocks")
            ids, tfs, fns, counts = decompress_blocks(
                pc.struct_field(blocks.flatten(), "payload")
            )
            if not len(ids):
                continue
            row_of_blk = np.repeat(
                np.arange(batch.num_rows),
                pc.list_value_length(blocks).to_numpy(zero_copy_only=False),
            )
            row = pa.array(np.repeat(row_of_blk, counts))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("term").take(row),
                    batch.column("run").take(row),
                    pa.array(ids, pa.int64()),
                    pa.array(tfs.astype(np.int32)),
                    pa.array(fns.astype(np.int32)),
                ],
                names=["term", "run", "doc_id", "tf", "fieldnorm"],
            )

    return postings.select("term", "run", "blocks").mapInArrow(
        run, _FLAT_SCHEMA
    )


def _fieldnorm_decode_expr(col):
    """fieldnorm byte -> quantized dl as a JVM array-literal lookup."""
    table = F.array(*[F.lit(int(v)) for v in FIELDNORM_DECODE_TABLE])
    return F.element_at(table, col + 1).cast("double")


def live_postings(index: BM25Index, snap, terms) -> DataFrame:
    """``terms``' postings under ``snap`` as flat (term, run, doc_id,
    tf, fieldnorm) rows (``decode_postings_flat`` of the pruned scan),
    pending deletes anti-joined out (alive filtering; reference:
    bmw.c:542-548 via alive bitset)."""
    flat = decode_postings_flat(index.pruned_postings(list(terms), snap))
    if snap.has_deletes:
        flat = flat.join(
            F.broadcast(index.deleted_ids()), "doc_id", "left_anti"
        )
    return flat


def column_topk(
    flat: DataFrame,
    weights: dict,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    keys=("doc_id",),
) -> DataFrame:
    """The Column plan's scoring: flat postings (``live_postings``) ->
    (rank, *keys, score), the top ``k`` by (score DESC, keys ASC).

    ``weights`` is {term: (idf, query_freq)}, broadcast as a small
    table. Every posting is scored with ``bm25_score_expr`` in float64
    JVM column math, so the DuckDB oracle reproduces it bit-for-bit
    modulo summation order; the sum runs per ``keys``."""
    wdf = flat.sparkSession.createDataFrame(
        [(t, float(idf), int(qf)) for t, (idf, qf) in weights.items()],
        "term string, idf double, query_freq int",
    )
    scored = flat.join(F.broadcast(wdf), "term").select(
        *keys,
        bm25.bm25_score_expr(
            tf=F.col("tf").cast("double"),
            dl=_fieldnorm_decode_expr(F.col("fieldnorm")),
            idf=F.col("idf"),
            avgdl=F.lit(float(avgdl)),
            query_freq=F.col("query_freq").cast("double"),
            k1=k1,
            b=b,
        ).alias("term_score"),
    )
    doc_scores = scored.groupBy(*keys).agg(F.sum("term_score").alias("score"))
    return ranked_topk(doc_scores, k, keys)


def ranked_topk(scores: DataFrame, k: int, keys) -> DataFrame:
    """(*keys, score) -> (rank, *keys, score): ORDER BY score DESC,
    keys ASC LIMIT k, then ``rank`` (the reference's deterministic
    tie-break, bmw.c:301-319)."""
    order = [F.desc("score"), *[F.asc(c) for c in keys]]
    topk = scores.orderBy(*order).limit(int(k))
    # k rows at most here — the unpartitioned window is a k-row sort
    return topk.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"),
        *keys,
        "score",
    )


def topk_exhaustive(
    index: BM25Index, query: str, k: int = 10, with_text: DataFrame | None = None
) -> DataFrame:
    """Exhaustive score-all-matching-docs top-k (operator Q10): the
    Column plan over the handle's snapshot.

    Emits (rank, doc_id, score) ordered by (score DESC, doc_id ASC) —
    the reference's deterministic tie-break (reference: bmw.c:301-319).
    All scoring arithmetic is float64 column math so the DuckDB oracle
    reproduces it bit-for-bit modulo summation order.
    """
    spark = index.spark
    snap = index.snapshot
    weights = snap.query_weights(query)
    if not weights:
        empty = spark.createDataFrame(
            [], "rank int, doc_id bigint, score double"
        )
        if with_text is not None:
            # keep the schema query-independent: an all-stopword query
            # must return the same columns the joined path does
            empty = empty.join(with_text, "doc_id", "left")
        return empty
    ranked = column_topk(
        live_postings(index, snap, weights), weights,
        snap.avgdl, snap.k1, snap.b, k,
    )
    if with_text is not None:
        # prune the text table to the k result ids BEFORE broadcasting
        # (the resolve_keys pattern): broadcasting the un-pruned corpus
        # text table is a driver-OOM at any real scale. One eager
        # collect of k scalar rows, then an isin-pruned scan feeds a
        # k-row broadcast; ranked is rebuilt as a local relation so the
        # top-k job is not re-run by the join.
        rows = ranked.collect()
        ranked = local_topk_df(
            spark, [(r["rank"], r["doc_id"], r["score"]) for r in rows]
        )
        ids = [r["doc_id"] for r in rows]
        pruned_text = with_text.filter(F.col("doc_id").isin(ids))
        ranked = ranked.join(F.broadcast(pruned_text), "doc_id", "left")
    return ranked


def topk_filtered(
    index: BM25Index,
    query: str,
    allowed: DataFrame,
    k: int = 10,
    on: str = "doc_id",
) -> DataFrame:
    """Top-k restricted to documents passing a relational predicate —
    the reference's filtered index scan (its AM returns score-ordered
    candidates, Postgres applies the WHERE clause, and the
    limit-doubling rescan fetches deeper until k survive; reference:
    scan.c rescan/limit handling, SURVEY.md S1-S5).

    Spark-first inversion: instead of over-fetching and re-fetching,
    the predicate joins INTO the scoring plan — ``allowed`` is any
    DataFrame carrying the surviving keys (``doc_id``, or ``doc_key``
    for key-built indexes via ``on="doc_key"``), e.g.
    ``docs.filter(...).select("doc_id")``. The Column plan semi-joins
    the live postings against it BEFORE aggregation, so selective
    predicates shrink the aggregate instead of inflating the fetch
    depth; Catalyst broadcasts the filter side when it is small and
    falls back to a shuffle join when it is not. One pass, exact k,
    no doubling loop — semantics otherwise identical to
    ``topk_exhaustive`` (float64 math, (score DESC, doc_id ASC))."""
    spark = index.spark
    if on not in ("doc_id", "doc_key"):
        raise ValueError(f"on must be 'doc_id' or 'doc_key', got {on!r}")
    if on == "doc_key":
        km = index.keymap()
        if km is None:
            raise ValueError("on='doc_key' needs a key_col-built index")
        allowed = km.join(
            allowed.select("doc_key").distinct(), "doc_key"
        ).select("doc_id")
    else:
        allowed = allowed.select("doc_id").distinct()
    snap = index.snapshot
    weights = snap.query_weights(query)
    if not weights:
        return spark.createDataFrame(
            [], "rank int, doc_id bigint, score double"
        )
    flat = live_postings(index, snap, weights).join(allowed, "doc_id", "semi")
    return column_topk(flat, weights, snap.avgdl, snap.k1, snap.b, k)


def topk_batch(
    index: BM25Index,
    queries: dict[str, str] | dict[int, str],
    k: int = 10,
) -> DataFrame:
    """Evaluate MANY queries in one pass: (query_id, rank, doc_id, score).

    This is where Spark beats a single-node server on throughput: one
    postings scan over the union of all query terms, sharded by run
    (disjoint 8192-doc ranges, every query term co-located). Per run
    (``bmw._score_batch_run``, an ``applyInArrow`` over the run's Arrow
    rows) each posting block decodes and each posting is scored
    (``kernel.impacts``) AT MOST ONCE no matter how many queries share
    its term, then the one scoring kernel (``kernel.score_topk``) runs
    once per query over those shared arrays and emits <= k rows per
    (query, run). Those k*runs
    candidates per query come back as Arrow and the driver merges them
    into each query's top k (``_merge_runs``).

    A sweep of uncached terms runs two Spark jobs: the scan-and-score
    job's shuffle stage and its result stage. The df lookup reads the
    dictionary files in the driver (the snapshot's ``term_dfs``), and
    the whole sweep reads the one snapshot it takes at its start. Every
    term-list predicate is an ``in_list``, so plan building costs the
    same for 10 terms or 1,000.

    Semantics per query are identical to ``topk_exhaustive`` (same
    float64 per-posting math and op order, same (score DESC, doc_id
    ASC) tie-break). The result is a driver-local DataFrame: the
    scoring job has already run when this returns.
    """
    spark = index.spark
    from pg_textsearch_spark.operators.bmw import _score_batch_run

    snap = index.snapshot
    per_query = {
        str(qid): tokenize_query(qtext, snap.config)
        for qid, qtext in queries.items()
    }
    if len(per_query) != len(queries):
        # e.g. {1: ..., '1': ...} — one query would silently vanish
        raise ValueError(
            "topk_batch: query ids collide after string coercion "
            "(results carry query_id as string)"
        )
    all_terms = sorted({t for qtf in per_query.values() for t in qtf})
    empty = "query_id string, rank int, doc_id bigint, score double"
    if not all_terms:
        return spark.createDataFrame([], empty)
    dfs = snap.term_dfs(all_terms)
    if not dfs:
        return spark.createDataFrame([], empty)
    idfs = {t: bm25.idf(snap.num_docs, df) for t, df in dfs.items()}
    # per query, its live terms with their query frequencies
    qtfs = [
        (qid, live)
        for qid, qtf in per_query.items()
        if (live := [(t, int(qf)) for t, qf in qtf.items() if t in idfs])
    ]
    live_terms = sorted(idfs)
    pruned = index.pruned_postings(live_terms, snap).select(
        "term", "run", "blocks"
    )

    dead_bc = None
    if snap.has_deletes:
        dead_bc = spark.sparkContext.broadcast(snap.dead_ids())

    kk = int(k)
    k1, b, avgdl = snap.k1, snap.b, snap.avgdl

    def score_run(table):
        dead = dead_bc.value if dead_bc is not None else None
        return _score_batch_run(table, idfs, qtfs, kk, k1, b, avgdl, dead=dead)

    per_run = pruned.groupBy("run").applyInArrow(
        score_run, "query_id string, doc_id bigint, score double"
    )
    return spark.createDataFrame(_merge_runs(per_run.toArrow(), kk))


def _merge_runs(per_run: pa.Table, k: int) -> pa.Table:
    """Per-query top-k over the run-local top-ks, in the driver:
    (query_id, doc_id, score) -> (query_id, rank, doc_id, score),
    ordered (query_id, score DESC, doc_id ASC), ``rank`` <= k."""
    t = per_run.sort_by(
        [("query_id", "ascending"), ("score", "descending"), ("doc_id", "ascending")]
    )
    # sorted by query_id, so the dictionary codes ascend with it and a
    # row's rank is its distance from the first row of its code
    codes = pc.dictionary_encode(t.column("query_id").combine_chunks())
    codes = codes.indices.to_numpy()
    rank = np.arange(t.num_rows) - np.searchsorted(codes, codes) + 1
    return (
        t.append_column("rank", pa.array(rank, pa.int32()))
        .filter(pa.array(rank <= k))
        .select(["query_id", "rank", "doc_id", "score"])
    )
