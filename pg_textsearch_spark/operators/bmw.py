"""Block-max top-k over Spark: ``topk_bmw``, the distributed plan, and
the per-run scorer behind ``topk_batch``.

Reference semantics (src/scoring/bmw.c): emit exactly the exhaustive
top-k. Every plan here scores through the one kernel,
``kernel.score_topk``: exact f64 totals accumulated per doc without a
sort, tie-break (score DESC, doc_id ASC). A term's impacts
(``kernel.impacts``) are computed once per run and shared by every
query of a batch that names the term. The reference also skips
posting blocks whose upper bound cannot reach the k-th best score
(bmw.c:1526-1571), inside its one scoring pass; no plan here prunes,
since that skip belongs inside the kernel too, not in a Spark job of
its own.

Results must equal exhaustive scoring (reference:
test/sql/validation.sql:186-205) — pinned by tests/test_bmw.py against
topk_exhaustive on block-straddling fixtures (FIXTURES.md F4).

Distribution model: the reference walks every segment under one heap
on one node. Here each ``run`` (a disjoint 2^RUN_SHIFT = 8192-doc
range, all query terms co-located by the shuffle) is scored
independently inside one Arrow batch; the global ORDER BY score DESC,
doc_id ASC LIMIT k merges run-local top-ks (TakeOrderedAndProject).
Whether a query runs here at all, or in the driver over the serving
cache, is ``serve.topk_auto``'s choice.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg_textsearch_spark.operators.kernel import decode_rows, impacts, score_topk


def _score_batch_run(
    table: pa.Table,
    idfs: dict,
    qtfs: list,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dead=None,
) -> pa.Table:
    """Multi-QUERY top-k over one run's posting rows (Arrow ``term``,
    ``blocks``): decode the run's blocks once (``kernel.decode_rows``)
    and score each term's postings once (``kernel.impacts``), then call
    the scoring kernel (``kernel.score_topk``) once per query over
    those shared arrays -> Arrow (query_id, doc_id, score).

    ``idfs``: {term: idf}; ``qtfs``: [(query_id, [(term, qf), ...]),
    ...]. Queries share terms (the point of batching), so each block
    decodes and each posting is scored once per run however many
    queries reference its term. A run spans at most 8192 doc ids, so
    the kernel's accumulator is at most 64 KB per call.
    """
    entries = {
        t: (e["ids"], impacts(e["tfs"], e["fns"], idfs[t], avgdl, k1, b))
        for t, e in decode_rows(table).items()
    }
    out_q, out_d, out_s = [], [], []
    for qid, tqf in qtfs:
        present = [(qf, *entries[t]) for t, qf in tqf if t in entries]
        if not present:
            continue
        ids, scores = score_topk(present, k, dead=dead)
        out_q.extend([qid] * len(ids))
        out_d.append(ids)
        out_s.append(scores)
    return pa.table({
        "query_id": pa.array(out_q, pa.string()),
        "doc_id": pa.array(np.concatenate(out_d) if out_d else [], pa.int64()),
        "score": pa.array(np.concatenate(out_s) if out_s else [], pa.float64()),
    })


def topk_bmw(index, query: str, k: int = 10, _snap=None) -> DataFrame:
    """Distributed top-k, the Spark plan for a query whose postings
    belong on the cluster (``serve.topk_auto`` picks between it and the
    in-process ``topk_serve``). Same result contract as
    topk_exhaustive (rank, doc_id, score): every plan below scores
    through ``kernel.score_topk``, the emitted score is the exact
    float64 total (same per-term operation order as the exhaustive
    path), and the global merge ranks on it, so the result hash-matches
    the exhaustive path and the DuckDB oracle at 4 decimals, not just
    within 1e-3.

    The plan follows from the query: a single term needs no cross-term
    alignment, since every (term, run) row is an independent posting
    list, so each scan batch is scored in place (``mapInArrow``, no
    shuffle: one stage from parquet to TakeOrdered). Several terms are
    co-located per run first (``groupBy("run").applyInArrow``). Either
    way the global ``orderBy().limit()`` merges the partial top-ks.
    The query reads one snapshot: ``_snap`` (``topk_auto``'s), else the
    handle's."""
    from pyspark.sql import Window

    spark = index.spark
    snap = _snap or index.snapshot
    weights = snap.query_weights(query)
    if not weights:
        from pg_textsearch_spark.operators.serve import local_topk_df

        return local_topk_df(spark, [])
    k1, b, avgdl = snap.k1, snap.b, snap.avgdl
    iqmap = {t: (float(idf), int(qf)) for t, (idf, qf) in weights.items()}
    kk = int(k)
    # alive filtering: ship the sorted dead ids to the kernel as a
    # TorrentBroadcast (the per-segment bitset analog) — one copy per
    # executor, fetched lazily, instead of a closure literal serialized
    # into every task. Deletes are a small fraction of the corpus
    # between vacuums; at larger volumes vacuum first.
    dead_bc = None
    if snap.has_deletes:
        dead_bc = spark.sparkContext.broadcast(snap.dead_ids())

    pruned = index.pruned_postings(list(iqmap), snap).select(
        "term", "run", "blocks"
    )

    def score_rows(rows):
        dead = dead_bc.value if dead_bc is not None else None
        ids, scores = score_topk(
            [
                (iqmap[t][1], e["ids"],
                 impacts(e["tfs"], e["fns"], iqmap[t][0], avgdl, k1, b))
                for t, e in decode_rows(rows).items()
            ],
            kk, dead=dead,
        )
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "score": pa.array(scores, pa.float64()),
        })

    out_schema = "doc_id bigint, score double"
    if len(iqmap) == 1:
        def score_batches(batches):
            for batch in batches:
                out = score_rows(batch)
                if out.num_rows:
                    yield from out.to_batches()

        per_run = pruned.mapInArrow(score_batches, out_schema)
    else:
        per_run = pruned.groupBy("run").applyInArrow(score_rows, out_schema)
    topk = per_run.orderBy(F.desc("score"), F.asc("doc_id")).limit(kk)
    return topk.select(
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
        "doc_id",
        "score",
    )
