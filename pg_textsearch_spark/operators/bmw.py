"""Block-max top-k over Spark: ``topk_bmw``, the distributed plan of
one query, and the per-run scorer behind ``topk_batch``.

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
independently inside one Arrow batch (``_score_batch_run``), and the
driver merges the run-local top-ks into each query's top k
(``topk._merge_runs``): at most k rows per run come back. A single
query is a batch of one (``topk_bmw``). Whether a query runs here at
all, or in the driver over the serving cache, is ``serve.topk_auto``'s
choice.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from pg_textsearch_spark.operators.kernel import decode_rows, impacts, score_topk
from pg_textsearch_spark.operators.topk import topk_batch


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


def topk_bmw(index, query: str, k: int = 10) -> DataFrame:
    """Distributed top-k of one query, (rank, doc_id, score): a
    one-query ``topk_batch``, so it reads the one snapshot that takes
    and runs its one scan-and-score job. ``serve.topk_auto`` picks
    between it and the in-process ``topk_serve``. Same result contract
    as topk_exhaustive: the emitted score is the exact float64 total
    (``kernel.score_topk``, one term after another in query order), so
    the result matches the exhaustive path and the DuckDB oracle at 4
    decimals."""
    return topk_batch(index, {"q": query}, k).drop("query_id")
