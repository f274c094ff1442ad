"""Fieldnorm quantization: doc length -> 1 byte, Lucene SmallFloat style.

Reference semantics: pg_textsearch stores one fieldnorm byte per doc
and scores BM25 with ``dl = decode(encode(raw_doc_len))``
(reference: src/segment/fieldnorm.c:17-335, src/types/query.c:936-944,
src/segment/scan.c:392). The 256-entry decode table is Lucene
``SmallFloat.byte4ToInt``: ids 0..39 decode exactly to 0..39, then each
successive group of 8 ids advances by a doubling step (40,42,..54 |
56,60,..84 | ...). We *generate* the table rather than copy it; the
test suite pins every entry against frozen fixture values.

encode(length) = largest id i with table[i] <= length
(binary search in the reference, ``np.searchsorted(side='right')-1``
here — identical result, vectorized).
"""

from __future__ import annotations

import numpy as np


def _build_decode_table() -> np.ndarray:
    vals = list(range(40))  # ids 0..39: exact
    step = 2
    v = 40
    while len(vals) < 256:
        for _ in range(8):
            if len(vals) == 256:
                break
            vals.append(v)
            v += step
        step *= 2
    return np.asarray(vals, dtype=np.int64)


#: decode table, FIELDNORM_DECODE_TABLE[id] -> quantized doc length
FIELDNORM_DECODE_TABLE: np.ndarray = _build_decode_table()


def encode_fieldnorm(lengths) -> np.ndarray:
    """Vectorized doc-length -> fieldnorm-id (uint8).

    Largest table index whose value <= length; negative lengths clamp
    to 0.
    """
    arr = np.asarray(lengths, dtype=np.int64)
    ids = np.searchsorted(FIELDNORM_DECODE_TABLE, arr, side="right") - 1
    return np.clip(ids, 0, 255).astype(np.uint8)


def decode_fieldnorm(ids) -> np.ndarray:
    """Vectorized fieldnorm-id -> quantized doc length (int64)."""
    arr = np.asarray(ids, dtype=np.int64)
    return FIELDNORM_DECODE_TABLE[arr]


def quantize_doc_len(lengths) -> np.ndarray:
    """decode(encode(len)) — the dl actually used in BM25 scoring."""
    return decode_fieldnorm(encode_fieldnorm(lengths))


def fieldnorm_encode_col(doc_len_col):
    """JVM Column expression computing ``encode_fieldnorm(doc_len)`` —
    ``size(filter(table, v -> v <= len)) - 1`` over the constant
    256-entry decode table (the same element_at-on-literal-table
    pattern as operators/score_expr).

    NOT used in the index build, which encodes with
    ``encode_fieldnorm`` in its Python writers; this expression exists
    for pure-SQL pipelines that cannot run Python workers at all.
    Higher-order array functions are interpreted and disable
    whole-stage codegen for their stage."""
    from pyspark.sql import functions as F

    table = F.array(*[F.lit(int(v)) for v in FIELDNORM_DECODE_TABLE])
    idx = F.size(F.filter(table, lambda v: v <= doc_len_col)) - 1
    return F.greatest(idx, F.lit(0)).cast("int")


def fieldnorm_case_sql(col: str = "doc_len") -> str:
    """ANSI-SQL expression computing ``decode(encode(col))``.

    Emits a searched CASE over the 256 quantization boundaries so a
    DuckDB oracle can reproduce the quantized dl exactly. Used by
    ``__spark_entry__.oracle_sql`` — keeps the oracle self-contained.
    """
    tbl = FIELDNORM_DECODE_TABLE
    # decode(encode(L)) = tbl[i] for tbl[i] <= L < tbl[i+1]
    parts = ["CASE"]
    for i in range(255, 0, -1):
        parts.append(f"WHEN {col} >= {int(tbl[i])} THEN {int(tbl[i])}")
    parts.append("ELSE 0 END")
    return " ".join(parts)
