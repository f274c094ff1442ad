"""BM25 scoring math — the one formula everything else serves.

Reference semantics:
- IDF = ln(1 + (N - df + 0.5) / (df + 0.5)), always >= 0
  (reference: src/scoring/bm25.c:28-35).
- per-(doc,term) score = idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
  multiplied by the query-term frequency; doc score = sum over query
  terms (reference: bmw.c:382-396,1450-1457).
- dl is the *quantized* doc length decode(encode(doc_len));
  avgdl = total_len / N over *raw* lengths (reference:
  bm25.c:155-191, query.c:863-944, segment/scan.c:392).
- defaults k1=1.2, b=0.75 (reference: src/constants.h:78-80).
- the reference's index-scan arithmetic is float32 (reference:
  bmw.c:382-396), with an acceptance tolerance of 1e-3 absolute per
  rank; every path here computes in float64 and matches the oracle at
  4 decimals.

The same formula in three forms: Spark Column expressions and an SQL
string (below; the DuckDB oracle computes in float64 too), and the
scoring kernel's numpy float64 (``operators.kernel.impacts``, a term's
per-posting score before the query-frequency factor), operation-ordered
like the Column expression. Every Python-side IDF is ``idf`` below.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover — annotations only
    from pyspark.sql import Column

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def idf(n_docs: int, df: int) -> float:
    """float64 IDF, operation-ordered like ``idf_expr``."""
    return math.log1p((n_docs - df + 0.5) / (df + 0.5))


# ---------------------------------------------------------------------------
# Spark Column expressions (float64, mirrors the DuckDB oracle exactly)
# ---------------------------------------------------------------------------


def idf_expr(n_docs: Column, df: Column) -> Column:
    from pyspark.sql import functions as F

    return F.log1p((n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))


def bm25_score_expr(
    tf: Column,
    dl: Column,
    idf: Column,
    avgdl: Column,
    query_freq: Column,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> Column:
    from pyspark.sql import functions as F

    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    return idf * tf * F.lit(k1 + 1.0) / (tf + norm) * query_freq


def bm25_score_sql(
    tf: str,
    dl: str,
    idf: str,
    avgdl: str,
    query_freq: str,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> str:
    """The identical formula as an ANSI-SQL string (for the DuckDB oracle)."""
    return (
        f"({idf}) * ({tf}) * {k1 + 1.0!r} / "
        f"(({tf}) + {k1!r} * ({1.0 - b!r} + {b!r} * ({dl}) / ({avgdl}))) * ({query_freq})"
    )


def idf_sql(n_docs: str, df: str) -> str:
    return f"ln(1.0 + (({n_docs}) - ({df}) + 0.5) / (({df}) + 0.5))"
