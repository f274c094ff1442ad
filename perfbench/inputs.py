"""Seeded inputs: a pages corpus, churn batches and query streams.

Everything here derives from the workload seed alone and is generated
by the benchmark itself, so a change to the program's own synthetic
data generator cannot change what the benchmark feeds it. The corpus
follows the MS-MARCO-like shape the program is built for: Zipf(1.15)
term popularity over a fixed vocabulary, log-normal passage lengths
around 29 terms, and about one passage in ten carrying one or two
globally unique tail terms.

Every token is lowercase ``[a-z0-9]+`` and none is an English stopword,
so the number of indexed tokens of a passage is the number of its
whitespace-separated words under any of the program's tokenizers. The
output checks count tokens that way, independently of the program.
"""

from __future__ import annotations

import math

import numpy as np

ZIPF_S = 1.15
#: sweep bucket shape (query length -> query count) of MS MARCO's
#: 691-query validation sweep, as the program's own sweep uses it
SWEEP_SHAPE = {1: 72, 2: 136, 4: 120, 6: 48, 8: 24}
#: log-uniform term ranks of the sweep: heavy head, long tail
SWEEP_RANK_RANGE = (2, 35_000)


class Vocab:
    """Zipf(ZIPF_S) popularity over ``size`` terms ``t0 .. t{size-1}``."""

    def __init__(self, size: int):
        w = np.arange(1, size + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()
        self.terms = np.array([f"t{i}" for i in range(size)])

    def draw(self, rng: np.random.Generator, n: int, top: int = 0) -> np.ndarray:
        """``n`` Zipf-popular terms, from the ``top`` most popular if set."""
        scale = self.cdf[top - 1] if top else 1.0
        ranks = np.searchsorted(self.cdf, rng.random(n) * scale, side="left")
        return self.terms[np.minimum(ranks, len(self.terms) - 1)]


def url_of(doc: int) -> str:
    return f"https://example.org/doc/{doc:012d}"


def passages(
    rng: np.random.Generator, vocab: Vocab, first_doc: int, n: int
) -> list[str]:
    """``n`` passage texts for docs ``first_doc .. first_doc + n - 1``."""
    lens = np.maximum(3, rng.lognormal(math.log(29.0), 0.7, n).astype(np.int64))
    words = vocab.draw(rng, int(lens.sum()))
    tails = rng.random(n) < 0.1
    out = []
    for i, chunk in enumerate(np.split(words, np.cumsum(lens)[:-1])):
        text = " ".join(chunk)
        if tails[i]:
            doc = first_doc + i
            text += "".join(f" u{doc}x{j}" for j in range(1 + doc % 2))
        out.append(text)
    return out


def write_pages(path: str, urls: list[str], texts: list[str]) -> None:
    """Write a ``pages(url, text)`` parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"url": urls, "text": texts}), path)


def token_count(texts: list[str]) -> int:
    return sum(len(t.split()) for t in texts)


def sweep_queries(rng: np.random.Generator) -> dict[int, dict[str, str]]:
    """MS-MARCO-shaped sweep: bucket -> {query_id: text}, terms drawn
    log-uniform over SWEEP_RANK_RANGE."""
    lo, hi = (math.log(r) for r in SWEEP_RANK_RANGE)
    out: dict[int, dict[str, str]] = {}
    for ntok, count in SWEEP_SHAPE.items():
        ranks = np.exp(rng.uniform(lo, hi, (count, ntok))).astype(np.int64)
        out[ntok] = {
            f"s{ntok}_{i}": " ".join(f"t{r}" for r in row)
            for i, row in enumerate(ranks)
        }
    return out


def zipf_queries(
    rng: np.random.Generator, vocab: Vocab, n: int, top: int, max_len: int = 8
) -> list[str]:
    """Serving mix: 1..max_len terms per query, Zipf-popular terms from
    the ``top`` most popular."""
    lens = rng.integers(1, max_len + 1, n)
    words = vocab.draw(rng, int(lens.sum()), top)
    return [" ".join(c) for c in np.split(words, np.cumsum(lens)[:-1])]


def arrivals(rate: float, seconds: float) -> np.ndarray:
    """Due offsets (s) of a fixed-rate schedule over ``seconds``."""
    return np.arange(int(rate * seconds)) / rate
