"""Tokenization: text -> (term, tf) multiset, the engine's front door.

Reference semantics (pg_textsearch delegates to Postgres text-search
configs, then extracts ``(lexeme, tf)`` with ``doc_len = sum(tf)``;
reference: src/access/build.c:734-788):

- tf(d, t) = number of occurrences of lexeme t after config processing
  (lowercase -> word segmentation -> stopword removal -> stemming).
- doc_len  = sum of tf over the doc's surviving lexemes
  (reference: build.c:781).
- tokens longer than 2047 chars are dropped (Postgres MAXSTRLEN;
  reference: README.md:581-593).
- documents larger than 256 KB are tokenized in chunks split at the
  last ASCII whitespace at or before the boundary, then per-term tf
  summed (reference: build.c:806-1059). Our tokenizers are
  position-independent so chunked == unchunked by construction; the
  chunker exists to bound per-row memory and is equivalence-tested.
- ``text[]`` columns are space-joined first, skipping NULL/empty
  elements (reference: src/types/array.c:36-70) — use
  ``F.concat_ws(" ", col)`` / ``array_join`` before tokenizing.

Built-in configs (the reference's configs are Postgres objects; ours
are tokenizer specs pinned by conformance fixtures):

- ``ascii``      : runs of [a-z0-9] over lowercased text. Exactly
                   expressible in ANSI SQL (DuckDB oracle parity).
- ``simple``     : runs of Unicode letters/digits over lowercased text
                   (word-split approximation of Postgres 'simple').
- ``english``    : simple + Snowball english stopwords + Porter2 stem.
- ``pg_simple``  : PG default-parser token classes (urls, emails,
                   hosts, files, versions, hyphenated compounds+parts;
                   functions/pg_parser.py), no stem/stopwords.
- ``pg_english`` : pg_simple classes; word classes additionally get
                   stopwords + Porter2 (the PG 'english' mapping
                   shape) — the highest-parity config for web text.
- language configs (french/german/spanish...) via functions/languages.

Where each form runs: one Python tokenizer, ``tokenize``, everywhere.
The index build and every commit run it through ``tokenize_batch`` in
their segment writers (one build writer task per core, one field memo
per batch), queries run it in the driver, and ``spark_token_table``
(scoring expressions, harness queries) runs ``tokenize_batch`` over
each Arrow batch of a ``mapInArrow``.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

from typing import TYPE_CHECKING

from pg_textsearch_spark.functions.stemmer import stem
from pg_textsearch_spark.functions.stopwords import ENGLISH_STOPWORDS

if TYPE_CHECKING:  # pragma: no cover — annotations only
    from pyspark.sql import Column, DataFrame

# pandas / pyspark are imported INSIDE the functions that need them
# (round 8): the pure-Python tokenize/tokenize_query path is what the
# Spark-free serving workers import, and a module-level pyspark+pandas
# import cost every spawned pool worker ~0.6 s and ~90 MB for nothing.

TOKEN_MAX_CHARS = 2047  # Postgres MAXSTRLEN (reference: README.md:581-593)
CHUNK_BYTES = 256 * 1024  # TP_TSVECTOR_CHUNK_BYTES (reference: build.c:806)


@dataclass(frozen=True)
class TokenizerConfig:
    name: str
    py_pattern: str  # Python re pattern matching one token
    stopwords: frozenset[str] = field(default_factory=frozenset)
    do_stem: bool = False
    #: "words" = ``py_pattern`` word tokenizer;
    #: "pg" = PG-default-parser token classes (functions/pg_parser.py:
    #: urls/emails/hosts/files/versions/hyphenated compounds+parts);
    #: stop+stem then apply only to PG_STEM_CLASSES lexemes
    parser: str = "words"
    #: Snowball stemmer applied when do_stem: "english" (Porter2,
    #: functions/stemmer.py) or a language from functions/languages.py
    stem_lang: str = "english"

    def stem_fn(self):
        if self.stem_lang == "english":
            return stem
        from pg_textsearch_spark.functions.languages import get_stemmer

        return get_stemmer(self.stem_lang)


CONFIGS: dict[str, TokenizerConfig] = {
    "ascii": TokenizerConfig(name="ascii", py_pattern=r"[a-z0-9]+"),
    "simple": TokenizerConfig(name="simple", py_pattern=r"[^\W_]+"),
    "english": TokenizerConfig(
        name="english",
        py_pattern=r"[^\W_]+",
        stopwords=ENGLISH_STOPWORDS,
        do_stem=True,
    ),
    # PG default-parser analogs: typed token classes over web text.
    # The reference's actual tokenizer contract (README.md:581-629) —
    # highest-parity configs for corpora containing URLs/emails/paths.
    "pg_simple": TokenizerConfig(
        name="pg_simple",
        py_pattern="",
        parser="pg",
    ),
    "pg_english": TokenizerConfig(
        name="pg_english",
        py_pattern="",
        stopwords=ENGLISH_STOPWORDS,
        do_stem=True,
        parser="pg",
    ),
}


def _register_language_configs() -> None:
    """french/german/spanish (reference: README.md:184-191 — 'any PG
    text config'; these three ship with Postgres). Word-split parser +
    Snowball stemmer + the standard stopword list; pg_-prefixed
    variants add the typed token classes for web text."""
    from pg_textsearch_spark.functions.languages import (
        FRENCH_STOPWORDS,
        GERMAN_STOPWORDS,
        SPANISH_STOPWORDS,
    )

    for lang, stops in (
        ("french", FRENCH_STOPWORDS),
        ("german", GERMAN_STOPWORDS),
        ("spanish", SPANISH_STOPWORDS),
    ):
        CONFIGS[lang] = TokenizerConfig(
            name=lang,
            py_pattern=r"[^\W_]+",
            stopwords=stops,
            do_stem=True,
            stem_lang=lang,
        )
        CONFIGS[f"pg_{lang}"] = TokenizerConfig(
            name=f"pg_{lang}",
            py_pattern="",
            stopwords=stops,
            do_stem=True,
            parser="pg",
            stem_lang=lang,
        )


_register_language_configs()


def get_config(name: str) -> TokenizerConfig:
    try:
        return CONFIGS[name]
    except KeyError:
        raise ValueError(f"unknown text config {name!r}; have {sorted(CONFIGS)}")


def register_config(
    name: str,
    base: str = "simple",
    extra_stopwords: frozenset[str] | set[str] = frozenset(),
    do_stem: bool | None = None,
) -> TokenizerConfig:
    """Register a custom text config (the reference's extension point:
    custom text-search configurations, README.md:694-732). Derives
    from a base config (including ``pg_*`` parser configs); indexes
    store the config name in their manifest, so a registered name must
    be stable across sessions."""
    b = get_config(base)
    cfg = TokenizerConfig(
        name=name,
        py_pattern=b.py_pattern,
        stopwords=frozenset(b.stopwords) | frozenset(extra_stopwords),
        do_stem=b.do_stem if do_stem is None else do_stem,
        parser=b.parser,
        stem_lang=b.stem_lang,
    )
    CONFIGS[name] = cfg
    return cfg


# ---------------------------------------------------------------------------
# Pure-Python path (conformance oracle + driver-side query tokenization)
# ---------------------------------------------------------------------------


def _chunk_boundaries(text: str, chunk_bytes: int = CHUNK_BYTES):
    """Split text into chunks of <= chunk_bytes bytes at ASCII whitespace.

    Mirrors the reference's chunked tokenization for >256 KB docs
    (reference: build.c:867-898 — split at last ASCII whitespace at or
    before the byte boundary, falling back to a character boundary).
    """
    if len(text) * 4 <= chunk_bytes:
        # utf-8 is <= 4 bytes/char: the common small doc skips the encode
        yield text
        return
    data = text.encode("utf-8")
    if len(data) <= chunk_bytes:
        yield text
        return
    start = 0
    n = len(data)
    while start < n:
        end = min(start + chunk_bytes, n)
        if end < n:
            ws = max(
                data.rfind(b" ", start, end),
                data.rfind(b"\t", start, end),
                data.rfind(b"\n", start, end),
                data.rfind(b"\r", start, end),
            )
            if ws > start:
                end = ws + 1
            else:
                # no whitespace: back up to a utf-8 char boundary
                while end > start and (data[end] & 0xC0) == 0x80:
                    end -= 1
                if end == start:
                    end = min(start + chunk_bytes, n)
        yield data[start:end].decode("utf-8", errors="ignore")
        start = end


def token_stream(
    text: str,
    config: TokenizerConfig | str = "english",
    _memo: dict | None = None,
) -> list[str]:
    """Ordered surviving tokens of one document (post stop/stem)."""
    cfg = get_config(config) if isinstance(config, str) else config
    if cfg.parser == "pg":
        return _pg_token_stream(text, cfg, _memo)
    rx = re.compile(cfg.py_pattern)
    stem_fn = cfg.stem_fn() if cfg.do_stem else None
    out: list[str] = []
    for chunk in _chunk_boundaries(text):
        for tok in rx.findall(chunk.lower()):
            if len(tok) > TOKEN_MAX_CHARS:
                continue
            if tok in cfg.stopwords:
                continue
            out.append(stem_fn(tok) if stem_fn else tok)
    return out


#: max entries in a shared field memo (~tens of MB worst case)
_FIELD_MEMO_CAP = 1 << 20


def _pg_token_stream(
    text: str, cfg: TokenizerConfig, _memo: dict | None = None
) -> list[str]:
    """Typed-token path: scan classes, then apply the class->dictionary
    mapping — stop+stem for word classes, lowercase verbatim for the
    rest (the PG 'english' config's mapping shape).

    Fast path (the round-2 pg_english build ran at ~1/4 the word-split
    config's throughput, almost all of it the 14-alternation scanner):
    strip tags with one C regex pass (tags are the only class spanning
    whitespace and nothing else consumes '<' — see pg_parser.py), then
    split on whitespace; a field with no structural trigger char can
    only yield plain `word` tokens, so it runs a 1-class findall plus a
    memoized lower/stop/stem lookup (Zipf makes the memo hit rate very
    high). Fields WITH trigger chars go through the full ``pg_scan``
    unchanged. Equivalence with the pure scanner is pytest-pinned over
    the frozen fixtures and a randomized corpus.

    ``_memo`` caches raw word -> final lexeme (or None if dropped)
    ACROSS calls for one config — pass a shared dict from batch kernels.
    """
    from pg_textsearch_spark.functions.pg_parser import (
        DIGIT_RE,
        PG_STEM_CLASSES,
        PLAIN_WORD_RE,
        STRUCT_RE,
        TAG_SUB_RE,
        pg_scan,
    )

    stem_fn = cfg.stem_fn() if cfg.do_stem else None
    stops = cfg.stopwords
    struct_search = STRUCT_RE.search
    digit_search = DIGIT_RE.search
    plain_findall = PLAIN_WORD_RE.findall

    def field_lexemes(field: str) -> tuple[str, ...]:
        if struct_search(field) is None:
            if digit_search(field) is None:
                # word-class-only field
                lex = []
                for tok in plain_findall(field):
                    t = tok.lower()
                    if len(t) > TOKEN_MAX_CHARS or t in stops:
                        continue
                    lex.append(stem_fn(t) if stem_fn else t)
                return tuple(lex)
            if field.isalnum():
                # one uint/sfloat/numword token == the whole field
                # (see pg_parser.py fast-path proof); all non-stem
                # classes -> lowercased verbatim
                if len(field) <= TOKEN_MAX_CHARS:
                    return (field.lower(),)
                return ()
        lex = []
        for cls, tok in pg_scan(field):
            tok = tok.lower()
            if len(tok) > TOKEN_MAX_CHARS:
                continue
            if cls in PG_STEM_CLASSES:
                if tok in stops:
                    continue
                lex.append(stem_fn(tok) if stem_fn else tok)
            else:
                lex.append(tok)
        return tuple(lex)

    # memo is per raw FIELD -> lexeme tuple: Zipf makes the hit rate
    # near 1, so the steady-state cost per field is one dict probe and
    # one list.extend — no regex, no stemming, no lowering. Capped so a
    # long-lived executor tokenizing an adversarial corpus (unbounded
    # distinct fields) can't grow it without bound; past the cap,
    # misses are computed uncached.
    if _memo is None:
        _memo = {}
    memo_get = _memo.get
    out: list[str] = []
    ext = out.extend
    for chunk in _chunk_boundaries(text):
        if "<" in chunk:
            chunk = TAG_SUB_RE.sub(" ", chunk)
        for field in chunk.split():
            r = memo_get(field)
            if r is None:
                r = field_lexemes(field)
                if len(_memo) < _FIELD_MEMO_CAP:
                    _memo[field] = r
            ext(r)
    return out


def tokenize(
    text: str,
    config: TokenizerConfig | str = "english",
    _memo: dict | None = None,
) -> dict[str, int]:
    """text -> {term: tf}. doc_len is ``sum(result.values())``.

    ``_memo`` (pg configs only): shared raw-word -> lexeme cache for
    batch kernels tokenizing many docs under one config."""
    return dict(Counter(token_stream(text, config, _memo)))


def tokenize_query(query: str, config: TokenizerConfig | str = "english") -> dict[str, int]:
    """Query text -> {term: query_freq}.

    The query-term frequency multiplies that term's score contribution
    (reference: src/planner/../bmw.c:759-761,1450-1457 and the MS MARCO
    ground-truth SQL: 'CRITICAL: multiply by query term frequency').
    """
    return tokenize(query, config)


# ---------------------------------------------------------------------------
# Batch and Spark forms (segment writers, scoring expressions)
# ---------------------------------------------------------------------------


def tokenize_batch(texts: list, config):
    """texts (None allowed) -> (doc index, term, tf) postings + doc_len
    per doc, with the query path's own ``tokenize`` and one field memo
    for the whole batch."""
    import numpy as np
    import pyarrow as pa

    memo: dict = {}
    terms: list[str] = []
    tfs: list[int] = []
    n_terms = np.zeros(len(texts), dtype=np.int64)
    doc_len = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        if not text:
            continue
        counts = tokenize(text, config, _memo=memo)
        terms.extend(counts)
        tfs.extend(counts.values())
        n_terms[i] = len(counts)
        doc_len[i] = sum(counts.values())
    doc_idx = np.repeat(np.arange(len(texts)), n_terms)
    return (
        doc_idx, pa.array(terms, pa.string()),
        np.asarray(tfs, dtype=np.int64), doc_len,
    )


def flatten_text_array(col: Column | str) -> Column:
    """``text[]`` -> one space-joined text, skipping NULL and empty
    elements (operator I4; reference: tp_flatten_text_array,
    src/types/array.c:36-70). BM25 over the flattened column matches
    the concatenated-scalar equivalent exactly (the reference documents
    the same invariant, test/sql/text_array.sql:27-55) — apply before
    ``build_index`` to index an array column."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(
        F.filter(c, lambda x: x.isNotNull() & (x != F.lit(""))), " "
    )


def spark_token_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    config: TokenizerConfig | str = "english",
) -> DataFrame:
    """docs(id, text) -> tokens(id, term, tf), one row per distinct
    term of a doc and none for a doc without tokens: ``tokenize_batch``
    over each Arrow batch of the docs in one ``mapInArrow`` — per-batch
    Python, not a per-row UDF ("Accelerating Python UDFs in Vectorized
    Query Execution", CIDR 2022). Every config, so the rows are the
    writers' and the query path's tokens by construction."""
    import pyarrow as pa

    cfg = get_config(config) if isinstance(config, str) else config
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for batch in batches:
            doc_idx, terms, tfs, _ = tokenize_batch(
                batch.column(1).to_pylist(), cfg
            )
            if len(terms):
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0).take(pa.array(doc_idx)), terms,
                     pa.array(tfs, pa.int32())],
                    names=[id_col, "term", "tf"],
                )

    return df.select(id_col, text_col).mapInArrow(
        run, f"`{id_col}` {id_type}, term string, tf int"
    )


# bm25vector-shaped output for API parity with the reference's
# tokenize-to-vector path (reference: src/types/vector.h:7-54)
_VECTOR_SCHEMA = "array<struct<term:string,tf:int>>"


def tokenize_vector_udf(config_name: str = "english"):
    """pandas UDF: text -> array<struct<term,tf>> (a 'bm25vector').

    Used for the memtable-style incremental path and per-row scoring
    operator, where one column must carry the whole tokenized doc.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cfg = get_config(config_name)

    def _tok(texts):
        memo: dict = {}  # shared field->lexeme cache across the batch

        def one(t):
            if t is None:
                return []
            counts = tokenize(t, cfg, _memo=memo)
            return [{"term": k, "tf": v} for k, v in sorted(counts.items())]

        return texts.map(one)

    _tok.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_tok, _VECTOR_SCHEMA)
