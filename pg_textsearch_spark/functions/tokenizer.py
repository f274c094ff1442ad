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

Where each form runs: the index build and every commit tokenize with
the pure-Python ``tokenize`` in their segment writers (one build writer
task per core, a field->lexeme memo per task), and queries tokenize
with it in the driver. ``spark_token_table`` is the Spark-plan form
(scoring expressions, harness queries): word segmentation is a
JVM-side ``split``/``explode`` (whole-stage codegen), and only the
``english`` config additionally runs an Arrow-batched pandas UDF over
the *term column* with an lru-cached stemmer.
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
    sql_split_pattern: str  # Java/DuckDB regex splitting on non-token runs
    stopwords: frozenset[str] = field(default_factory=frozenset)
    do_stem: bool = False
    #: "words" = split-regex word tokenizer (JVM-side in the build);
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
    "ascii": TokenizerConfig(
        name="ascii",
        py_pattern=r"[a-z0-9]+",
        sql_split_pattern=r"[^a-z0-9]+",
    ),
    "simple": TokenizerConfig(
        name="simple",
        py_pattern=r"[^\W_]+",
        sql_split_pattern=r"[^\p{L}\p{N}]+",
    ),
    "english": TokenizerConfig(
        name="english",
        py_pattern=r"[^\W_]+",
        sql_split_pattern=r"[^\p{L}\p{N}]+",
        stopwords=ENGLISH_STOPWORDS,
        do_stem=True,
    ),
    # PG default-parser analogs: typed token classes over web text.
    # The reference's actual tokenizer contract (README.md:581-629) —
    # highest-parity configs for corpora containing URLs/emails/paths.
    "pg_simple": TokenizerConfig(
        name="pg_simple",
        py_pattern="",
        sql_split_pattern="",
        parser="pg",
    ),
    "pg_english": TokenizerConfig(
        name="pg_english",
        py_pattern="",
        sql_split_pattern="",
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
            sql_split_pattern=r"[^\p{L}\p{N}]+",
            stopwords=stops,
            do_stem=True,
            stem_lang=lang,
        )
        CONFIGS[f"pg_{lang}"] = TokenizerConfig(
            name=f"pg_{lang}",
            py_pattern="",
            sql_split_pattern="",
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
        sql_split_pattern=b.sql_split_pattern,
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
# Spark path (distributed build) — JVM split/explode + optional stem UDF
# ---------------------------------------------------------------------------


def _stem_udf(cfg: TokenizerConfig):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # deferred: pandas_udf needs an active SparkSession to parse DDL types
    stem_lang = cfg.stem_lang

    def _stem(terms):
        # resolve the stemmer on the executor (closure carries only the
        # name); stem each unique term once, then a C-loop dict map —
        # the hot build path pushes tens of millions of tokens through
        # here and per-token Python calls are ~3x slower than unique+map
        if stem_lang == "english":
            fn = stem
        else:
            from pg_textsearch_spark.functions.languages import get_stemmer

            fn = get_stemmer(stem_lang)
        uniq = terms.unique()
        table = {t: fn(t) for t in uniq if t is not None}
        return terms.map(table)

    # real (not PEP 563 string) hints: pandas_udf infers the Series ->
    # Series UDF kind from them without resolving names in this module
    _stem.__annotations__ = {"terms": pd.Series, "return": pd.Series}
    return pandas_udf(_stem, "string")


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


def raw_tokens_column(text_col: Column, config: TokenizerConfig) -> Column:
    """array<string> of lowercased raw word tokens — pure JVM expression."""
    from pyspark.sql import functions as F
    
    toks = F.split(F.lower(text_col), config.sql_split_pattern)
    return F.filter(
        toks, lambda t: (t != F.lit("")) & (F.length(t) <= TOKEN_MAX_CHARS)
    )


def spark_token_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    config: TokenizerConfig | str = "english",
) -> DataFrame:
    """docs(id, text) -> tokens(id, term, tf) — the distributed tokenizer.

    Entirely JVM-side (split/explode/filter/groupBy, whole-stage
    codegen) except the Porter2 stem, which is an Arrow-batched pandas
    UDF over the exploded term column. groupBy(id, term) does the tf
    aggregation map-side (partial aggregation) before any shuffle.

    ``pg``-parser configs run the typed-token scanner inside a
    columnar mapInPandas (the scanner is a state machine, not a split
    — same tradeoff as the reference's C parser); the per-doc tf
    Counter happens in the kernel, so the groupBy only merges across
    Arrow batches.
    """
    from pyspark.sql import functions as F

    cfg = get_config(config) if isinstance(config, str) else config
    if cfg.parser == "pg":
        return _pg_spark_token_table(df, id_col, text_col, cfg)
    toks = df.select(
        F.col(id_col),
        F.explode(raw_tokens_column(F.col(text_col), cfg)).alias("term"),
    )
    if cfg.stopwords:
        stop_df = toks.sparkSession.createDataFrame(
            [(w,) for w in sorted(cfg.stopwords)], "term string"
        )
        toks = toks.join(F.broadcast(stop_df), "term", "left_anti")
    if cfg.do_stem:
        toks = toks.withColumn("term", _stem_udf(cfg)("term"))
    return toks.groupBy(id_col, "term").agg(F.count("*").cast("int").alias("tf"))


def _pg_spark_token_table(
    df: DataFrame, id_col: str, text_col: str, cfg: TokenizerConfig
) -> DataFrame:
    """Typed-token distributed tokenizer: mapInPandas over (id, text),
    emitting columnar (id, term, tf) — one Counter per doc, flat numpy
    output arrays, no per-posting Python objects downstream. The
    kernel IS the conformance oracle (``tokenize``), so the Spark path
    cannot diverge from the fixture-pinned semantics."""
    import pandas as pd
    
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        # raw-word -> lexeme memo shared across every doc this task
        # tokenizes (Zipf => hit rate near 1 after the first few docs)
        memo: dict = {}
        for pdf in batches:
            ids_out, terms_out, tfs_out = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                counts = tokenize(t, cfg, _memo=memo)
                if not counts:
                    continue
                ids_out.extend([i] * len(counts))
                terms_out.extend(counts.keys())
                tfs_out.extend(counts.values())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids_out),
                    "term": pd.Series(terms_out, dtype=object),
                    "tf": np.asarray(tfs_out, dtype=np.int32),
                }
            )

    # no groupBy needed: each doc is tokenized exactly once and the
    # per-doc Counter already made (id, term) unique — zero shuffles
    # added by the tokenizer itself
    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, term string, tf int"
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
