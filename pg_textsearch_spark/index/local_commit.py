"""The one segment writer: micro-batch commits and every build partition.

Reference mapping: an INSERT appends to the memtable and a spill
writes the L0 segment in ONE process (tp_do_spill, reference:
src/access/build.c:135-295); CREATE INDEX runs the parallel build
(src/access/build_parallel.c), whose workers write L0 segments over
disjoint doc ranges and whose leader N-way merges them. Both map onto
this module. ``write_docs`` tokenizes (``tokenize``), encodes (the
fieldnorm encoder, the posting kernel ``builder._postings_arrow`` and
the bucket hash ``term_bucket``) and writes (``write_segment_files``)
one segment with pyarrow and the package's own numpy/native kernels;
``write_rows`` numbers keyed docs in key order first. ``insert_batch``
runs it once in the driver; ``build_index`` (index/builder.py) runs it
once per Spark partition into a staging dir, then runs ``merge_local``
in the driver to merge the staging segments, each one's doc ids moved
up by its writer's offset, into the committed one. Deletes and segment
merges (so compaction, force_merge and vacuum) run here in the driver
too, with a batch block decoder (``codec.decompress_blocks``). Every
reader (BM25Index, LocalIndex, ServePool) serves the segments
unchanged.

A commit is dominated by per-job and per-stage fixed cost, not data
volume: a 400-doc distributed insert ran 25 Spark jobs. Measured
insert_batch wall time into a 20k-doc index, driver-local vs the
distributed build pipeline it replaced (Spark jobs per commit),
english config, seeded ~29-token Zipf passages, Spark local[2] with a
warm JVM, 4-vCPU / 15 GB host (1k-100k: median of 3; 300k, 1M: one
run, also timing a 50-id delete and the force_merge of the result):

    insert     1k 0.35 / 6.41 s   10k 0.87 / 6.71 s   100k 6.32 / 13.62 s
    insert     300k 16.3 / 34.9 s      1M 55.7 / 84.5 s
    delete     300k 0.45 / 33.6 s      1M 0.75 / 38.8 s
    merge      300k 2.4 / 54.4 s       1M 8.3 / 147.3 s

No crossover falls inside that range. A merge holds one term bucket's
decoded postings at a time; ``write_docs`` holds its whole batch (text
and postings) in memory — +0.4 GB peak RSS at 300k docs, +1.2 GB at
1M — so bulk loads belong in ``build_index``, which bounds each
writer task at ``builder.WRITER_DOCS`` docs.

Commit protocol: segment files first, then the atomic manifest
rename, then (merges) reclaiming the source segments.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import uuid

import numpy as np

from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.fieldnorm import (
    FIELDNORM_DECODE_TABLE,
    encode_fieldnorm,
)
from pg_textsearch_spark.functions.tokenizer import (
    get_config,
    tokenize_batch,
    tokenize_query,
)
from pg_textsearch_spark.index.codec import decompress_blocks, term_bucket

#: row-group target of the postings files: small enough that the
#: query-time ``term IN (...)`` predicate prunes at row-group
#: granularity (the role of the reference's dictionary binary search)
ROW_GROUP_BYTES = 1 << 20

#: doc ids must lie in [0, MAX_DOC_ID]: the posting kernel packs
#: ``doc_id << 8 | fieldnorm`` into one int64
MAX_DOC_ID = (1 << 55) - 1

_BLK = "blocks.list.element."

#: dictionary-encoded columns per table: only low-cardinality ones.
#: pyarrow by default keeps a dictionary that does not pay (unique ids,
#: urls, terms, payloads), which made these files 10-40% larger than
#: Spark's parquet writer's; with this list they come out 1-8% smaller
#: (20k-doc segment: postings 2,461,371 vs 2,540,228 B).
_DICT_COLS = {
    "postings": ["run", "df_run", _BLK + "doc_count", _BLK + "block_max_tf",
                 _BLK + "block_max_norm"],
    "doclen": ["doc_len", "fieldnorm"],
    "keymap": False,
    "dictionary": ["df"],
    "deletes": False,
    "dead_dfs": ["dead_df"],
}

#: min/max statistics on every postings column but ``payload`` (values
#: up to 898 B repeated in every page header); ``term``'s are the ones
#: row-group term pruning reads
_POSTINGS_STATS_COLS = [
    "term", "run", "df_run", _BLK + "last_doc_id", _BLK + "doc_count",
    _BLK + "block_max_tf", _BLK + "block_max_norm",
]

_TABLES = ("postings", "doclen", "keymap", "dictionary")


@functools.cache
def _schemas():
    import pyarrow as pa

    from pg_textsearch_spark.index.builder import _postings_arrow_schema

    return {
        "postings": _postings_arrow_schema("term"),
        "doclen": pa.schema([
            ("doc_id", pa.int64()), ("doc_len", pa.int64()),
            ("fieldnorm", pa.int32()),
        ]),
        "keymap": pa.schema(
            [("doc_id", pa.int64()), ("doc_key", pa.string())]
        ),
        "dictionary": pa.schema([("term", pa.string()), ("df", pa.int64())]),
        "deletes": pa.schema([("doc_id", pa.int64())]),
        "dead_dfs": pa.schema(
            [("term", pa.string()), ("dead_df", pa.int64())]
        ),
    }


def _part_name() -> str:
    return f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"


def _write(table, out_dir: str, name: str) -> None:
    """One parquet file of table ``name`` into ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table, os.path.join(out_dir, _part_name()), compression="snappy",
        store_schema=False, use_dictionary=_DICT_COLS[name],
    )


def _write_postings(table, out_dir: str) -> None:
    """One file per bucket, rows already sorted by (term, run), row
    groups cut at ~ROW_GROUP_BYTES of encoded blocks."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    blocks = table.column("blocks").combine_chunks()
    pay_len = pc.binary_length(
        pc.struct_field(blocks.flatten(), "payload")
    ).to_numpy()
    row_of_blk = np.repeat(
        np.arange(len(table)),
        pc.list_value_length(blocks).to_numpy(zero_copy_only=False),
    )
    ends = np.cumsum(
        np.bincount(row_of_blk, weights=pay_len + 24, minlength=len(table))
    )
    cuts = np.searchsorted(
        ends, np.arange(ROW_GROUP_BYTES, ends[-1], ROW_GROUP_BYTES),
        side="right",
    )
    bounds = np.unique(np.concatenate(([0], cuts, [len(table)])))
    with pq.ParquetWriter(
        os.path.join(out_dir, _part_name()), table.schema,
        compression="snappy", store_schema=False,
        use_dictionary=_DICT_COLS["postings"],
        write_statistics=_POSTINGS_STATS_COLS,
    ) as w:
        for a, b in zip(bounds[:-1], bounds[1:]):
            w.write_table(table.slice(a, b - a), row_group_size=b - a)


def _vocab_ids(terms):
    """pyarrow string array -> (dense ids in byte-wise term order per
    element, sorted vocabulary array)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(terms, pa.ChunkedArray):
        terms = terms.combine_chunks()
    enc = pc.dictionary_encode(terms)
    vocab = enc.dictionary
    order = pc.sort_indices(vocab).to_numpy()
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[order] = np.arange(len(vocab), dtype=np.int64)
    return rank[enc.indices.to_numpy(zero_copy_only=False)], vocab.take(order)


def encode_segment(
    tids: np.ndarray, vocab, doc_ids: np.ndarray, tfs: np.ndarray,
    fns: np.ndarray, n_buckets: int, codec: str = "bitpack",
):
    """Flat postings (dense sorted term ids into ``vocab``) -> yields
    (bucket, postings table, dictionary table) per non-empty bucket
    through the posting kernel. The kernel runs once per bucket, so its
    sort buffers stay one bucket large.

    Raises ValueError, before yielding anything, for a doc id outside
    [0, MAX_DOC_ID]: the kernel's packing would wrap it into another
    doc's postings."""
    import pyarrow as pa

    from pg_textsearch_spark.index.builder import _postings_arrow

    if not len(tids):
        return
    lo, hi = int(doc_ids.min()), int(doc_ids.max())
    if lo < 0 or hi > MAX_DOC_ID:
        raise ValueError(
            "doc_id outside the packable range [0, 2^55): "
            f"{lo if lo < 0 else hi}"
        )
    vocab_bucket = np.fromiter(
        (term_bucket(t, n_buckets) for t in vocab.to_pylist()),
        dtype=np.int64, count=len(vocab),
    )
    post_bucket = vocab_bucket[tids]
    order = np.argsort(post_bucket, kind="stable")
    edges = np.searchsorted(post_bucket[order], np.arange(n_buckets + 1))
    docfn = (doc_ids.astype(np.int64) << 8) | fns.astype(np.int64)
    for b in range(n_buckets):
        sel = order[edges[b]: edges[b + 1]]
        if not len(sel):
            continue
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(tids[sel].astype(np.int64)),
                pa.array(docfn[sel]),
                pa.array(tfs[sel].astype(np.int32)),
            ],
            names=["term_id", "docfn", "tf"],
        )
        out = pa.Table.from_batches(list(_postings_arrow([batch], codec)))
        row_tid = out.column("term_id").to_numpy()
        postings = pa.table({
            "term": vocab.take(pa.array(row_tid)),
            "run": out.column("run"),
            "df_run": out.column("df_run"),
            "blocks": out.column("blocks"),
        })
        # rows are (term, run)-sorted, so a term's rows are contiguous
        heads = np.flatnonzero(
            np.concatenate(([True], row_tid[1:] != row_tid[:-1]))
        )
        df_run = out.column("df_run").to_numpy()
        dictionary = pa.table({
            "term": vocab.take(pa.array(row_tid[heads])),
            "df": pa.array(np.add.reduceat(df_run, heads), pa.int64()),
        })
        yield b, postings, dictionary


def write_segment_files(
    index_dir: str, seg_id: int, buckets, doclen, keymap=None
) -> dict:
    """Write one segment's postings/dictionary (``buckets``: the
    ``encode_segment`` tuples, consumed one at a time),
    doclen and optional keymap; returns its stats (num_docs,
    total_tokens, max_doc_id). Leftovers of a crashed earlier attempt
    at ``seg_id`` are replaced."""
    def seg_dir(table, *sub):
        return os.path.join(index_dir, table, f"seg={seg_id}", *sub)

    for table in _TABLES:
        shutil.rmtree(seg_dir(table), ignore_errors=True)
    for b, postings, dictionary in buckets:
        _write_postings(postings, seg_dir("postings", f"bucket={b}"))
        _write(dictionary, seg_dir("dictionary", f"bucket={b}"), "dictionary")
    for table in ("postings", "dictionary"):
        os.makedirs(seg_dir(table), exist_ok=True)
    _write(doclen, seg_dir("doclen"), "doclen")
    if keymap is not None:
        _write(keymap, seg_dir("keymap"), "keymap")
    dl = doclen.column("doc_len").to_numpy()
    ids = doclen.column("doc_id").to_numpy()
    return {
        "num_docs": len(doclen),
        "total_tokens": int(dl.sum()),
        "max_doc_id": int(ids.max()) if len(ids) else -1,
    }


# -- insert ---------------------------------------------------------------


def batch_rows(docs, text_col: str, doc_id_col, key_col):
    """The rows a commit writes: ``_key``/``_key_str`` (keyed) or
    ``_id``, plus ``_text`` — what an insert collects and what each
    build writer receives."""
    from pyspark.sql import functions as F

    if key_col is not None:
        cols = [
            F.col(key_col).alias("_key"),
            # Spark's own cast, so keymap strings are the same for every
            # key type on every path
            F.col(key_col).cast("string").alias("_key_str"),
        ]
    else:
        cols = [F.col(doc_id_col).cast("long").alias("_id")]
    cols.append(F.col(text_col).cast("string").alias("_text"))
    return docs.select(*cols)


def collect_batch(docs, text_col: str, doc_id_col, key_col):
    """The batch (``batch_rows``) as an arrow table — the commit's one
    Spark job."""
    return batch_rows(docs, text_col, doc_id_col, key_col).toArrow()


def write_docs(
    out_dir: str, seg_id: int, doc_ids: np.ndarray, texts: list, cfg,
    n_buckets: int, keys=None, codec: str = "bitpack",
) -> dict:
    """Tokenize (``cfg``: a TokenizerConfig), encode and write docs
    ``doc_ids`` / ``texts`` as segment ``seg_id`` under ``out_dir``,
    with a keymap when ``keys`` (a pyarrow string array) are given;
    returns ``write_segment_files``' stats. Docs are written in the
    given order."""
    import pyarrow as pa

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    doc_idx, terms, tfs, doc_len = tokenize_batch(texts, cfg)
    fieldnorm = encode_fieldnorm(doc_len).astype(np.int32)
    tids, vocab = _vocab_ids(terms)
    buckets = encode_segment(
        tids, vocab, doc_ids[doc_idx], tfs, fieldnorm[doc_idx], n_buckets,
        codec,
    )
    doclen = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "doc_len": pa.array(doc_len, pa.int64()),
        "fieldnorm": pa.array(fieldnorm, pa.int32()),
    })
    keymap = None
    if keys is not None:
        keymap = pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "doc_key": keys,
        })
    return write_segment_files(out_dir, seg_id, buckets, doclen, keymap)


def write_rows(
    out_dir: str, seg_id: int, rows, first_id: int, cfg, n_buckets: int,
    codec: str = "bitpack",
) -> dict:
    """Write arrow ``rows`` (``batch_rows``' columns) as segment
    ``seg_id`` under ``out_dir``; returns ``write_docs``' stats. Keyed
    rows take dense ids from ``first_id`` in key order by the key's own
    type (numeric keys numerically), NULL keys first — Spark's ascending
    orderBy, the reference's docmap rule (CTID order == doc_id order,
    reference: docmap.c:172-181); other rows keep their ``_id``s."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = None
    if "_key" in rows.column_names:
        order = pc.array_sort_indices(
            rows.column("_key"), order="ascending", null_placement="at_start"
        )
        rows = rows.take(order)
        doc_ids = first_id + np.arange(rows.num_rows, dtype=np.int64)
        keys = rows.column("_key_str").cast(pa.string())
    else:
        doc_ids = rows.column("_id").to_numpy(zero_copy_only=False)
    return write_docs(
        out_dir, seg_id, doc_ids, rows.column("_text").to_pylist(), cfg,
        n_buckets, keys, codec,
    )


def insert_local(
    writer, rows, seg_id: int, next_doc: int, config: str, n_buckets: int,
    k1: float, b: float, lineage: dict,
) -> dict:
    """Commit a collected batch (``collect_batch``) as one L0 segment."""
    stats = write_rows(
        writer.index_dir, seg_id, rows, next_doc, get_config(config),
        n_buckets,
    )
    return writer.commit_segment(
        seg_id, config, n_buckets, k1, b,
        has_keymap="_key" in rows.column_names, lineage=lineage, **stats,
    )


# -- reads ----------------------------------------------------------------
#
# Every reader (BM25Index, LocalIndex, ServingIndex, ServePool workers)
# turns a manifest into reader state in one place, ``Snapshot``: the
# metapage read (reference: metapage.h:30-106, bm25.c:155-191). A query
# takes its handle's snapshot once and keeps it to the end; a commit
# ends with the committing handle on a new one (``LocalIndex.refresh``).


def _parquet_files(root: str) -> list[str]:
    """Sorted parquet files under ``root`` (none if it does not exist)."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files
                   if f.endswith(".parquet"))
    return sorted(out)


class Snapshot:
    """One committed manifest and the reader state derived from it:
    config, k1, b, n_buckets; corpus stats; and three memos that fill on
    first use and never change, so queries holding the same snapshot
    share them: live dfs (``read_term_dfs``, zero-df terms included),
    the dead-id array (``read_deleted_ids``, read once) and each
    (table, bucket)'s file listing. Pending deletes reduce N at once and
    total_tokens by the quantized dead lengths (reference:
    merge.c:842-866)."""

    def __init__(self, index_dir: str, manifest: dict):
        self.index_dir = index_dir
        self.manifest = manifest
        self.config: str = manifest["config"]
        self.k1: float = manifest["k1"]
        self.b: float = manifest["b"]
        self.n_buckets: int = manifest["n_buckets"]
        segs = manifest["segments"]
        deleted = int(manifest.get("deleted_docs", 0))
        self.has_deletes = deleted > 0
        self.num_docs = sum(s["num_docs"] for s in segs) - deleted
        self.total_tokens = sum(s["total_tokens"] for s in segs) - int(
            manifest.get("deleted_tokens_quantized", 0)
        )
        self.avgdl = self.total_tokens / self.num_docs if self.num_docs else 0.0
        self._lock = threading.Lock()
        self._dfs: dict[str, int] = {}
        self._dead = None if self.has_deletes else np.zeros(0, dtype=np.int64)
        self._files: dict[tuple, list[str]] = {}

    @classmethod
    def read(cls, index_dir: str) -> "Snapshot":
        """The snapshot of ``index_dir``'s committed ``manifest.json``."""
        with open(os.path.join(index_dir, "manifest.json")) as f:
            return cls(index_dir, json.load(f))

    def term_dfs(self, terms) -> dict[str, int]:
        """term -> live df of ``terms`` with df > 0. Misses are one
        ``read_term_dfs`` point read; hits (absent terms too) read
        nothing (the reference's fn_extra IDF cache, query.c:52-158)."""
        with self._lock:
            missing = [t for t in terms if t not in self._dfs]
        if missing:
            got = read_term_dfs(self.index_dir, self.manifest, missing)
            with self._lock:
                self._dfs.update({t: got.get(t, 0) for t in missing})
        with self._lock:
            return {t: v for t in terms if (v := self._dfs[t]) > 0}

    def query_weights(self, query: str) -> dict[str, tuple[float, int]]:
        """query text -> {term: (idf, query_freq)} for its terms with
        df > 0 — float64 IDF."""
        qtf = tokenize_query(query, self.config)
        dfs = self.term_dfs(list(qtf)) if qtf else {}
        return {
            t: (bm25.idf(self.num_docs, dfs[t]), qf)
            for t, qf in qtf.items() if t in dfs
        }

    def dead_ids(self) -> np.ndarray:
        """Sorted int64 doc ids of the pending deletes (empty if none)."""
        with self._lock:
            if self._dead is None:
                self._dead = read_deleted_ids(self.index_dir)
            return self._dead

    def bucket_files(self, table: str, bucket: int) -> list[str]:
        """Parquet files of ``table``'s term ``bucket`` in every segment."""
        key = (table, bucket)
        files = self._files.get(key)
        if files is None:
            files = [
                f for s in self.manifest["segments"]
                for f in _parquet_files(os.path.join(
                    self.index_dir, table, f"seg={s['seg_id']}",
                    f"bucket={bucket}",
                ))
            ]
            self._files[key] = files
        return files


def read_table(
    index_dir: str, table: str, seg_ids, columns=None, filter=None,
    buckets: list[int] | None = None,
):
    """Concatenated ``table`` rows of segments ``seg_ids`` (either
    writer's files; only term buckets ``buckets`` when given), projected
    to ``columns`` under the canonical schema."""
    import pyarrow.dataset as ds

    schema = _schemas()[table]
    subs = [()] if buckets is None else [(f"bucket={b}",) for b in buckets]
    files = [
        f for s in seg_ids for sub in subs
        for f in _parquet_files(
            os.path.join(index_dir, table, f"seg={s}", *sub)
        )
    ]
    if not files:
        return schema.empty_table().select(columns or schema.names)
    return ds.dataset(files, schema=schema, format="parquet").to_table(
        columns=columns, filter=filter
    )


def read_deleted_ids(index_dir: str) -> np.ndarray:
    """Sorted unique doc ids of the ``deletes`` table (empty if none)."""
    import pyarrow.dataset as ds

    path = os.path.join(index_dir, "deletes")
    if not os.path.isdir(path):
        return np.zeros(0, dtype=np.int64)
    t = ds.dataset(
        path, schema=_schemas()["deletes"], format="parquet"
    ).to_table(columns=["doc_id"])
    return np.unique(t.column("doc_id").to_numpy().astype(np.int64))


def read_term_dfs(index_dir: str, manifest: dict, terms) -> dict[str, int]:
    """term -> live df of ``terms`` under ``manifest``, only terms with
    df > 0 (reference: bm25.c:46-111 reads the segment dictionaries in
    the querying backend). A point read: only the terms' bucket dirs of
    each segment's ``dictionary``, with ``term IN terms`` pushed to the
    term-sorted row groups; pending deletes subtract ``dead_dfs``."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    terms = sorted(set(terms))
    if not terms:
        return {}
    in_terms = ds.field("term").isin(pa.array(terms, pa.string()))
    dfs = _sum_by_term(read_table(
        index_dir, "dictionary", [s["seg_id"] for s in manifest["segments"]],
        filter=in_terms,
        buckets=sorted({term_bucket(t, manifest["n_buckets"]) for t in terms}),
    ), "df")
    if int(manifest.get("deleted_docs", 0)) and dfs:
        # dead_dfs is missing only when no dead doc had postings
        path = os.path.join(index_dir, "dead_dfs")
        if os.path.isdir(path):
            dead = ds.dataset(
                path, schema=_schemas()["dead_dfs"], format="parquet"
            ).to_table(filter=in_terms)
            for t, v in _sum_by_term(dead, "dead_df").items():
                dfs[t] = dfs.get(t, 0) - v
    return {t: v for t, v in dfs.items() if v > 0}


def _sum_by_term(table, col: str) -> dict[str, int]:
    """term -> sum of ``col`` over ``table``'s rows (a few rows per
    term: a plain loop beats an Arrow group-by here)."""
    out: dict[str, int] = {}
    for t, v in zip(table.column("term").to_pylist(),
                    table.column(col).to_pylist()):
        out[t] = out.get(t, 0) + v
    return out


def decode_rows(postings):
    """Posting rows (``term``, ``blocks``) -> flat (term ids into a
    sorted vocabulary, vocabulary, doc_ids, tfs, fieldnorms) with one
    batch decode over every block. Kept beside ``kernel.decode_rows``,
    which codes terms row by row for few-row serving reads: 5-8x slower
    on a merge's 3M-posting bucket."""
    import pyarrow.compute as pc

    blocks = postings.column("blocks").combine_chunks()
    ids, tfs, fns, counts = decompress_blocks(
        pc.struct_field(blocks.flatten(), "payload")
    )
    row_tid, vocab = _vocab_ids(postings.column("term"))
    blk_tid = np.repeat(
        row_tid, pc.list_value_length(blocks).to_numpy(zero_copy_only=False)
    )
    return np.repeat(blk_tid, counts), vocab, ids, tfs, fns


# -- merge ----------------------------------------------------------------


def merge_local(
    index_dir: str, segs: list[dict], new_seg_id: int, n_buckets: int,
    drop_ids: np.ndarray | None, out_dir: str | None = None,
    codec: str = "bitpack",
) -> tuple[dict, int, bool]:
    """Write the merge of ``segs`` (under ``index_dir``) as segment
    ``new_seg_id`` under ``out_dir`` (default ``index_dir``), dropping
    ``drop_ids``. A source's optional ``id_offset`` is added to its doc
    ids (a build's staging segments number their docs from 0). Returns
    (stats, quantized tokens of the dropped docs, has_keymap); the
    caller commits the manifest and reclaims the sources. Postings
    merge one term bucket at a time (a term's rows all live in its
    bucket), so the driver never holds more than one bucket's decoded
    postings."""
    import pyarrow as pa

    segs = sorted(segs, key=lambda s: s["seg_id"])
    shift = any(s.get("id_offset") for s in segs)

    def read(table, srcs, columns=None, buckets=None):
        """(``table`` rows of ``srcs``, each row's id_offset or None
        when no source has one)"""
        if not shift:
            seg_ids = [s["seg_id"] for s in srcs]
            return read_table(index_dir, table, seg_ids, columns,
                              buckets=buckets), None
        parts = [
            read_table(index_dir, table, [s["seg_id"]], columns,
                       buckets=buckets)
            for s in srcs
        ]
        off = np.repeat([s.get("id_offset", 0) for s in srcs],
                        [len(p) for p in parts])
        return pa.concat_tables(parts), off

    def shifted(t, off):
        if off is None:
            return t
        ids = t.column("doc_id").to_numpy() + off
        return t.set_column(0, "doc_id", pa.array(ids, pa.int64()))

    doclen = shifted(*read("doclen", segs))
    # a PARTIAL keymap survives a mixed merge (keyed and pre-assigned-id
    # sources): docs without a key resolve to NULL via resolve_keys
    km_src = [s for s in segs if s.get("has_keymap")]
    keymap = shifted(*read("keymap", km_src)) if km_src else None
    dropping = drop_ids is not None and len(drop_ids) > 0
    dead_tokens = 0
    if dropping:
        dl_ids = doclen.column("doc_id").to_numpy()
        dead = np.isin(dl_ids, drop_ids)
        dead_fn = doclen.column("fieldnorm").to_numpy()[dead]
        dead_tokens = int(FIELDNORM_DECODE_TABLE[dead_fn].sum())
        doclen = doclen.filter(pa.array(~dead))
        if keymap is not None:
            keymap = keymap.filter(pa.array(
                ~np.isin(keymap.column("doc_id").to_numpy(), drop_ids)
            ))

    def buckets():
        cols = ["term", "blocks"] + (["df_run"] if shift else [])
        for b in range(n_buckets):
            rows, off = read("postings", segs, cols, buckets=[b])
            tids, vocab, ids, tfs, fns = decode_rows(rows)
            if off is not None:
                # decode_rows keeps row order; a row holds df_run postings
                ids = ids + np.repeat(off, rows.column("df_run").to_numpy())
            if dropping:
                keep = ~np.isin(ids, drop_ids)
                tids, ids, tfs, fns = (
                    tids[keep], ids[keep], tfs[keep], fns[keep]
                )
            yield from encode_segment(
                tids, vocab, ids, tfs, fns, n_buckets, codec
            )

    stats = write_segment_files(
        out_dir or index_dir, new_seg_id, buckets(), doclen, keymap
    )
    return stats, dead_tokens, keymap is not None


# -- delete ---------------------------------------------------------------


def delete_local(
    index_dir: str, manifest: dict, ids: np.ndarray
) -> tuple[int, int]:
    """Mark ``ids`` deleted: append the effective ones (existing, not
    yet deleted) to ``deletes`` and their per-term counts to
    ``dead_dfs``. Returns (n_dead, quantized dead tokens); the caller
    commits the manifest counters. Under a ``manifest`` with no deleted
    docs nothing in either table is committed (a vacuum that stopped
    after its manifest swap leaves both behind), so they go first."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from pg_textsearch_spark.index.builder import RUN_SHIFT

    if not int(manifest.get("deleted_docs", 0)):
        for table in ("deletes", "dead_dfs"):
            shutil.rmtree(os.path.join(index_dir, table), ignore_errors=True)
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    if not len(ids):
        return 0, 0
    # the range bounds prune row groups by their min/max statistics
    doc_id = ds.field("doc_id")
    in_ids = (
        (doc_id >= int(ids[0])) & (doc_id <= int(ids[-1]))
        & doc_id.isin(pa.array(ids))
    )
    eff_ids, eff_fn, hit_segs = [], [], []
    for s in manifest["segments"]:
        t = read_table(
            index_dir, "doclen", [s["seg_id"]], ["doc_id", "fieldnorm"],
            filter=in_ids,
        )
        if len(t):
            eff_ids.append(t.column("doc_id").to_numpy())
            eff_fn.append(t.column("fieldnorm").to_numpy())
            hit_segs.append(s["seg_id"])
    if not eff_ids:
        return 0, 0
    dl_ids, dl_fn = np.concatenate(eff_ids), np.concatenate(eff_fn)
    live = ~np.isin(dl_ids, read_deleted_ids(index_dir))
    dl_ids, first = np.unique(dl_ids[live], return_index=True)
    dl_fn = dl_fn[live][first]
    if not len(dl_ids):
        return 0, 0
    _write(
        pa.table({"doc_id": pa.array(dl_ids, pa.int64())}),
        os.path.join(index_dir, "deletes"), "deletes",
    )
    # per-term dead counts: decode only posting rows of the dead runs
    runs = pa.array(np.unique(dl_ids >> RUN_SHIFT))
    rows = read_table(
        index_dir, "postings", hit_segs, ["term", "blocks"],
        filter=ds.field("run").isin(runs),
    )
    tids, vocab, ids_f, _tfs, _fns = decode_rows(rows)
    hit_t, dead_df = np.unique(
        tids[np.isin(ids_f, dl_ids)], return_counts=True
    )
    if len(hit_t):  # dead docs of doc_len 0 have no postings
        _write(
            pa.table({
                "term": vocab.take(pa.array(hit_t, pa.int64())),
                "dead_df": pa.array(dead_df, pa.int64()),
            }),
            os.path.join(index_dir, "dead_dfs"), "dead_dfs",
        )
    return len(dl_ids), int(FIELDNORM_DECODE_TABLE[dl_fn].sum())
