"""Driver-local commit path: micro-batches without Spark jobs.

Reference mapping: an INSERT appends to the memtable and a spill
writes the L0 segment in ONE process (tp_do_spill, reference:
src/access/build.c:135-295); only CREATE INDEX runs the parallel
build (src/access/build_parallel.c). ``build_index`` (index/builder.py)
is the build_parallel.c analog; this module is the tp_do_spill analog.
Every insert, delete and segment merge (so compaction, force_merge and
vacuum) runs in the driver with pyarrow and the package's own
numpy/native kernels — the same tokenizer (``tokenize``), fieldnorm
encoder, posting kernel (``builder._postings_arrow``), bucket hash
(``term_bucket``) and a batch block decoder
(``codec.decompress_blocks``) — and writes the same tables, layout and
manifest entries as the distributed build, so every reader (BM25Index,
LocalIndex, ServePool) serves its segments unchanged.

A commit is dominated by per-job and per-stage fixed cost, not data
volume: a 400-doc distributed insert ran 25 Spark jobs. Measured
insert_batch wall time into a 20k-doc index, driver-local vs the
distributed build pipeline (Spark jobs per commit), english config,
seeded ~29-token Zipf passages, Spark local[2] with a warm JVM,
4-vCPU / 15 GB host (1k-100k: median of 3; 300k, 1M: one run, also
timing a 50-id delete and the force_merge of the result):

    insert     1k 0.35 / 6.41 s   10k 0.87 / 6.71 s   100k 6.32 / 13.62 s
    insert     300k 16.3 / 34.9 s      1M 55.7 / 84.5 s
    delete     300k 0.45 / 33.6 s      1M 0.75 / 38.8 s
    merge      300k 2.4 / 54.4 s       1M 8.3 / 147.3 s

No crossover falls inside that range. A merge holds one term bucket's
decoded postings at a time; an insert holds its whole batch (text and
postings) in driver memory — +0.4 GB peak RSS at 300k docs, +1.2 GB
at 1M — so bulk loads belong in ``build_index``.

Commit protocol: segment files first, then the atomic manifest
rename, then (merges) reclaiming the source segments.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np

from pg_textsearch_spark.functions.fieldnorm import (
    FIELDNORM_DECODE_TABLE,
    encode_fieldnorm,
)
from pg_textsearch_spark.index.codec import decompress_blocks, term_bucket

#: row-group target of the driver-written postings files — the same
#: ``parquet.block.size`` the distributed writer uses
#: (builder._postings_write_opts), so row-group term pruning behaves
#: identically on built and committed segments
ROW_GROUP_BYTES = 1 << 20

_BLK = "blocks.list.element."

#: dictionary-encoded columns per table: only low-cardinality ones.
#: pyarrow, unlike the JVM writer, keeps a dictionary that does not pay
#: (unique ids, urls, terms, payloads), which made these files 10-40%
#: larger than the distributed writer's; with this list they come out
#: 1-8% smaller (20k-doc segment: postings 2,461,371 vs 2,540,228 B).
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
    fns: np.ndarray, n_buckets: int,
):
    """Flat postings (dense sorted term ids into ``vocab``) -> yields
    (bucket, postings table, dictionary table) per non-empty bucket
    through the build's own posting kernel — byte-identical rows to the
    distributed (term, run) shuffle + kernel. The kernel runs once per
    bucket, as it does per shuffle partition, so its sort buffers stay
    one bucket large."""
    import pyarrow as pa

    from pg_textsearch_spark.index.builder import _postings_arrow

    if not len(tids):
        return
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
        out = pa.Table.from_batches(
            list(_postings_arrow(iter([batch]), "bitpack", presort=True))
        )
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
    at ``seg_id`` are replaced, like the distributed writer's
    overwrite mode."""
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


def collect_batch(docs, text_col: str, doc_id_col, key_col):
    """The batch as an arrow table (``_key``/``_key_str``/``_id`` +
    ``_text``) — the commit's one Spark job."""
    from pyspark.sql import functions as F

    if key_col is not None:
        cols = [
            F.col(key_col).alias("_key"),
            # Spark's own cast, so keymap strings match build_index's
            # for every key type
            F.col(key_col).cast("string").alias("_key_str"),
        ]
    else:
        cols = [F.col(doc_id_col).cast("long").alias("_id")]
    cols.append(F.col(text_col).cast("string").alias("_text"))
    return docs.select(*cols).toArrow()


def tokenize_batch(texts: list, config):
    """texts (None allowed) -> (doc index, term, tf) postings + doc_len
    per doc, with the same tokenizer the distributed build's
    conformance tests pin against its JVM/kernel tokenizers."""
    import pyarrow as pa

    from pg_textsearch_spark.functions.tokenizer import tokenize

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


def insert_local(
    writer, rows, seg_id: int, next_doc: int, config: str, n_buckets: int,
    k1: float, b: float, lineage: dict,
) -> dict:
    """Commit a collected batch (``collect_batch``) as one L0 segment."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pg_textsearch_spark.functions.tokenizer import get_config

    keymap = None
    if "_key" in rows.column_names:
        # dense ids in key order by the key's own type (numeric keys
        # numerically), NULL keys first — Spark's ascending orderBy
        order = pc.array_sort_indices(
            rows.column("_key"), order="ascending", null_placement="at_start"
        )
        rows = rows.take(order)
        doc_ids = next_doc + np.arange(rows.num_rows, dtype=np.int64)
        keymap = pa.table({
            "doc_id": pa.array(doc_ids),
            "doc_key": rows.column("_key_str").cast(pa.string()),
        })
    else:
        doc_ids = rows.column("_id").to_numpy(zero_copy_only=False)
        doc_ids = doc_ids.astype(np.int64)
    doc_idx, terms, tfs, doc_len = tokenize_batch(
        rows.column("_text").to_pylist(), get_config(config)
    )
    fieldnorm = encode_fieldnorm(doc_len).astype(np.int32)
    tids, vocab = _vocab_ids(terms)
    buckets = encode_segment(
        tids, vocab, doc_ids[doc_idx], tfs, fieldnorm[doc_idx], n_buckets
    )
    doclen = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "doc_len": pa.array(doc_len, pa.int64()),
        "fieldnorm": pa.array(fieldnorm, pa.int32()),
    })
    stats = write_segment_files(
        writer.index_dir, seg_id, buckets, doclen, keymap
    )
    return writer.commit_segment(
        seg_id, config, n_buckets, k1, b,
        has_keymap=keymap is not None, lineage=lineage, **stats,
    )


# -- reads ----------------------------------------------------------------


def read_table(
    index_dir: str, table: str, seg_ids, columns=None, filter=None,
    bucket: int | None = None,
):
    """Concatenated ``table`` rows of segments ``seg_ids`` (either
    writer's files; only term bucket ``bucket`` when given), projected
    to ``columns`` under the canonical schema."""
    import pyarrow.dataset as ds

    from pg_textsearch_spark.operators.serve import _parquet_files

    schema = _schemas()[table]
    sub = () if bucket is None else (f"bucket={bucket}",)
    files = [
        f for s in seg_ids
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


def decode_rows(postings):
    """Posting rows (``term``, ``blocks``) -> flat (term ids into a
    sorted vocabulary, vocabulary, doc_ids, tfs, fieldnorms) with one
    batch decode over every block."""
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
    drop_ids: np.ndarray | None,
) -> tuple[dict, int, bool]:
    """Write the merge of ``segs`` as segment ``new_seg_id``, dropping
    ``drop_ids``. Returns (stats, quantized tokens of the dropped
    docs, has_keymap); the caller commits the manifest and reclaims
    the sources. Postings merge one term bucket at a time (a term's
    rows all live in its bucket), so the driver never holds more than
    one bucket's decoded postings."""
    import pyarrow as pa

    seg_ids = sorted(s["seg_id"] for s in segs)
    doclen = read_table(index_dir, "doclen", seg_ids)
    # a PARTIAL keymap survives a mixed merge (keyed and pre-assigned-id
    # sources): docs without a key resolve to NULL via resolve_keys
    km_src = [s["seg_id"] for s in segs if s.get("has_keymap")]
    keymap = (
        read_table(index_dir, "keymap", sorted(km_src)) if km_src else None
    )
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
        for b in range(n_buckets):
            tids, vocab, ids, tfs, fns = decode_rows(read_table(
                index_dir, "postings", seg_ids, ["term", "blocks"],
                bucket=b,
            ))
            if dropping:
                keep = ~np.isin(ids, drop_ids)
                tids, ids, tfs, fns = (
                    tids[keep], ids[keep], tfs[keep], fns[keep]
                )
            yield from encode_segment(tids, vocab, ids, tfs, fns, n_buckets)

    stats = write_segment_files(
        index_dir, new_seg_id, buckets(), doclen, keymap
    )
    return stats, dead_tokens, keymap is not None


# -- delete ---------------------------------------------------------------


def delete_local(
    index_dir: str, manifest: dict, ids: np.ndarray
) -> tuple[int, int]:
    """Mark ``ids`` deleted: append the effective ones (existing, not
    yet deleted) to ``deletes`` and their per-term counts to
    ``dead_dfs``. Returns (n_dead, quantized dead tokens); the caller
    commits the manifest counters."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from pg_textsearch_spark.index.builder import RUN_SHIFT

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
