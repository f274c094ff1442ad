"""Distributed inverted-index build — the reference's CREATE INDEX path.

The reference's parallel build has workers write L0 segments over
disjoint heap ranges and the leader N-way merge them into one segment
(reference: src/access/build_parallel.c:476-914). ``build_index`` does
the same with the one segment writer in index/local_commit.py:

- one count, which sizes the writers (``writer_count``);
- one ``mapInArrow`` job over the documents range-partitioned by key
  (or by the caller's integer doc id): each task runs
  ``local_commit.write_rows`` (tokenize, encode, write) on its
  partition into a staging dir outside the committed table tree. A
  keyed writer numbers its docs 0..n_p-1 in key order, as the
  reference's workers number theirs segment-locally in CTID order;
- the leader merge: the driver turns the writers' doc counts into id
  offsets in partition order, merges the staging segments with
  ``local_commit.merge_local`` (which adds the offsets, so ids are
  dense 0..n-1 in key order) into the target segment, commits the
  manifest once, then removes the staging dir.

Logical schema (SURVEY.md §1.5):
- ``postings(term, run, df_run, num_blocks, blocks[])`` bucketed by
  ``crc32(term) % n_buckets`` for query-time file pruning (the role of
  the segment dictionary's binary search, reference:
  src/segment/scan.c:579-688);
- ``doclen(doc_id, doc_len, fieldnorm)`` (the fieldnorm table,
  reference: src/segment/docmap.c:42-212) plus, for key_col-built
  indexes, ``keymap(doc_id, doc_key)`` (the ctid map: resolves
  results back to source rows, reference: segment.c:1270-1288);
- ``dictionary(term, df)`` per bucket (the sorted dictionary section,
  reference: format.h:141-154);
- manifest.json: corpus stats + segment lineage (the metapage,
  reference: src/index/metapage.h:30-106).

Skew handling: posting lists are built per ``(term, run)`` where
``run = doc_id >> RUN_SHIFT``, so a head term's postings split into
many bounded groups. Runs hold disjoint, ordered doc_id ranges, so a
term's posting list is the ordered concatenation of its runs (the
reference's disjoint-source merge fast path, reference:
src/segment/merge.c:748-769), and query-time scoring treats runs
independently.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pg_textsearch_spark import native
from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.tokenizer import get_config
from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.blocks import build_blocks
from pg_textsearch_spark.index.codec import BLOCK_SIZE
from pg_textsearch_spark.shipping import ensure_shipped

#: docs per run: 2^13 = 8192. Caps any (term, run) posting group at 8192
#: entries (64 blocks) regardless of term skew — the salting knob from
#: SURVEY.md §4. Runs hold disjoint ordered doc ranges so a term's
#: posting list is the ordered concatenation of its runs (reference
#: merge disjoint fast path, merge.c:748-769).
RUN_SHIFT = 13

DEFAULT_N_BUCKETS = 16

#: docs per build writer task, the bound on a writer's memory: it holds
#: its partition's texts, postings and encoded blocks at once. On the
#: 1M-doc test_msmarco_sweep corpus (8 tasks of ~125k docs, 4 at a
#: time) the Python workers peaked at 2.3-2.4 GB together, ~600 MB per
#: task. A build runs ``writer_count`` writer tasks.
WRITER_DOCS = 1 << 17

#: the writers' staging dir under the index dir, outside the committed
#: table tree (readers resolve tables through the manifest)
STAGING_DIR = "_build_staging"

# term_bucket lives in index/codec.py (pyspark-free) so serving
# workers import it without pyspark; re-exported here for callers
from pg_textsearch_spark.index.codec import term_bucket  # noqa: F401,E402


def _vec_bit_lengths(v: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length with the codec's minimum of 1.

    Uses ``frexp``'s exact binary exponent (for 1 <= v < 2^53 the
    float64 conversion is exact and the exponent IS bit_length) —
    ``floor(log2(v)) + 1`` can round UP for values just below a power
    of two once v nears 2^48, silently widening the stream by one bit
    vs ``codec._width`` (decodable, but breaks byte-identical parity).
    """
    return np.frexp(np.maximum(v, 1).astype(np.float64))[1].astype(np.int64)


def _pack_groups(vals: np.ndarray, starts, cnt, widths) -> tuple:
    """Bit-pack many variable-width groups in a handful of numpy passes.

    ``vals``: the concatenated group values (int64, grouped
    contiguously per ``starts``/``cnt``); ``widths[g]``: bit width of
    group g. Each group's stream is byte-aligned (exactly
    ``(cnt*width+7)//8`` bytes), bit order little — byte-identical to
    ``codec._pack_bits`` / ``_compress_small`` on the same input.
    Returns (packed: uint8 ndarray, byte_offsets, byte_lens): group
    g's stream is ``packed[byte_offsets[g] : byte_offsets[g] +
    byte_lens[g]]``.

    Fast path: the compiled one-pass loop in ``native`` (byte-identical,
    pinned by test_codec) — the vectorized form below allocates per-BIT
    index arrays (~w x the data) and fresh large allocations are the
    dominant cost on write-bandwidth-poor hosts.
    """
    byte_lens = (cnt * widths + 7) // 8
    byte_offs = np.concatenate(([0], np.cumsum(byte_lens)))
    packed_native = native.pack_groups_native(
        vals, starts, cnt, widths, byte_offs[:-1], int(byte_offs[-1])
    )
    if packed_native is not None:
        return packed_native, byte_offs[:-1], byte_lens
    total_bits = int(byte_offs[-1]) * 8
    flat = np.zeros(total_bits, dtype=np.uint8)
    # per-value global bit offsets: group base + position*width
    pos_in_group = np.arange(len(vals)) - np.repeat(starts, cnt)
    bit_off = (
        np.repeat(byte_offs[:-1] * 8, cnt) + pos_in_group * np.repeat(widths, cnt)
    )
    # widths vary per group — scatter per distinct width (few distinct)
    w_per_val = np.repeat(widths, cnt)
    u = vals.astype(np.uint64)
    for w in np.unique(widths):
        sel = np.flatnonzero(w_per_val == w)
        if not len(sel):
            continue
        shifts = np.arange(w, dtype=np.uint64)
        bits = ((u[sel][:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        positions = (bit_off[sel][:, None] + np.arange(w)).ravel()
        flat[positions] = bits.ravel()
    packed = np.packbits(flat, bitorder="little")
    return packed, byte_offs[:-1], byte_lens


#: arrow schema of one posting row, keyed by ``term_id`` (the kernel's
#: output) or ``term`` (the postings table)
def _postings_arrow_schema(key: str = "term"):
    import pyarrow as pa

    return pa.schema(
        [
            (key, pa.int64() if key == "term_id" else pa.string()),
            ("run", pa.int64()),
            ("df_run", pa.int64()),
            (
                "blocks",
                pa.list_(
                    pa.struct(
                        [
                            ("last_doc_id", pa.int64()),
                            ("doc_count", pa.int32()),
                            ("block_max_tf", pa.int32()),
                            ("block_max_norm", pa.int32()),
                            ("payload", pa.binary()),
                        ]
                    )
                ),
            ),
        ]
    )


def _postings_arrow(batches, codec: str = "bitpack"):
    """Posting-row kernel: ``pyarrow.RecordBatch``es of (``term_id``,
    ``docfn`` = doc_id << 8 | fieldnorm[, ``tf``]) rows in any order ->
    yields one batch with one row per (term_id, run) and its posting
    blocks, sorted by (term_id, run).

    The rows of every input batch are gathered and sorted first, so a
    (term_id, run) group may be split across batches. A missing ``tf``
    column means tf=1 per row, and duplicate (term, doc) rows are
    summed. This is the reference's posting-serialization loop
    (segment.c:968-1495) recast as whole-array passes. The cost profile
    is many (term, run) groups (a web vocabulary is Zipf, most groups
    are tiny) and one payload of up to 898 B per 128-doc block, so
    per-group numpy would pay ~15 array-op overheads per group (~60 us
    on a tail group). Instead: the duplicate collapse is one segmented
    sum over adjacent equal (group, doc) rows, blocks tile the
    collapsed array contiguously so all skip metadata comes from three
    ``reduceat`` calls, and ``_pack_groups`` bit-packs every block in
    a handful of scatters, byte-identical to the per-block codec. Only
    non-bitpack codecs take the per-group reference path
    (``build_blocks``).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _postings_arrow_schema("term_id")
    key = "term_id"

    def id_fn_cols(batch):
        dfn = batch.column("docfn").to_numpy(zero_copy_only=False)
        return dfn >> 8, dfn & 0xFF

    def emit_legacy(batch: "pa.RecordBatch"):
        terms = batch.column(key).to_pylist()
        ids, fns = id_fn_cols(batch)
        runs = ids >> RUN_SHIFT
        tfs = (
            batch.column("tf").to_numpy(zero_copy_only=False)
            if "tf" in batch.schema.names
            else np.ones(len(ids), dtype=np.int64)
        )
        n_rows = len(ids)
        terms_np = np.asarray(terms, dtype=object)
        gchange = np.empty(n_rows, dtype=bool)
        gchange[0] = True
        gchange[1:] = (terms_np[1:] != terms_np[:-1]) | (
            runs[1:] != runs[:-1]
        )
        starts = np.flatnonzero(gchange)
        ends = np.concatenate((starts[1:], [n_rows]))
        blocks_out = []
        for s, e in zip(starts, ends):
            gi, gt, gf = ids[s:e], tfs[s:e], fns[s:e]
            if len(gi) > 1 and not np.all(gi[1:] > gi[:-1]):
                # duplicate (term, doc) rows: sum their tfs; fieldnorm
                # is constant per doc -> first occurrence wins
                uids, first_idx, inv = np.unique(
                    gi, return_index=True, return_inverse=True
                )
                gt = np.bincount(inv, weights=gt).astype(np.int64)
                gf = gf[first_idx]
                gi = uids
            blocks_out.append(build_blocks(gi, gt, gf, codec))
        return pa.RecordBatch.from_arrays(
            [
                pa.array([terms_np[s] for s in starts], schema.field(0).type),
                pa.array(runs[starts], pa.int64()),
                pa.array(
                    [sum(b["doc_count"] for b in bl) for bl in blocks_out],
                    pa.int64(),
                ),
                pa.array(blocks_out, schema.field("blocks").type),
            ],
            schema=schema,
        )

    def emit(batch: "pa.RecordBatch"):
        if codec != "bitpack":
            return emit_legacy(batch)
        n_rows = batch.num_rows
        t_arr = batch.column(key)
        ids, fns = id_fn_cols(batch)
        runs = ids >> RUN_SHIFT
        tfs = (
            batch.column("tf").to_numpy(zero_copy_only=False)
            if "tf" in batch.schema.names
            else None  # tf=1 per occurrence: segmented sum counts
        )
        gchange = np.empty(n_rows, dtype=bool)
        gchange[0] = True
        if n_rows > 1:
            term_neq = pc.not_equal(
                t_arr.slice(1), t_arr.slice(0, n_rows - 1)
            ).to_numpy(zero_copy_only=False)
            gchange[1:] = term_neq | (runs[1:] != runs[:-1])
        starts = np.flatnonzero(gchange)

        # 1) collapse duplicate (group, doc) rows: one segmented sum
        is_new = np.empty(n_rows, dtype=bool)
        is_new[0] = True
        is_new[1:] = ids[1:] != ids[:-1]
        is_new |= gchange
        seg = np.cumsum(is_new) - 1
        ctf = (
            np.bincount(seg) if tfs is None else np.bincount(seg, weights=tfs)
        ).astype(np.int64)
        cids = ids[is_new]
        cfns = fns[is_new]  # first occurrence wins (constant per doc)
        c_gchange = gchange[is_new]
        c_starts = np.flatnonzero(c_gchange)
        c_n = len(cids)
        c_ends = np.concatenate((c_starts[1:], [c_n]))
        c_cnt = c_ends - c_starts

        # 2) tile groups into <=128-doc blocks (contiguous over the
        #    collapsed arrays, so reduceat needs no gather)
        nblk = (c_cnt + (BLOCK_SIZE - 1)) // BLOCK_SIZE
        total_blk = int(nblk.sum())
        blk_of = np.arange(total_blk) - np.repeat(
            np.concatenate(([0], np.cumsum(nblk)[:-1])), nblk
        )
        blk_start = np.repeat(c_starts, nblk) + blk_of * BLOCK_SIZE
        blk_end = np.minimum(
            blk_start + BLOCK_SIZE, np.repeat(c_ends, nblk)
        )
        blk_cnt = blk_end - blk_start

        # 3) deltas (absolute at each block head) + skip metadata
        deltas = np.empty(c_n, dtype=np.int64)
        deltas[0] = cids[0]
        deltas[1:] = cids[1:] - cids[:-1]
        deltas[blk_start] = cids[blk_start]
        bmt = np.maximum.reduceat(ctf, blk_start)
        bmn = np.minimum.reduceat(cfns, blk_start)
        dmax = np.maximum.reduceat(deltas, blk_start)
        id_bits = _vec_bit_lengths(dmax)
        tf_bits = _vec_bit_lengths(bmt)
        assert int(tf_bits.max(initial=1)) <= 16
        id_pack, id_off, id_len = _pack_groups(
            deltas, blk_start, blk_cnt, id_bits
        )
        tf_pack, tf_off, tf_len = _pack_groups(
            ctf, blk_start, blk_cnt, tf_bits
        )
        # 4) assemble payloads VECTORIZED: one flat uint8 buffer +
        #    per-block offsets, filled by three variable-length
        #    gather/scatters (the repeat/cumsum index trick) — the
        #    per-block Python loop this replaces (bytes() + three
        #    slice concats per block) was the kernel's last scalar
        #    hotspot (~1 us x millions of blocks per build); the
        #    arrow binary column is then built ZERO-COPY over the
        #    buffer instead of re-copying a list of bytes objects.
        fn_arr = cfns.astype(np.uint8)
        fn_len = blk_cnt  # one fieldnorm byte per collapsed posting
        pay_len = 3 + id_len + tf_len + fn_len
        pay_off = np.concatenate(([0], np.cumsum(pay_len)))
        id_pack_arr = np.asarray(id_pack, dtype=np.uint8)
        tf_pack_arr = np.asarray(tf_pack, dtype=np.uint8)
        head = pay_off[:-1]
        buf = native.assemble_payloads_native(
            id_bits, tf_bits, blk_cnt,
            id_pack_arr, id_off, id_len,
            tf_pack_arr, tf_off, tf_len,
            fn_arr, blk_start,
            head, int(pay_off[-1]),
        )
        if buf is None:
            buf = np.empty(int(pay_off[-1]), dtype=np.uint8)
            buf[head] = id_bits
            buf[head + 1] = tf_bits
            buf[head + 2] = blk_cnt - 1

            def _scatter(dst_base, src, src_off, seg_len):
                total = int(seg_len.sum())
                if not total:
                    return
                within = np.arange(total) - np.repeat(
                    np.concatenate(([0], np.cumsum(seg_len)[:-1])), seg_len
                )
                buf[np.repeat(dst_base, seg_len) + within] = src[
                    np.repeat(src_off, seg_len) + within
                ]

            _scatter(head + 3, id_pack_arr, id_off, id_len)
            _scatter(head + 3 + id_len, tf_pack_arr, tf_off, tf_len)
            _scatter(head + 3 + id_len + tf_len, fn_arr, blk_start, fn_len)
        # zero-copy: pa.py_buffer holds a reference to the numpy
        # arrays' memory (no .tobytes() re-copy — payload buffers run
        # hundreds of MB per bucket and fresh-page writes are the
        # expensive resource on this host class)
        # pa.binary() carries int32 offsets: a bucket whose total
        # payload passes 2 GiB would WRAP here and write a corrupt
        # segment with no error. Fail loudly with the remedy instead.
        if len(pay_off) and int(pay_off[-1]) > (1 << 31) - 8:
            raise ValueError(
                f"postings kernel: bucket payload {int(pay_off[-1])} B"
                " exceeds the 2 GiB arrow binary-offset range — build"
                " with more n_buckets so each term bucket of a segment"
                " holds < 2 GiB of encoded blocks"
            )
        pay_off32 = np.ascontiguousarray(pay_off, dtype=np.int32)
        payload_arr = pa.Array.from_buffers(
            pa.binary(),
            total_blk,
            [None, pa.py_buffer(pay_off32), pa.py_buffer(buf)],
        )
        # nested blocks column built directly as arrow (ListArray of
        # StructArray) — no pandas object column, no per-row dicts
        struct_arr = pa.StructArray.from_arrays(
            [
                pa.array(cids[blk_end - 1], pa.int64()),
                pa.array(blk_cnt.astype(np.int32)),
                pa.array(bmt.astype(np.int32)),
                pa.array(bmn.astype(np.int32)),
                payload_arr,
            ],
            names=[
                "last_doc_id", "doc_count", "block_max_tf",
                "block_max_norm", "payload",
            ],
        )
        offsets = np.concatenate(([0], np.cumsum(nblk))).astype(np.int32)
        blocks_arr = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), struct_arr
        )
        return pa.RecordBatch.from_arrays(
            [
                pc.take(t_arr, pa.array(starts)),
                pa.array(runs[starts], pa.int64()),
                pa.array(c_cnt, pa.int64()),
                blocks_arr,
            ],
            schema=schema,
        )

    parts = [b for b in batches if b.num_rows]
    if not parts:
        return
    has_tf = "tf" in parts[0].schema.names
    n = sum(b.num_rows for b in parts)
    # concatenate into worker-cached scratch (warm pages): fresh
    # ~100 MB allocations per call are the expensive resource on
    # write-bandwidth-poor hosts
    tids = native._scratch("cat_tid", n)
    dfns = native._scratch("cat_dfn", n)
    tfs = native._scratch("cat_tf", n) if has_tf else None
    at = 0
    for b in parts:
        m = b.num_rows
        tids[at:at + m] = b.column("term_id").to_numpy(zero_copy_only=False)
        dfns[at:at + m] = b.column("docfn").to_numpy(zero_copy_only=False)
        if has_tf:
            tfs[at:at + m] = b.column("tf").to_numpy(zero_copy_only=False)
        at += m
    # sorting by (term_id, docfn) == (term_id, doc_id): fieldnorm is
    # constant per doc
    if not native.radix_sort_native(tids, dfns, tfs):
        order = np.lexsort((dfns, tids))
        tids, dfns = tids[order], dfns[order]
        if has_tf:
            tfs = tfs[order]
    arrays = [pa.array(tids, pa.int64()), pa.array(dfns, pa.int64())]
    names = ["term_id", "docfn"]
    if has_tf:
        arrays.append(pa.array(tfs.astype(np.int32), pa.int32()))
        names.append("tf")
    yield emit(pa.RecordBatch.from_arrays(arrays, names=names))


class IndexWriter:
    """Maintains the manifest (the 'metapage'); ``store`` (a
    ``SegmentStore``, index/storage.py) drops segment files."""

    def __init__(self, index_dir: str):
        from pg_textsearch_spark.index.storage import ParquetDirStore

        self.index_dir = index_dir
        self.store = ParquetDirStore(index_dir)
        self.manifest_path = os.path.join(index_dir, "manifest.json")

    def read_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {}

    def _commit_manifest(self, manifest: dict) -> None:
        # atomic rename == the reference's WAL'd metapage update
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def commit_segment(
        self, seg_id: int, config: str, n_buckets: int, k1: float,
        b: float, num_docs: int, total_tokens: int, max_doc_id: int,
        has_keymap: bool, lineage: dict | None = None,
    ) -> dict:
        """Add one freshly written L0 segment to the manifest (atomic
        rename) — the last step of a build and of an insert, after
        every segment file exists."""
        manifest = self.read_manifest()
        if not manifest:
            manifest = {
                "format_version": 1,
                "config": config,
                "k1": k1,
                "b": b,
                "n_buckets": n_buckets,
                "segments": [],
            }
        assert manifest["config"] == config and manifest["n_buckets"] == n_buckets
        manifest["segments"] = [
            s for s in manifest["segments"] if s["seg_id"] != seg_id
        ]
        manifest["segments"].append(
            {
                "seg_id": seg_id,
                "level": 0,
                "num_docs": num_docs,
                "total_tokens": total_tokens,
                "max_doc_id": max_doc_id,
                "created_at_unix": int(time.time()),
                "has_keymap": has_keymap,
                "lineage": lineage or {},
            }
        )
        manifest["segments"].sort(key=lambda s: s["seg_id"])
        self._commit_manifest(manifest)
        return manifest


def writer_count(n_docs: int, slots: int) -> int:
    """Writer tasks of an ``n_docs`` build on ``slots`` task slots: the
    fewest whole waves (multiples of ``slots``) whose tasks hold at most
    WRITER_DOCS docs each."""
    return max(-(-n_docs // (WRITER_DOCS * slots)), 1) * slots


def build_segment(
    spark: SparkSession,
    rows: DataFrame,
    n_docs: int,
    index_dir: str,
    seg_id: int,
    config: str,
    n_buckets: int,
    k1: float = bm25.DEFAULT_K1,
    b: float = bm25.DEFAULT_B,
    lineage: dict | None = None,
    codec: str = "bitpack",
) -> dict:
    """Write ``rows`` (``local_commit.batch_rows``: ``_key`` and
    ``_key_str`` when keyed, else the caller's integer ``_id``; plus
    ``_text``) as segment ``seg_id`` of the index and commit it.

    Workers: one ``mapInArrow`` job over ``rows`` range-partitioned by
    ``_key`` (keyed) or ``_id`` into ``writer_count`` partitions; each
    non-empty partition p is written by ``local_commit.write_rows`` as
    staging segment p. A keyed writer numbers its docs 0..n_p-1 in key
    order (range partitions hold ascending key ranges, NULLs in the
    first); the driver turns the writers' doc counts into id offsets in
    partition order. A retried task rewrites only its own segment.
    Leader: ``local_commit.merge_local`` merges the staging segments
    into ``seg_id`` in the driver, adding each one's offset to its doc
    ids, then the manifest is committed once. The staging dir is
    removed on return or failure. A crash before the commit leaves the
    manifest as it was; the next build reclaims a staging dir a crash
    left behind. Returns the new manifest.
    """
    ensure_shipped(spark)  # the writers import the package
    cfg = get_config(config)
    staging = os.path.join(index_dir, STAGING_DIR)
    shutil.rmtree(staging, ignore_errors=True)
    keyed = "_key" in rows.columns
    n_parts = writer_count(n_docs, spark.sparkContext.defaultParallelism)

    def write_partition(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        t = pa.Table.from_batches(parts)
        if not keyed:
            t = t.sort_by("_id")
        seg = TaskContext.get().partitionId()
        local_commit.write_rows(staging, seg, t, 0, cfg, n_buckets, codec)
        yield pa.RecordBatch.from_pydict({
            "seg_id": pa.array([seg], pa.int32()),
            "n_docs": pa.array([t.num_rows], pa.int64()),
        })

    try:
        written = sorted(
            rows.repartitionByRange(n_parts, "_key" if keyed else "_id")
            .mapInArrow(write_partition, "seg_id int, n_docs long")
            .collect()
        )
        if not written:
            # no docs (Spark ran no writer task): an empty segment, with
            # an empty keymap when keyed, as an insert of no docs writes
            import pyarrow as pa

            local_commit.write_docs(
                staging, 0, [], [], cfg, n_buckets,
                pa.array([], pa.string()) if keyed else None,
            )
            written = [(0, 0)]
        segs, offset = [], 0
        for seg, n in written:
            segs.append({
                "seg_id": seg, "has_keymap": keyed,
                "id_offset": offset if keyed else 0,
            })
            offset += n
        stats, _, has_keymap = local_commit.merge_local(
            staging, segs, seg_id, n_buckets, None, out_dir=index_dir,
            codec=codec,
        )
        return IndexWriter(index_dir).commit_segment(
            seg_id, config, n_buckets, k1, b, has_keymap=has_keymap,
            lineage=lineage, **stats,
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    key_col: str | None = None,
    config: str = "english",
    n_buckets: int = DEFAULT_N_BUCKETS,
    k1: float = bm25.DEFAULT_K1,
    b: float = bm25.DEFAULT_B,
    lineage: dict | None = None,
    codec: str = "bitpack",
    metrics: dict | None = None,
) -> dict:
    """One-shot bulk build (reference: tp_build, build.c:1262-1600) of
    segment 0.

    If ``key_col`` is given (e.g. ``url`` for pages tables), the writers
    assign dense doc_ids in key order (``build_segment``), as an insert
    does, AND the doc_id -> key mapping is persisted as the segment's
    ``keymap`` table (the ctid map analog, reference:
    segment.c:1270-1288) so results resolve back to source rows;
    otherwise ``doc_id_col`` must already hold unique integer ids in
    [0, 2^55) (their numeric order is the tie-break order).

    ``metrics``, when given, receives wall seconds per phase:
    ``ids_sec`` (the doc count that sizes the writers) and
    ``postings_sec`` (the writer job plus the leader merge and commit).
    """
    t0 = time.time()
    rows = local_commit.batch_rows(docs, text_col, doc_id_col, key_col)
    n_docs = rows.count()
    if metrics is not None:
        metrics["ids_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    manifest = build_segment(
        spark, rows, n_docs, index_dir, 0, config, n_buckets, k1, b,
        lineage, codec,
    )
    if metrics is not None:
        metrics["postings_sec"] = round(time.time() - t0, 3)
    return manifest
