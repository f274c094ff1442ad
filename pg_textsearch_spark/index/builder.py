"""Distributed inverted-index build — the reference's CREATE INDEX path.

Maps pg_textsearch's parallel build (workers tokenize disjoint heap
block ranges, leader N-way merges sorted terms; reference:
src/access/build_parallel.c:476-914) onto Spark's native model: the
"workers" are input partitions, the "leader merge" IS the
term-partitioned shuffle, and segments are partitioned Parquet
directories (Iceberg tables in production — same logical schema).

Logical schema (SURVEY.md §1.5):
- ``postings(term, run, df_run, num_blocks, blocks[])`` bucketed by
  ``crc32(term) % n_buckets`` for query-time file pruning (the role of
  the segment dictionary's binary search, reference:
  src/segment/scan.c:579-688);
- ``doclen(doc_id, doc_len, fieldnorm)`` (the fieldnorm table,
  reference: src/segment/docmap.c:42-212) plus, for key_col-built
  indexes, ``keymap(doc_id, doc_key)`` (the ctid map: resolves
  results back to source rows, reference: segment.c:1270-1288);
- manifest.json: corpus stats + segment lineage (the metapage,
  reference: src/index/metapage.h:30-106).

Skew handling (explicit per north_rule): posting lists are built per
``(term, run)`` where ``run = doc_id >> RUN_SHIFT``. A head term's
postings therefore shard into many independent groups — no single
reducer ever owns a stopword-adjacent term's full posting list. Runs
hold disjoint, ordered doc_id ranges, so a term's posting list is the
ordered concatenation of its runs (the reference's disjoint-source
merge fast path, reference: src/segment/merge.c:748-769), and
query-time scoring treats runs independently.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql.functions import pandas_udf

from pg_textsearch_spark import native
from pg_textsearch_spark.functions import bm25
from pg_textsearch_spark.functions.fieldnorm import encode_fieldnorm
from pg_textsearch_spark.functions.tokenizer import get_config
from pg_textsearch_spark.index.blocks import BLOCKS_SCHEMA, build_blocks
from pg_textsearch_spark.index.codec import BLOCK_SIZE

#: docs per run: 2^13 = 8192. Caps any (term, run) posting group at 8192
#: entries (64 blocks) regardless of term skew — the salting knob from
#: SURVEY.md §4. A stopword-grade term shards into one group per run,
#: spreading across reducers, while a rare term still occupies a single
#: group; runs hold disjoint ordered doc ranges so a term's posting
#: list is the ordered concatenation of its runs (reference merge
#: disjoint fast path, merge.c:748-769). Measured on 100k synthetic
#: pages: the posting-build stage went from 1.3x to near-linear scaling
#: when head terms stopped being single groups.
RUN_SHIFT = 13

DEFAULT_N_BUCKETS = 16

#: size gates for the two build-path broadcast joins. Both default to
#: map sizes a production driver comfortably holds and degrade to the
#: shuffle plan beyond them — the 100 TB story is the fallback, the
#: broadcast is the single-node/mid-cluster fast path.
#: (url -> doc_id) rows broadcastable in assign_doc_ids: at ~130 B/row
#: 4M rows is ~500 MB driver-side; past that the text side pays one
#: hash shuffle (the prior default plan).
BROADCAST_IDS_MAX = int(os.environ.get("PGTS_BROADCAST_IDS_MAX", "4000000"))
#: (raw -> term_id) vocabulary rows broadcastable in the words build:
#: vocabularies are Zipf-small (1-2M raws per million web pages);
#: past the gate the occurrence stream pays the string-keyed shuffle
#: join it always did.
BROADCAST_VOCAB_MAX = int(
    os.environ.get("PGTS_BROADCAST_VOCAB_MAX", "8000000")
)


# term_bucket lives in index/codec.py (pyspark-free) so serving
# workers import it without pyspark; re-exported here for callers
from pg_textsearch_spark.index.codec import term_bucket  # noqa: F401,E402


def term_bucket_expr(term_col, n_buckets: int):
    """JVM-side bucket expr — F.crc32 == zlib.crc32 on utf-8 bytes."""
    return F.pmod(F.crc32(term_col.cast("string")), F.lit(n_buckets)).cast("int")


def _fieldnorm_udf():
    # NOT the JVM fieldnorm_encode_col expression: higher-order
    # array functions (filter/aggregate) are interpreted, which
    # disables whole-stage codegen for the entire projection stage —
    # measured +33% on the 2M-page build because the tokenizer
    # split/filter in the SAME stage loses codegen. The Arrow-batched
    # UDF keeps the JVM stage compiled and costs ~0.4 s per 2M docs.
    @pandas_udf("int")
    def _enc(doc_len: pd.Series) -> pd.Series:
        return pd.Series(
            encode_fieldnorm(doc_len.to_numpy(dtype=np.int64)).astype(np.int32)
        )

    return _enc


_POSTINGS_ROW_SCHEMA = (
    "term string, run bigint, df_run bigint, blocks " + BLOCKS_SCHEMA
)

#: id-keyed variant (dictionary-encoded build): the kernel never sees
#: a term string — the (term_id, term) map is joined back JVM-side
_POSTINGS_ROW_SCHEMA_IDS = (
    "term_id bigint, run bigint, df_run bigint, blocks " + BLOCKS_SCHEMA
)


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


def _postings_rows(batches, codec: str = "bitpack"):
    """mapInPandas kernel: sorted (term, run, doc_id, tf, fieldnorm)
    stream -> one row per (term, run) with posting blocks.

    Input partitions are hash-partitioned by (term, run) and sorted by
    (term, run, doc_id), so each group is contiguous; a group may span
    Arrow batch boundaries, handled by carrying the tail group over.
    Everything is flat numpy — no per-posting Python objects. This is
    the reference's posting-serialization loop (segment.c:968-1495)
    recast as a vectorized streaming kernel.

    The batch's cost profile: millions of (term, run) groups (a
    web-scale vocabulary is Zipf — most groups are tiny), duplicate
    (term, doc) rows to collapse (the single-shuffle build ships tf=1
    occurrence rows), and one 898-byte-max payload per 128-doc block.
    Per-GROUP numpy (the round-1..3 kernel) pays ~15 array-op
    overheads per group — ~60 us on a tail group. This kernel instead
    runs whole-batch vectorized passes: the duplicate collapse is one
    segmented sum over adjacent equal (group, doc) rows (the input is
    sorted, so duplicates are adjacent), blocks tile the collapsed
    array contiguously so all skip metadata comes from three
    ``reduceat`` calls, and ``_pack_groups`` bit-packs every block in
    a handful of scatters — byte-identical to the per-block codec.
    Only non-bitpack codecs and (never-expected) unsorted input take
    the per-group reference path.
    """
    yield from _postings_arrow(
        (_pdf_to_batch(pdf) for pdf in batches), codec, out="pandas"
    )


def _pdf_to_batch(pdf):
    import pyarrow as pa

    return pa.RecordBatch.from_pandas(pdf, preserve_index=False)


#: arrow schema of one posting row (must mirror _POSTINGS_ROW_SCHEMA /
#: _POSTINGS_ROW_SCHEMA_IDS)
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


def _postings_arrow(
    batches, codec: str = "bitpack", out: str = "arrow",
    presort: bool = False, pack_doc_bits: int | None = None,
):
    """Arrow-native posting-row kernel (see ``_postings_rows`` doc).

    Works directly on ``pyarrow.RecordBatch``es (``mapInArrow``):
    measured on the 2M-page build, the Arrow->pandas bridge of the
    73M-row sorted token stream (string term column -> object dtype)
    cost MORE than shuffle+sort+encode combined (~26 s of a 58 s
    stage at 8 cores); arrow-side boundary detection (pc.not_equal on
    sliced arrays) plus zero-copy int columns removes it entirely.
    ``out="pandas"`` converts emitted batches for the legacy pandas
    callers (tests).

    The group key column is either ``term`` (string) or ``term_id``
    (int64 — the dictionary-encoded build, where strings never cross
    the bridge at all); detected from the first batch's schema. The
    doc columns are either (doc_id, fieldnorm) or one packed ``docfn
    = doc_id << 8 | fieldnorm`` int64 (the bulk build: one less
    column per row over the bridge — the JVM ArrowWriter cost is
    per-cell, and fieldnorm is 8 bits by construction).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_pandas = out == "pandas"
    it = iter(batches)
    try:
        first = next(it)
    except StopIteration:
        return
    if "packed" in first.schema.names:
        # single-cell input (pack_doc_bits path below): the emit()
        # call there hands over an unpacked (term_id, docfn) batch
        key, packed = "term_id", True
    else:
        key = "term_id" if "term_id" in first.schema.names else "term"
        packed = "docfn" in first.schema.names
    schema = _postings_arrow_schema(key)

    def id_fn_cols(batch):
        if packed:
            dfn = batch.column("docfn").to_numpy(zero_copy_only=False)
            return dfn >> 8, dfn & 0xFF
        return (
            batch.column("doc_id").to_numpy(zero_copy_only=False),
            batch.column("fieldnorm").to_numpy(zero_copy_only=False),
        )

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
                # duplicate (term, doc) occurrences from the
                # single-shuffle build: sum their tfs (the removed
                # groupBy stage); fieldnorm is constant per doc ->
                # first occurrence wins
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
        ends = np.concatenate((starts[1:], [n_rows]))
        if codec != "bitpack":
            return emit_legacy(batch)
        # sortedness within groups is the shuffle's contract
        # (sortWithinPartitions(term, run, doc_id)); verify cheaply and
        # fall back to the reference path if ever violated
        decreasing = np.empty(n_rows, dtype=bool)
        decreasing[0] = False
        decreasing[1:] = ids[1:] < ids[:-1]
        decreasing[starts] = False
        if decreasing.any():
            return emit_legacy(batch)

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
        # hundreds of MB per partition and fresh-page writes are the
        # expensive resource on this host class)
        # pa.binary() carries int32 offsets: a partition whose total
        # payload passes 2 GiB would WRAP here and write a corrupt
        # segment with no error (the old pa.array(list) path raised
        # ArrowCapacityError). Fail loudly with the remedy instead.
        if len(pay_off) and int(pay_off[-1]) > (1 << 31) - 8:
            raise ValueError(
                f"postings kernel: partition payload {int(pay_off[-1])} B"
                " exceeds the 2 GiB arrow binary-offset range — raise"
                " spark.sql.shuffle.partitions so each (term,run)"
                " shuffle partition holds < 2 GiB of encoded blocks"
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

    if presort and pack_doc_bits is not None:
        # SINGLE-CELL path (see postings_from_flat_ids pack_bits):
        # each row is one int64 packing term_id | doc_id | fieldnorm.
        # Sorting that one key IS the (term, doc) co-sort — numpy 2's
        # SIMD introsort on one int64 array measured 2x faster than
        # the 16-bit LSD radix co-sort the two-column path needs, so
        # no native kernel is involved here. Sign bit is always clear
        # (bit budget <= 63), so signed order == unsigned order.
        assert "packed" in first.schema.names, "pack path needs packed col"
        parts = [b for b in [first, *it] if b.num_rows]
        if not parts:
            return
        n = sum(b.num_rows for b in parts)
        keys = native._scratch("cat_pk", n)
        at = 0
        for b in parts:
            m = b.num_rows
            keys[at:at + m] = b.column("packed").to_numpy(
                zero_copy_only=False
            )
            at += m
        keys.sort()
        # unpack into the two-column form the shared emit() consumes
        # (scratch-backed: fresh ~100 MB pages are the expensive
        # resource on this host class)
        shift = pack_doc_bits + 8
        dfn_mask = (1 << shift) - 1
        tids = native._scratch("cat_tid", n)
        dfns = native._scratch("cat_dfn", n)
        np.right_shift(keys, shift, out=tids)
        np.bitwise_and(keys, dfn_mask, out=dfns)
        out_batch = emit(
            pa.RecordBatch.from_arrays(
                [pa.array(tids, pa.int64()), pa.array(dfns, pa.int64())],
                names=["term_id", "docfn"],
            )
        )
        yield out_batch.to_pandas() if out_pandas else out_batch
        return

    if presort:
        # the shuffle hands us an UNSORTED hash partition; with
        # fixed-width int columns a numpy lexsort is several times
        # cheaper than the JVM row sorter the plan would otherwise run
        # between shuffle read and the bridge. Buffered memory = one
        # shuffle partition of ints (~16-20 B/row) — the same order
        # Spark's sorter would hold before spilling; size
        # spark.sql.shuffle.partitions so partitions stay ~100 MB.
        assert key == "term_id" and packed, "presort is the ids path"
        parts = [b for b in [first, *it] if b.num_rows]
        if not parts:
            return
        has_tf = "tf" in first.schema.names
        n = sum(b.num_rows for b in parts)
        # concatenate into worker-cached scratch (warm pages) — a
        # fresh np.concatenate per partition pays this host class's
        # fresh-page write tax on ~100 MB
        tids = native._scratch("cat_tid", n)
        dfns = native._scratch("cat_dfn", n)
        tfs = native._scratch("cat_tf", n) if has_tf else None
        at = 0
        for b in parts:
            m = b.num_rows
            tids[at:at + m] = b.column("term_id").to_numpy(
                zero_copy_only=False
            )
            dfns[at:at + m] = b.column("docfn").to_numpy(
                zero_copy_only=False
            )
            if has_tf:
                tfs[at:at + m] = b.column("tf").to_numpy(
                    zero_copy_only=False
                )
            at += m
        if native.radix_sort_native(tids, dfns, tfs):
            pass  # in-place, grouped by term_id, doc-ascending
        else:
            order = np.lexsort((dfns, tids))
            tids, dfns = tids[order], dfns[order]
            if has_tf:
                tfs = tfs[order]
        arrays = [pa.array(tids, pa.int64()), pa.array(dfns, pa.int64())]
        names = ["term_id", "docfn"]
        if has_tf:
            arrays.append(pa.array(tfs.astype(np.int32), pa.int32()))
            names.append("tf")
        out_batch = emit(pa.RecordBatch.from_arrays(arrays, names=names))
        yield out_batch.to_pandas() if out_pandas else out_batch
        return

    def _all_batches():
        yield first
        yield from it

    carry = None
    for batch in _all_batches():
        if carry is not None and carry.num_rows:
            tbl = pa.Table.from_batches([carry, batch]).combine_chunks()
            bs = tbl.to_batches()
            batch = (
                bs[0]
                if len(bs) == 1
                else pa.RecordBatch.from_pandas(
                    tbl.to_pandas(), preserve_index=False
                )
            )
            carry = None
        n_rows = batch.num_rows
        if n_rows == 0:
            continue
        t_arr = batch.column(key)
        runs = id_fn_cols(batch)[0] >> RUN_SHIFT
        gchange = np.zeros(n_rows, dtype=bool)
        if n_rows > 1:
            term_neq = pc.not_equal(
                t_arr.slice(1), t_arr.slice(0, n_rows - 1)
            ).to_numpy(zero_copy_only=False)
            gchange[1:] = term_neq | (runs[1:] != runs[:-1])
        change = np.flatnonzero(gchange)
        if len(change) == 0:
            carry = batch  # whole batch is one (maybe continuing) group
            continue
        last_start = int(change[-1])
        carry = batch.slice(last_start)
        out = emit(batch.slice(0, last_start))
        yield out.to_pandas() if out_pandas else out
    if carry is not None and carry.num_rows:
        out = emit(carry)
        yield out.to_pandas() if out_pandas else out


def _ids_map(
    df: DataFrame,
    key_col: str,
    out_col: str = "doc_id",
    persisted: list | None = None,
) -> tuple[DataFrame, int]:
    """(key -> dense doc_id) map + key count, WITHOUT the join-back.

    The key-only core of ``assign_doc_ids`` (see its docstring for the
    shape rationale). Factored out so ``build_index`` can run this
    job's counts collect on a worker thread CONCURRENTLY with the
    tokenize/vocabulary materialization — the two touch disjoint
    columns (keys vs text) and meet only at the doc-level join.
    Thread-safe: driver-side state is local; the one collect and the
    tiny createDataFrame are safe off the main thread.
    """
    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    keys = df.select(key_col)  # column-pruned: the scan reads only keys
    ranged = keys.repartitionByRange(n_parts, F.col(key_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    if persisted is not None:
        persisted.append(ranged)
    counts = {r["_pid"]: r["cnt"] for r in
              ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(key_col)
    ids = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.row_number().over(w) + F.col("_offset") - 1)
        .drop("_pid", "_offset")
    )
    # NOT persisted (round-8 A/B, measured and rejected): ids has two
    # consumers in a keyed build (broadcast join-back + keymap write),
    # but the keymap's recompute runs CONCURRENTLY under the postings
    # action on otherwise-idle cores, while a persist moves the cache
    # build onto the critical path inside the broadcast evaluation —
    # interleaved 2M/8-core A/B: 53.1 s (persist) vs 47.1 s median.
    return ids, sum(counts.values())


def assign_doc_ids(
    df: DataFrame,
    key_col: str,
    out_col: str = "doc_id",
    persisted: list | None = None,
    validate: bool = False,
) -> DataFrame:
    """Dense global doc_ids 0..n-1 in ``key_col`` order, scalably.

    Plays the reference's docmap role: doc_id order == global key order
    (CTID order there, url order here; reference: docmap.c:172-181
    "CTID order = doc_id order"). ``key_col`` values must be unique
    (they play the CTID's role) AND the input plan must be
    DETERMINISTIC under re-evaluation: only the key column is persisted
    through the range shuffle, so ``df`` itself is executed twice (key
    pass + final hash join). A source whose keys change between
    evaluations (rand()/sampled/non-stable generators) would silently
    drop or mis-key documents via the inner join — persist such inputs
    before calling, or pass ``validate=True`` to pay one extra count
    job that fails loudly when the joined row count differs from the
    key count.

    Shape: only the KEY COLUMN goes through the range shuffle — the
    sample pass, the range exchange, and the within-partition sort all
    touch ~n keys, never the document bodies (dragging text through
    repartitionByRange measured ~10 s of an ~46 s 1M-doc build at 8
    cores, and the sample job decoded the text column for nothing).
    The (key, doc_id) table then hash-joins back onto the full rows —
    one text shuffle, same as before, but sort-free. No single-
    partition global window anywhere: ids come from per-partition
    row_number + broadcast partition offsets (tiny collect).

    The ranged key table stays persisted while the caller's actions
    run; pass ``persisted`` (a list the caller unpersists when done) to
    avoid executor-memory creep across many builds in one session.
    """
    ids, n_keys = _ids_map(df, key_col, out_col, persisted)
    # join-back strategy, picked from the key count we just collected
    # (free — the offsets pass already counted every partition):
    # broadcasting the narrow (key, doc_id) map keeps the DOCUMENT
    # BODIES where they were scanned — zero text shuffle; the map-side
    # probe rides the consumer's own scan stage (measured ~4.5 s of a
    # 28 s 1M-page build was just lz4-ing text through the exchange).
    # Past the gate (driver-sized map), SHUFFLE_HASH: a sort-merge
    # join would sort the document bodies by key — exactly the cost
    # this key-only design avoids; the hash table builds from the
    # narrow ids side and the text side streams.
    if n_keys <= BROADCAST_IDS_MAX:
        joined = df.join(F.broadcast(ids), key_col)
    else:
        joined = df.join(ids.hint("SHUFFLE_HASH"), key_col)
    # the (key, doc_id) map itself, for callers (keymap write) that
    # would otherwise re-scan the full rows just to project it back out
    joined._pgts_ids = ids
    # ids are dense 0..n_keys-1: the count doubles as the doc-id bit
    # budget for the single-cell posting pack (see
    # _words_segment_dataframes)
    joined._pgts_n_keys = n_keys
    if validate:
        n_joined = joined.count()
        if n_joined != n_keys:
            raise ValueError(
                f"assign_doc_ids: joined row count {n_joined} != key "
                f"count {n_keys} — the input plan re-evaluated "
                f"non-deterministically (or keys are not unique); "
                f"persist the input before calling"
            )
    return joined


def build_segment_dataframes(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
    config: str = "english",
    n_buckets: int = DEFAULT_N_BUCKETS,
    codec: str = "bitpack",
    persisted: list | None = None,
    ids_future=None,
) -> tuple[DataFrame, DataFrame]:
    """docs(doc_id, text) -> (postings_df, doclen_df) for one segment.

    Shuffle budget (the build's scale story): word-parser configs run
    ONE shuffle end-to-end — the (term, run) repartition feeding the
    block builder. doc_len and fieldnorm are computed per *doc row*
    before the explode (doc_len = surviving-token count; stemming
    never changes the count), so no doc_id-keyed window/join ever
    touches the token table, and the fieldnorm UDF runs once per doc
    instead of once per token. Duplicate (term, doc) occurrences ride
    the shuffle as tf=1 rows and are collapsed by the block-builder
    kernel (map-side volume ~20-30%% higher than pre-aggregated pairs,
    in exchange for dropping the whole groupBy(doc, term) stage — a
    measured win). The posting-list "merge" of the reference's leader
    loop is simply that one shuffle (build_parallel.c:640-838).

    pg-parser configs (typed token classes) run the scanner kernel
    ONCE: it emits unique (doc, term, tf) WITH doc_len/fieldnorm
    computed in-kernel (the kernel holds each whole doc) and a
    term=NULL marker row for empty-tokenizing docs — so doclen is a
    narrow dedup over the same persisted output, and the (term, run)
    repartition is the only full-width shuffle (round 2 spent a window
    shuffle + a fieldnorm UDF stage + an input re-scan here).
    """
    cfg = get_config(config) if isinstance(config, str) else config
    if cfg.parser != "pg":
        return _words_segment_dataframes(
            docs, doc_id_col, text_col, cfg, n_buckets, codec, persisted,
            ids_future=ids_future,
        )
    if ids_future is not None:
        raise ValueError("deferred doc-id attachment is words-path only")
    from pg_textsearch_spark.functions.tokenizer import (
        _pg_spark_tokens_with_len,
    )

    tokens = _pg_spark_tokens_with_len(docs, doc_id_col, text_col, cfg)
    tokens = tokens.withColumnRenamed(doc_id_col, "doc_id").withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )
    tokens = tokens.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted is not None:
        persisted.append(tokens)

    # every input doc appears exactly once: real docs via their token
    # rows (constant doc_len per doc), empty/NULL-text docs via their
    # marker row (doc_len 0, fieldnorm encode(0)=0) — the reference's
    # docmap registers every indexed row, so N/avgdl count empty docs
    # too (reference: docmap.c:42-212, bm25.c:155-191)
    doclen = tokens.select("doc_id", "doc_len", "fieldnorm").dropDuplicates(
        ["doc_id"]
    )

    # the scanner kernel emits term strings (it runs the typed-class
    # state machine in Python anyway), but the POST-shuffle stream is
    # dictionary-encoded like the words path: hash to term_id here
    # (JVM expr over the persisted kernel output) so the big sorted
    # bridge into the posting kernel ships ints only
    nonnull = tokens.filter(F.col("term").isNotNull())
    if os.environ.get("PGTS_DICT_ENCODE", "1") == "0":
        # string-keyed fallback — the collision-immune path the
        # xxhash64-collision error names; it must stay reachable from
        # the public build API for pg configs too (a colliding
        # pg-config corpus would otherwise be unbuildable)
        flat_s = nonnull.select("term", "doc_id", "tf", "fieldnorm")
        return postings_from_flat(flat_s, n_buckets, codec), doclen
    termmap = (
        nonnull.select("term")
        .distinct()
        .withColumn("term_id", F.xxhash64("term"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if persisted is not None:
        persisted.append(termmap)
    flat = nonnull.select(
        F.xxhash64("term").alias("term_id"), "doc_id", "tf", "fieldnorm"
    )
    # arrow_batch=None: unlike the words path, this plan's Python
    # stages are NOT int-only — the postings action (and the doclen/
    # keymap jobs running concurrently under write_segment's
    # session-wide conf window) may traverse the full-text mapInPandas
    # scanner stage when the tokens cache is cold/partial, and a 262k-
    # row Arrow batch of raw documents is GB-scale per task (advisor
    # round 6). The default 10k-row batches stay.
    return (
        postings_from_flat_ids(
            flat, termmap, n_buckets, codec,
            validate=_collision_check(termmap),
            arrow_batch=None,
        ),
        doclen,
    )


def _words_segment_dataframes(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
    cfg,
    n_buckets: int,
    codec: str,
    persisted: list | None,
    ids_future=None,
) -> tuple[DataFrame, DataFrame]:
    """Single-shuffle build for split-regex configs (see caller doc).

    ``ids_future`` (a Future resolving to ``_ids_map``'s (ids df,
    n_keys)) defers doc-id attachment: ``doc_id_col`` is then the
    STRING key column, the tokenized doc-level base is built and
    materialized keyed by it — concurrently with the ids job running
    on another thread — and dense doc_ids arrive via one doc-level
    join against the persisted base (broadcast under the gate, the
    usual shuffle join past it). The ids counts collect and the
    corpus tokenize pass no longer serialize behind each other.
    """
    from pg_textsearch_spark.functions.tokenizer import (
        _stem_udf,
        raw_tokens_column,
    )

    # dense-id count hint from assign_doc_ids (serial head path): lets
    # the single-cell pack decision below know the doc-id bit budget
    # without an extra pass
    n_keys_hint = getattr(docs, "_pgts_n_keys", None)
    toks = raw_tokens_column(F.col(text_col), cfg)
    if cfg.stopwords:
        stops = sorted(cfg.stopwords)
        # InSet membership per element — JVM-side, no anti-join needed
        toks = F.filter(toks, lambda t: ~t.isin(stops))
    toks = F.coalesce(toks, F.array().cast("array<string>"))
    id_expr = (
        F.col(doc_id_col).cast("long").alias("doc_id")
        if ids_future is None else F.col(doc_id_col)
    )
    base = docs.select(id_expr, toks.alias("toks")).withColumn(
        "doc_len", F.size("toks").cast("long")
    )
    if os.environ.get("PGTS_FIELDNORM_UDF", "0") == "1":
        # Arrow-batched UDF variant (pre-round-8 default), kept for A/B
        base = base.withColumn("fieldnorm", _fieldnorm_udf()("doc_len"))
    else:
        # codegen CASE-chain encode (functions/fieldnorm.py): the base
        # build then has NO Python node — scan -> tokenize -> project
        # -> cache is one whole-stage-codegen span (round 8, guide §4.1;
        # unlike the higher-order fieldnorm_encode_col this expression
        # does not disable codegen)
        from pg_textsearch_spark.functions.fieldnorm import (
            fieldnorm_encode_expr,
        )

        base = base.withColumn(
            "fieldnorm", fieldnorm_encode_expr(F.col("doc_len"))
        )
    # doc-level rows only (id, toks, len, norm): far lighter to persist
    # than the round-1 token-level table. Dropping this persist was
    # measured and REJECTED (round 5): building the array<string>
    # columnar cache costs ~2.5 s at 1M pages/32c, but the base has
    # three consumers (vocab pass, postings stream, doclen) — without
    # it the doclen job re-tokenizes for ~5 s concurrently with the
    # postings action and steals its cores (postings_sec 12.3 -> 15.7,
    # total +2-3 s).
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted is not None:
        persisted.append(base)
    vocab_src = base
    pack_bits: tuple[int, int] | None = None
    if cfg.do_stem:
        # stem the DISTINCT raw vocabulary, not every occurrence: the
        # (raw -> term_id) map is Zipf-small (one UDF call per unique
        # raw token instead of one per token occurrence), and the
        # occurrence stream then picks up its term_id via a JVM hash
        # join — the stemmer leaves the hot path entirely, and no term
        # STRING ever crosses the Arrow bridge (see
        # postings_from_flat_ids). NO join hint: AQE sees the
        # materialized vocab stage's size and picks broadcast (every
        # realistic vocab) vs shuffle (a 100 TB corpus's raw
        # vocabulary can outgrow the driver) at runtime.
        rawmap = (
            vocab_src.select(F.explode("toks").alias("raw"))
            .distinct()
            .withColumn("term", _stem_udf(cfg)("raw"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if persisted is not None:
            persisted.append(rawmap)
        # evaluate the vocabulary EAGERLY, before the main postings
        # action: one vocab-sized agg (a) materializes the rawmap
        # cache every later consumer (occurrence join, termmap,
        # dictionary) reuses, (b) yields the raw-map row count that
        # decides the join strategy below, and (c) yields the term
        # count that decides the TERM-ID ENCODING: when the distinct
        # terms, the doc ids, and the 8 fieldnorm bits together fit 63
        # bits, term ids are DENSE ordinals (dense_rank over the
        # vocab — collision-free by construction, no xxhash64 check
        # needed) and the whole posting fits ONE int64 cell
        # (postings_from_flat_ids pack_bits): the 36.7M-row JVM->
        # Python bridge ships half the cells and the shuffle half the
        # bytes of the two-column form — the build's measured DRAM
        # constant. Past the bit budget (10^11-doc x 10^9-term
        # corpora) or the vocab gate (a single-partition window over
        # 8M+ rows stops being free), xxhash64 ids + the two-column
        # stream return, with the loud collision check.
        vstats = rawmap.agg(
            F.count("*").alias("n_raws"),
            F.countDistinct("term").alias("n_terms"),
        ).collect()[0]
        n_terms = int(vstats["n_terms"] or 0)
        if ids_future is not None:
            # Future.result() is memoized — the doc-id join below
            # re-reads the same resolved pair
            max_doc = ids_future.result()[1] - 1
        elif n_keys_hint is not None:
            max_doc = int(n_keys_hint) - 1
        else:
            # caller-supplied integer ids: one cached-scan agg (base
            # was just materialized by the vstats pass)
            max_doc = base.agg(F.max("doc_id")).collect()[0][0]
        term_bits = max((n_terms - 1).bit_length(), 1)
        doc_bits = (
            max(int(max_doc).bit_length(), 1)
            if max_doc is not None and max_doc >= 0 else None
        )
        pack_ok = (
            os.environ.get("PGTS_PACK_SINGLE", "1") != "0"
            and n_terms > 0
            and doc_bits is not None
            and term_bits + doc_bits + 8 <= 63
            and vstats["n_raws"] <= BROADCAST_VOCAB_MAX
        )
        if pack_ok:
            # dense ordinals 0..n_terms-1 in term sort order: a
            # window over the CACHED vocab (vocab-sized single
            # partition — inside the gate above). Deterministic under
            # re-evaluation (pure function of the term set).
            idmap = rawmap.withColumn(
                "term_id",
                (F.dense_rank().over(Window.orderBy("term")) - 1).cast(
                    "long"
                ),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            pack_bits = (term_bits, doc_bits)
            check_df = None  # dense ids cannot collide
        else:
            idmap = rawmap.withColumn(
                "term_id", F.xxhash64("term")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            check_df = idmap  # deferred collision check (concurrent)
        if persisted is not None:
            persisted.append(idmap)
        termmap = idmap.select("term", "term_id").distinct()
        # Broadcasting the Zipf-small vocab turns the occurrence-
        # stream join into a map-side probe inside the explode stage
        # — the plan this replaces re-shuffled the whole occurrence
        # stream on the raw STRING key (measured 5.6 s wall / 118
        # core-s of a 28 s 1M-page build); past the gate the shuffle
        # join returns.
        join_map = idmap.select("raw", "term_id")
        if vstats["n_raws"] <= BROADCAST_VOCAB_MAX:
            join_map = F.broadcast(join_map)
    else:
        join_map = None  # term_id computed inline on occurrences
        termmap = (
            vocab_src.select(F.explode("toks").alias("term"))
            .distinct()
            .withColumn("term_id", F.xxhash64("term"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if persisted is not None:
            persisted.append(termmap)
        check_df = termmap

    if ids_future is not None:
        # dense ids arrive now — the ids job ran while the vocab pass
        # above ran. One doc-level join (probe per DOC row, before the
        # explode): broadcast keeps the token arrays where they were
        # computed; past the driver-sized gate the shuffle join is the
        # plan the serial path ran anyway. (result may carry a third
        # element — the raw (key, doc_id) map for the keymap writer.)
        res = ids_future.result()
        ids, n_keys = res[0], res[1]
        if n_keys <= BROADCAST_IDS_MAX:
            base = base.join(F.broadcast(ids), doc_id_col)
        else:
            base = base.join(ids.hint("SHUFFLE_HASH"), doc_id_col)
        base = base.drop(doc_id_col)

    # every doc appears, incl. ones tokenizing to nothing (doc_len 0)
    doclen = base.select("doc_id", "doc_len", "fieldnorm")
    raw = base.select("doc_id", "fieldnorm", F.explode("toks").alias("raw"))

    if os.environ.get("PGTS_DICT_ENCODE", "1") == "0":
        # string-keyed fallback (PGTS_DICT_ENCODE=0): term STRINGS ride
        # the shuffle and the Arrow bridge — slower, but immune to
        # xxhash64 term_id collisions. This is the remedy the collision
        # error below names; it must stay reachable from the public
        # build API.
        if cfg.do_stem:
            tmap = rawmap.select("raw", "term")
            if vstats["n_raws"] <= BROADCAST_VOCAB_MAX:
                tmap = F.broadcast(tmap)
            tokens_s = raw.join(tmap, "raw")
        else:
            tokens_s = raw.withColumn("term", F.col("raw"))
        flat_s = tokens_s.select("term", "doc_id", "fieldnorm")
        return postings_from_flat(flat_s, n_buckets, codec), doclen

    if join_map is not None:
        tokens = raw.join(join_map, "raw")
    else:
        tokens = raw.withColumn("term_id", F.xxhash64("raw"))
    # no tf column: each row is one occurrence (tf=1) and the block
    # kernel's segmented sum counts them — why ship 4 constant
    # bytes/row through the arrow bridge
    flat = tokens.select("term_id", "doc_id", "fieldnorm")
    validate = (
        _collision_check(check_df) if check_df is not None
        else (lambda: None)
    )
    return (
        postings_from_flat_ids(flat, termmap, n_buckets, codec,
                               validate=validate, pack_bits=pack_bits),
        doclen,
    )


def postings_from_flat(
    flat: DataFrame, n_buckets: int, codec: str = "bitpack"
) -> DataFrame:
    """(term, run, doc_id, tf, fieldnorm) -> posting rows.

    The term-partitioned shuffle: hash by (term, run) — head terms
    shard across reducers by run — then sort within partitions so each
    (term, run) group is a contiguous sorted slice, consumed by the
    columnar mapInPandas block builder. Shared by bulk build, merge,
    and vacuum. ``codec`` selects the block payload encoding
    (bitpack default; varint alternative — see index/codec.py flags)."""
    spark = flat.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def rows(batches):
        yield from _postings_arrow(batches, codec)

    # ship the MINIMUM bytes into the Python worker: the JVM->Python
    # Arrow IPC of the sorted token stream is the build's single
    # largest cost (measured 26 s of a 58 s stage at 8 cores — more
    # than shuffle+sort+encode together), and it is pure bytes/row.
    # ``run`` is derivable (doc_id >> RUN_SHIFT, monotone in doc_id, so
    # sorting by (term, doc_id) already groups runs contiguously), a
    # missing ``tf`` column means tf=1 per occurrence (the kernel's
    # segmented sum then just counts), and fieldnorm fits a smallint.
    cols = [F.col("term"), F.col("doc_id")]
    if "tf" in flat.columns:
        cols.append(F.col("tf"))
    cols.append(F.col("fieldnorm").cast("smallint").alias("fieldnorm"))
    slim = flat.select(*cols)
    return (
        slim.repartition(
            n_shuffle, "term", F.shiftright("doc_id", RUN_SHIFT)
        )
        .sortWithinPartitions("term", "doc_id")
        .mapInArrow(rows, _POSTINGS_ROW_SCHEMA)
        .withColumn("bucket", term_bucket_expr(F.col("term"), n_buckets))
    )


#: arrow batch rows for the postings-kernel action (see
#: postings_from_flat_ids) — safe because its rows are fixed-width
BUILD_ARROW_BATCH = 262_144


def _collision_check(termmap: DataFrame):
    """Deferred xxhash64-collision check over a (term[, raw], term_id)
    map: a collision would silently merge two terms' postings, so the
    build must fail loudly. Returned as a callable so write_segment can
    run it CONCURRENTLY with the postings action (it shares the
    persisted vocab cache — Spark's CacheManager per-partition loading
    locks make the race compute-once) and still fail before the
    manifest commit. Collision probability ~n^2/2^65 (~3e-4 at 100M
    terms); on detection, rebuild via the string-keyed
    ``postings_from_flat`` path.
    """

    def check():
        row = termmap.agg(
            F.countDistinct("term").alias("n_terms"),
            F.countDistinct("term_id").alias("n_ids"),
        ).collect()[0]
        if row["n_terms"] != row["n_ids"]:
            raise ValueError(
                f"term_id collision: {row['n_terms']} distinct terms "
                f"hash to {row['n_ids']} distinct xxhash64 ids; rebuild "
                f"this corpus with PGTS_DICT_ENCODE=0 (the string-keyed "
                f"postings_from_flat path — collision-immune)"
            )

    return check


from contextlib import contextmanager


@contextmanager
def _arrow_batch(spark: SparkSession, n):
    """Temporarily override arrow.maxRecordsPerBatch for one action."""
    if not n:
        yield
        return
    k = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(k)
    spark.conf.set(k, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(k, old)


def postings_from_flat_ids(
    flat: DataFrame,
    termmap: DataFrame,
    n_buckets: int,
    codec: str = "bitpack",
    validate=None,
    arrow_batch: int | None = BUILD_ARROW_BATCH,
    pack_bits: tuple[int, int] | None = None,
) -> DataFrame:
    """Dictionary-encoded ``postings_from_flat`` — the bulk build's
    hot path (round-5 headline: close the single-node build constant).

    ``flat``: (term_id, doc_id[, tf], fieldnorm) with ``term_id =
    xxhash64(term)`` computed JVM-side; ``termmap``: the distinct
    (term, term_id) map (caller persists it — it is evaluated twice:
    collision check + join-back). The sorted token stream crosses the
    JVM->Python Arrow bridge as FIXED-WIDTH INTS ONLY: the round-4
    decomposition measured the JVM ArrowWriter serialization of the
    string term column at ~26 s of the 58 s 2M-page postings stage
    (8 cores) — more than shuffle+sort+encode combined; an int64 id
    column removes it entirely (and turns the shuffle sort into long
    compares instead of UTF8). The kernel's output (one row per
    (term, run) carrying the encoded blocks — orders of magnitude
    fewer rows than the token stream) gets its term string back from
    a vocab-sized JVM-side join, so the on-disk segment format is
    IDENTICAL to the string path: query side, merge, dictionary are
    untouched.

    xxhash64 collisions would silently merge two terms' postings, so
    every caller carries a collision check (see ``_collision_check``) —
    run off the critical path: ``validate`` (defaulting to a check over
    ``termmap``) is attached to the returned plan as ``_pgts_validate``
    and executed by ``write_segment`` on a thread concurrent with the
    postings action, failing the build before its manifest commit. A
    detected collision fails loudly; the string-keyed
    ``postings_from_flat`` remains as the fallback path.
    """
    spark = flat.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if validate is None:
        validate = _collision_check(termmap)

    if pack_bits is not None:
        # SINGLE-CELL stream: term_id | doc_id | fieldnorm in disjoint
        # bit fields of ONE int64 (caller guarantees dense collision-
        # free term ids and supplies the exact bit budget). The JVM
        # ArrowWriter bridge cost is per-CELL and the 36.7M-row stream
        # is the build's DRAM constant (BASELINE.md decomposition):
        # one cell/row halves it vs the (term_id, docfn) pair, the
        # shuffle ships half the bytes, and the kernel sorts ONE key.
        # The shuffle key packed >> (RUN_SHIFT+8) is constant within a
        # (term, run) group (it IS term_id<<k | run when doc_bits >
        # RUN_SHIFT; distinct groups may share a reducer — grouping
        # correctness lives in the kernel's boundary scan, not the
        # partitioner). tf never appears here: the words path ships
        # occurrences and the kernel's segmented sum counts them.
        assert "tf" not in flat.columns, "pack_bits is occurrence-only"
        term_bits, doc_bits = pack_bits
        assert term_bits + doc_bits + 8 <= 63
        # loud range guard: out-of-budget ids would silently corrupt
        # neighbouring bit fields (same rationale as guarded_id below)
        bad = (
            (F.col("term_id") < 0)
            | (F.col("term_id") >= F.lit(1 << term_bits))
            | (F.col("doc_id") < 0)
            | (F.col("doc_id") >= F.lit(1 << doc_bits))
        )
        packed_expr = (
            F.shiftleft(F.col("term_id"), doc_bits + 8)
            .bitwiseOR(F.shiftleft(F.col("doc_id"), 8))
            .bitwiseOR(F.col("fieldnorm").cast("long"))
        )
        slim = flat.select(
            F.when(
                bad,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "postings_from_flat_ids: (term_id, doc_id)"
                            " outside the packed bit budget "
                            f"({term_bits}+{doc_bits}+8): "
                        ),
                        F.col("term_id").cast("string"),
                        F.lit(", "),
                        F.col("doc_id").cast("string"),
                    )
                ).cast("long"),
            )
            .otherwise(packed_expr)
            .alias("packed")
        )

        def rows_packed(batches):
            yield from _postings_arrow(
                batches, codec, presort=True, pack_doc_bits=doc_bits
            )

        posting_rows = slim.repartition(
            n_shuffle, F.shiftright("packed", RUN_SHIFT + 8)
        ).mapInArrow(rows_packed, _POSTINGS_ROW_SCHEMA_IDS)
        joined = posting_rows.join(
            termmap.select("term_id", "term"), "term_id"
        )
        out = joined.withColumn(
            "bucket", term_bucket_expr(F.col("term"), n_buckets)
        ).select("term", "run", "df_run", "blocks", "bucket")
        if arrow_batch:
            out._pgts_arrow_batch = int(arrow_batch)
        out._pgts_validate = validate
        return out

    def rows(batches):
        yield from _postings_arrow(batches, codec, presort=True)

    # pack (doc_id, fieldnorm) into ONE int64 — docfn = doc_id << 8 |
    # fieldnorm (fieldnorm is 8 bits by construction, doc_id < 2^55):
    # the ArrowWriter bridge cost is per-CELL, and dropping a column
    # from the 36M-row stream measured ~15% off the whole stage.
    # Sorting by (term_id, docfn) == (term_id, doc_id) since fieldnorm
    # is constant per doc; run = docfn >> (RUN_SHIFT + 8).
    # loud range guard (JVM, codegen'd — two comparisons/row): packing
    # wraps silently for doc_id >= 2^55 or < 0 (e.g. caller-supplied
    # snowflake-style ids through doc_id_col), which would corrupt the
    # unpacked ids downstream with no error. Dense build-assigned ids
    # never trip it.
    guarded_id = F.when(
        (F.col("doc_id") < 0) | (F.col("doc_id") >= F.lit(1 << 55)),
        F.raise_error(
            F.concat(
                F.lit(
                    "postings_from_flat_ids: doc_id outside the packable"
                    " range [0, 2^55): "
                ),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("doc_id"))
    cols = [
        F.col("term_id"),
        F.shiftleft(guarded_id, 8)
        .bitwiseOR(F.col("fieldnorm").cast("long"))
        .alias("docfn"),
    ]
    if "tf" in flat.columns:
        cols.append(F.col("tf").cast("int").alias("tf"))
    slim = flat.select(*cols)
    # NO sortWithinPartitions: the kernel presorts each partition in
    # numpy (see _postings_arrow presort) — on int columns that beats
    # the JVM row sorter and lets the ArrowWriter stream straight off
    # the shuffle reader
    posting_rows = slim.repartition(
        n_shuffle, "term_id", F.shiftright("docfn", RUN_SHIFT + 8)
    ).mapInArrow(rows, _POSTINGS_ROW_SCHEMA_IDS)
    # term-string join-back: vocab-sized build side, unhinted — AQE
    # sees the materialized termmap stage's size and broadcasts every
    # realistic vocabulary; a 100 TB-corpus vocab past the driver's
    # budget degrades to a shuffle join on the (already term_id-keyed)
    # posting rows, not the token stream
    joined = posting_rows.join(termmap.select("term_id", "term"), "term_id")
    out = joined.withColumn(
        "bucket", term_bucket_expr(F.col("term"), n_buckets)
    ).select("term", "run", "df_run", "blocks", "bucket")
    # every Python stage under this plan sees narrow fixed-width rows
    # (int columns; vocab-sized strings), so 4x-larger Arrow batches
    # are safe and shave the per-batch bridge overhead (measured
    # ~1.5 s on the 1M-page build); write_segment applies the conf
    # around the postings action via this marker. NB the conf is
    # session-global for that window — the doclen/keymap jobs running
    # concurrently (write_segment's early tail) may plan under it,
    # which is safe on the words path because those chains are UDF-free
    # (cached base reads + JVM aggs). Callers whose plans traverse a
    # wide-row Python stage (the pg-parser scanner) pass
    # ``arrow_batch=None`` — a 262k-row batch of raw documents is
    # GB-scale per task there.
    if arrow_batch:
        out._pgts_arrow_batch = int(arrow_batch)
    out._pgts_validate = validate
    return out


#: physical layout = the dictionary's binary-searchability: cluster
#: each bucket into term-sorted files with small row groups so the
#: query-time ``term IN (...)`` predicate prunes at row-group
#: granularity (the reference reads only the matched terms' blocks;
#: without this a query reads its whole bucket). Shared by bulk build
#: and merge/vacuum via SegmentStore.write.
def _postings_write_opts() -> dict:
    """Postings write layout (round-8 A/B, guide §2.4 — MEASURED AND
    KEPT AS-IS).

    The pre-write ``repartition("bucket")`` moves every encoded block
    a second time (403 MB re-shuffled on a 2M-page build, ~1 s wall at
    8 cores). PGTS_BUCKET_SHUFFLE=0 drops it: the dynamic-partition
    writer fans each kernel task into its buckets' dirs after a LOCAL
    sort — but that leaves one file per (kernel task, bucket), and at
    the 1M-page/64-partition bench shape each file is ~60 KB with a
    single row group spanning the bucket's whole term range, so
    row-group term pruning stops pruning: q_4tok/q_8tok regressed
    0.20→0.29 / 0.30→0.40 s and the cold serve read went 4× slower
    (0.10→0.45 s for 8 fresh terms). The exchange is the price of the
    dictionary-like read layout; it stays. (On a 100 TB cluster the
    right shape is more buckets — n_buckets scales with corpus so each
    bucket stays one executor-sized write — not a layout change.)"""
    if os.environ.get("PGTS_BUCKET_SHUFFLE", "1") == "0":
        return dict(
            partition_by="bucket",
            sort_within=["bucket", "term", "run"],
            parquet_block_size=1 << 20,
            no_exchange=True,
        )
    return dict(
        partition_by="bucket",
        sort_within=["term", "run"],
        parquet_block_size=1 << 20,
    )


POSTINGS_WRITE_OPTS = dict(
    partition_by="bucket",
    sort_within=["term", "run"],
    parquet_block_size=1 << 20,
)


class IndexWriter:
    """Writes segments + maintains the manifest (the 'metapage').

    All segment IO goes through a ``SegmentStore`` (index/storage.py)
    — ParquetDirStore here; IcebergSegmentStore on clusters with the
    Iceberg runtime (manifest commit == snapshot commit there).
    """

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

    def write_dictionary(self, spark: SparkSession, seg_id: int) -> None:
        """Materialize the per-segment term dictionary (term, bucket,
        df) from the written postings — the reference's sorted
        dictionary section (format.h:141-154). Query-time df lookup
        reads this tiny table (one row per term) with bucket pruning
        instead of touching posting rows (scan.c:698-818 batch-df
        analog)."""
        seg_dir = os.path.join(self.index_dir, "postings", f"seg={seg_id}")
        out_dir = os.path.join(self.index_dir, "dictionary", f"seg={seg_id}")
        # explicit schema: empty segments have no parquet footers
        p = spark.read.schema(
            "term string, run bigint, df_run bigint, blocks "
            "array<struct<last_doc_id:bigint,doc_count:int,block_max_tf:int,"
            "block_max_norm:int,payload:binary>>, bucket int"
        ).option("basePath", seg_dir).parquet(seg_dir)
        (
            p.groupBy("term", "bucket")
            .agg(F.sum("df_run").cast("long").alias("df"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out_dir)
        )

    def write_segment(
        self,
        postings: DataFrame,
        doclen: DataFrame,
        seg_id: int,
        config: str,
        n_buckets: int,
        k1: float = bm25.DEFAULT_K1,
        b: float = bm25.DEFAULT_B,
        lineage: dict | None = None,
        keymap: DataFrame | None = None,
        metrics: dict | None = None,
    ) -> dict:
        """``metrics``, when given, receives wall seconds per phase
        (postings/doclen/keymap/dictionary/stats) — the build's
        profiling hook (mirrors checkpoint.py's per-batch metrics)."""

        def timed(name):
            t0 = time.time()

            def done():
                if metrics is not None:
                    metrics[name] = round(time.time() - t0, 3)

            return done

        base = self.index_dir
        # the deferred vocab validation (xxhash64 collision check) runs
        # on its own thread CONCURRENT with the postings action — it
        # shares the persisted vocab cache, and its result gates the
        # manifest commit below
        from concurrent.futures import ThreadPoolExecutor as _TPE

        validate = getattr(postings, "_pgts_validate", None)
        val_pool = _TPE(1) if validate is not None else None
        try:
            return self._write_segment_inner(
                postings, doclen, seg_id, config, n_buckets, k1, b,
                lineage, keymap, timed, val_pool, validate,
            )
        finally:
            # always reap the validator thread — a write failure
            # anywhere in the tail used to leak it
            if val_pool is not None:
                val_pool.shutdown(wait=False)

    def _write_segment_inner(
        self, postings, doclen, seg_id, config, n_buckets, k1, b,
        lineage, keymap, timed, val_pool, validate,
    ) -> dict:
        base = self.index_dir
        val_f = val_pool.submit(validate) if val_pool is not None else None
        # the tail tables are independent chains — doclen/stats and
        # keymap read only the persisted doc-level base / ids map, NOT
        # the postings, so their jobs run CONCURRENTLY with the
        # postings action (whose kernel stage leaves core-seconds idle
        # while tasks block on the Python bridge); the dictionary is
        # the one table that reads the written postings and follows
        # them. These small jobs were the worst-scaling part of the
        # build (~4.5 s serial at 8 cores, per-job fixed cost).
        from concurrent.futures import ThreadPoolExecutor

        spark = postings.sparkSession

        def doclen_then_stats():
            d = timed("doclen_sec")
            self.store.write(doclen, "doclen", seg_id)
            d()
            d = timed("stats_sec")
            row = spark.read.schema(
                "doc_id bigint, doc_len bigint, fieldnorm int"
            ).parquet(os.path.join(base, "doclen", f"seg={seg_id}")).agg(
                F.count("*").alias("num_docs"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("total_tokens"),
                F.coalesce(F.max("doc_id"), F.lit(-1)).alias("max_doc_id"),
            ).collect()[0]
            d()
            return row

        def write_keymap():
            if keymap is None:
                return
            # doc_id -> source key (e.g. url): the ctid-map analog
            d = timed("keymap_sec")
            self.store.write(keymap, "keymap", seg_id)
            d()

        def write_dict():
            d = timed("dictionary_sec")
            self.write_dictionary(spark, seg_id)
            d()

        with ThreadPoolExecutor(3) as pool:
            f_stats = pool.submit(doclen_then_stats)
            f_key = pool.submit(write_keymap)
            d = timed("postings_sec")
            with _arrow_batch(
                postings.sparkSession,
                getattr(postings, "_pgts_arrow_batch", None),
            ):
                self.store.write(
                    postings, "postings", seg_id, **_postings_write_opts()
                )
            d()
            f_dict = pool.submit(write_dict)
            stats = f_stats.result()
            f_key.result()
            f_dict.result()  # raise write failures before the commit
        if val_f is not None:
            val_f.result()  # raises (collision) before the commit

        return self.commit_segment(
            seg_id, config, n_buckets, k1, b,
            num_docs=int(stats["num_docs"]),
            total_tokens=int(stats["total_tokens"]),
            max_doc_id=int(stats["max_doc_id"]),
            has_keymap=keymap is not None,
            lineage=lineage,
        )

    def commit_segment(
        self, seg_id: int, config: str, n_buckets: int, k1: float,
        b: float, num_docs: int, total_tokens: int, max_doc_id: int,
        has_keymap: bool, lineage: dict | None = None,
    ) -> dict:
        """Add one freshly written L0 segment to the manifest (atomic
        rename) — the last step of both the distributed and the
        driver-local commit paths, after every segment file exists."""
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


def _hashed_ids_map(
    df: DataFrame, key_col: str, persisted: list | None
) -> tuple[DataFrame, int, DataFrame]:
    """(hkey -> doc_id) join side for the hash-keyed overlapped head
    phase: the ids job keyed by ``xxhash64(key)`` so the tokenized
    base caches an INT key instead of the key string — the round-5
    string-keyed overlap lost precisely because every downstream pass
    re-paid wider cached rows + string hash probes. Runs ON the ids
    worker thread; also verifies hash uniqueness (a collision would
    silently merge two documents' ids) and fails loudly with the
    serial fallback named. Returns (hash-keyed ids, n_keys, raw
    (key, doc_id) map for the keymap writer)."""
    ids, n_keys = _ids_map(df.select(key_col), key_col, "doc_id", persisted)
    hids = ids.select(F.xxhash64(key_col).alias("_pgts_hkey"), "doc_id")
    n_h = hids.agg(F.countDistinct("_pgts_hkey").alias("n")).collect()[0]["n"]
    if n_h != n_keys:
        raise ValueError(
            f"xxhash64 key collision: {n_keys} distinct {key_col} values "
            f"hash to {n_h} distinct keys; rebuild with "
            f"PGTS_HASH_OVERLAP=0 (the serial string-keyed head phase)"
        )
    return hids, n_keys, ids


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
    """One-shot bulk build (reference: tp_build, build.c:1262-1600).

    If ``key_col`` is given (e.g. ``url`` for pages tables), dense
    doc_ids are assigned in key order first AND the doc_id -> key
    mapping is persisted as the segment's ``keymap`` table (the ctid
    map analog, reference: segment.c:1270-1288) so results resolve
    back to source rows; otherwise ``doc_id_col`` must already hold
    unique integer ids (their numeric order is the tie-break order).
    """
    persisted: list = []
    ids_pool = None
    try:
        cfg = get_config(config) if isinstance(config, str) else config
        ids_future = None
        ids_df = None
        overlap = os.environ.get("PGTS_OVERLAP_HEAD", "0") == "1"
        hash_overlap = (
            key_col is not None and cfg.parser != "pg" and not overlap
            and os.environ.get("PGTS_HASH_OVERLAP", "0") == "1"
        )
        if key_col is not None and cfg.parser != "pg" and overlap:
            # STRING-keyed overlapped head phase — the round-5
            # experiment, MEASURED SLOWER than serial (24.2 s vs
            # 20.8 s at 1M pages): the base cache gets keyed by the
            # URL STRING (wider cached rows) and every downstream pass
            # re-pays the string-keyed broadcast probe. Kept behind
            # PGTS_OVERLAP_HEAD=1 as the documented negative result;
            # the hash-keyed variant below is the production path.
            from concurrent.futures import ThreadPoolExecutor

            raw_docs = docs.select(key_col, text_col)
            ids_pool = ThreadPoolExecutor(max_workers=1)
            ids_future = ids_pool.submit(
                _ids_map, raw_docs, key_col, "doc_id", persisted
            )
            postings, doclen = build_segment_dataframes(
                raw_docs, key_col, text_col, cfg, n_buckets,
                codec=codec, persisted=persisted, ids_future=ids_future,
            )
            ids_df = ids_future.result()[0]
            doc_id_col = "doc_id"
        elif hash_overlap:
            # HASH-keyed overlapped head phase (round 6,
            # PGTS_HASH_OVERLAP=1): the key-only doc-id job runs on a
            # worker thread while the main thread tokenizes and
            # materializes the base, keyed by xxhash64(key) (one
            # int64 in the cache; int hash probes) — fixing exactly
            # what made the string-keyed variant above lose. MEASURED
            # A WASH at 1M pages/32c (20.8-21.0 s vs 20.4 s serial,
            # postings byte-identical): the hidden ~1 s ids job is
            # repaid by the doclen/keymap jobs re-running the
            # hash-join probe over the cached base (serial mode bakes
            # doc_id into the cache: doclen_sec 0.5 s vs 2.5-3.3 s
            # here). Kept opt-in as the second documented
            # overlap-experiment result; hash uniqueness is verified
            # on the ids thread (loud failure naming the fallback).
            from concurrent.futures import ThreadPoolExecutor

            raw_docs = docs.select(key_col, text_col)
            hdocs = raw_docs.select(
                F.xxhash64(key_col).alias("_pgts_hkey"), text_col
            )
            ids_pool = ThreadPoolExecutor(max_workers=1)
            ids_future = ids_pool.submit(
                _hashed_ids_map, raw_docs, key_col, persisted
            )
            t0 = time.time()
            postings, doclen = build_segment_dataframes(
                hdocs, "_pgts_hkey", text_col, cfg, n_buckets,
                codec=codec, persisted=persisted, ids_future=ids_future,
            )
            if metrics is not None:
                metrics["plan_sec"] = round(time.time() - t0, 3)
            ids_df = ids_future.result()[2]
            doc_id_col = "doc_id"
        else:
            if key_col is not None:
                t0 = time.time()
                docs = assign_doc_ids(
                    docs.select(key_col, text_col), key_col,
                    persisted=persisted,
                )
                if metrics is not None:
                    metrics["ids_sec"] = round(time.time() - t0, 3)
                doc_id_col = "doc_id"
                ids_df = getattr(docs, "_pgts_ids", None)
            else:
                docs = docs.select(doc_id_col, text_col)
            t0 = time.time()
            postings, doclen = build_segment_dataframes(
                docs, doc_id_col, text_col, cfg, n_buckets,
                codec=codec, persisted=persisted,
            )
            if metrics is not None:
                # words path: dominated by the eager vocab collect
                # (which also materializes the tokenized base cache)
                metrics["plan_sec"] = round(time.time() - t0, 3)
        writer = IndexWriter(index_dir)
        keymap = None
        if key_col is not None:
            # prefer the assign_doc_ids (key, doc_id) map over
            # re-projecting the joined rows: same content, no second
            # pass over the document table
            kd = ids_df if ids_df is not None else docs
            keymap = kd.select(
                F.col(doc_id_col).cast("long").alias("doc_id"),
                F.col(key_col).cast("string").alias("doc_key"),
            )
        return writer.write_segment(
            postings, doclen, seg_id=0, config=config, n_buckets=n_buckets,
            k1=k1, b=b, lineage=lineage, keymap=keymap, metrics=metrics,
        )
    finally:
        if ids_pool is not None:
            ids_pool.shutdown(wait=True)
        for h in persisted:
            h.unpersist()
