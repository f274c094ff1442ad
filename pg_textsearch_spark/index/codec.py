"""Posting-block codec: delta-gap + bit-packing, numpy-vectorized.

Reference semantics (src/segment/compression.c:199-343): within one
posting block (<= 128 docs) doc_ids are delta-encoded — the first
value is the absolute doc_id, subsequent values are gaps — then
bit-packed at width ceil(log2(max_value+1)); term frequencies are
bit-packed the same way (freq width <= 16 enforced,
compression.c:309); fieldnorm bytes are appended raw. A 2-byte header
carries the two bit widths. Maximum compressed block is 898 bytes
(compression.h:21-43) — asserted in tests.

The reference decodes branchlessly with SIMD; our decode is numpy
(unpackbits + dot), which is the Arrow-era equivalent: one vectorized
kernel per block batch, no per-element Python.

Layouts (ours):

- bitpack (default, reference-parity):
  ``[doc_id_bits:u8][freq_bits:u8][n:u8]``
  ``[packed deltas][packed tfs][raw fieldnorms]`` — we add an explicit
  count byte (the reference keeps doc_count in the skip entry; we keep
  it in both so a payload is self-describing).
- flagged codecs: a leading flags byte with the high bit set selects
  the codec (the reference's skip-entry ``flags`` byte anticipates
  exactly this, format.h:241-245): ``0x80`` = bitpack (flagged form),
  ``0x81`` = varint. The varint payload is
  ``[0x81][n:u8][LEB128 deltas][LEB128 tfs][raw fieldnorms]`` —
  little-endian base-128, the same wire integer the reference's
  bm25vector uses (vector.h:160-167) and what the north rule names.
  Legacy payloads (first byte < 0x80 = a bit width) stay decodable.

Decode dispatches on the flags byte, so segments with mixed codecs
coexist in one index.
"""

from __future__ import annotations

import zlib

import numpy as np

BLOCK_SIZE = 128  # TP_BLOCK_SIZE, "matches Tantivy" (reference: format.h:208)
MAX_COMPRESSED_BLOCK = 898  # reference: compression.h:32

FLAG_BITPACK = 0x80
FLAG_VARINT = 0x81
CODECS = ("bitpack", "varint")


def _width(max_val: int) -> int:
    """ceil(log2(max_val+1)), minimum 1 bit."""
    return max(1, int(max_val).bit_length())


def _pack_bits(values: np.ndarray, width: int) -> bytes:
    """Bit-pack uint64 values at ``width`` bits each, little-endian bit order."""
    v = values.astype(np.uint64, copy=False)
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _unpack_bits(buf: memoryview, n: int, width: int) -> np.ndarray:
    """Inverse of _pack_bits: n values of ``width`` bits -> uint64 array."""
    nbytes = (n * width + 7) // 8
    raw = np.frombuffer(buf[:nbytes], dtype=np.uint8)
    bits = np.unpackbits(raw, bitorder="little")[: n * width].reshape(n, width)
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return bits.astype(np.uint64) @ weights


def _compress_small(doc_ids, tfs, fieldnorms) -> bytes:
    """Python-int packing for small blocks: tail terms produce millions
    of 1-5 posting groups and the numpy matrix path costs ~15 array-op
    overheads per call; arbitrary-precision int shifting is 3-4x faster
    below ~32 postings and byte-identical."""
    n = len(doc_ids)
    deltas = [int(doc_ids[0])] + [
        int(doc_ids[i]) - int(doc_ids[i - 1]) for i in range(1, n)
    ]
    id_bits = _width(max(deltas))
    tf_bits = _width(int(max(tfs)))
    assert tf_bits <= 16
    acc = 0
    for i, v in enumerate(deltas):
        acc |= v << (i * id_bits)
    b1 = acc.to_bytes((n * id_bits + 7) // 8, "little")
    acc = 0
    for i, v in enumerate(tfs):
        acc |= int(v) << (i * tf_bits)
    b2 = acc.to_bytes((n * tf_bits + 7) // 8, "little")
    return bytes([id_bits, tf_bits, n - 1]) + b1 + b2 + bytes(
        int(x) for x in fieldnorms
    )


def _varint_encode(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def _varint_decode(buf: memoryview, off: int, n: int):
    vals = np.empty(n, dtype=np.uint64)
    for i in range(n):
        shift = 0
        acc = 0
        while True:
            b = buf[off]
            off += 1
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        vals[i] = acc
    return vals, off


def _compress_varint(doc_ids, tfs, fieldnorms) -> bytes:
    n = len(doc_ids)
    deltas = [int(doc_ids[0])] + [
        int(doc_ids[i]) - int(doc_ids[i - 1]) for i in range(1, n)
    ]
    assert int(max(tfs)) < (1 << 16)
    return (
        bytes([FLAG_VARINT, n - 1])
        + _varint_encode(deltas)
        + _varint_encode(tfs)
        + bytes(int(x) for x in fieldnorms)
    )


def compress_block(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    fieldnorms: np.ndarray,
    codec: str = "bitpack",
) -> bytes:
    """Compress one posting block (strictly increasing doc_ids)."""
    n = len(doc_ids)
    assert 0 < n <= BLOCK_SIZE, n
    if codec == "varint":
        return _compress_varint(doc_ids, tfs, fieldnorms)
    assert codec == "bitpack", codec
    if n <= 32:
        return _compress_small(doc_ids, tfs, fieldnorms)
    ids = np.asarray(doc_ids, dtype=np.uint64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = ids[0]  # first delta = absolute doc_id
    deltas[1:] = ids[1:] - ids[:-1]
    tf = np.asarray(tfs, dtype=np.uint64)
    id_bits = _width(int(deltas.max()))
    tf_bits = _width(int(tf.max()))
    assert tf_bits <= 16, "tf exceeds uint16 (reference: compression.c:309)"
    header = bytes([id_bits, tf_bits, n - 1])  # n-1 so 128 fits a byte
    return (
        header
        + _pack_bits(deltas, id_bits)
        + _pack_bits(tf, tf_bits)
        + np.asarray(fieldnorms, dtype=np.uint8).tobytes()
    )


def decompress_block(payload: bytes):
    """-> (doc_ids uint64, tfs uint32, fieldnorms uint8).

    Dispatches on the flags byte; payloads without one (first byte is
    a bit width < 0x80) are legacy bitpack."""
    buf = memoryview(payload)
    if buf[0] & 0x80:
        flags = buf[0]
        if flags == FLAG_VARINT:
            n = buf[1] + 1
            deltas, off = _varint_decode(buf, 2, n)
            tfs, off = _varint_decode(buf, off, n)
            fieldnorms = np.frombuffer(buf[off : off + n], dtype=np.uint8).copy()
            return np.cumsum(deltas, dtype=np.uint64), tfs.astype(np.uint32), fieldnorms
        if flags == FLAG_BITPACK:
            buf = buf[1:]  # flagged form of the default layout
        else:
            raise ValueError(f"unknown posting codec flags byte 0x{flags:02x}")
    id_bits, tf_bits, n_minus_1 = buf[0], buf[1], buf[2]
    n = n_minus_1 + 1
    off = 3
    id_nbytes = (n * id_bits + 7) // 8
    deltas = _unpack_bits(buf[off:], n, id_bits)
    off += id_nbytes
    tf_nbytes = (n * tf_bits + 7) // 8
    tfs = _unpack_bits(buf[off:], n, tf_bits).astype(np.uint32)
    off += tf_nbytes
    fieldnorms = np.frombuffer(buf[off : off + n], dtype=np.uint8).copy()
    doc_ids = np.cumsum(deltas, dtype=np.uint64)
    return doc_ids, tfs, fieldnorms


def _payload_buffers(payloads) -> tuple[np.ndarray, np.ndarray]:
    """(data uint8, offsets int64 of len n+1) over a pyarrow binary /
    large_binary array or a sequence of bytes-like payloads —
    zero-copy for arrow input."""
    import pyarrow as pa

    if isinstance(payloads, pa.Array):
        n = len(payloads)
        _valid, off_buf, data_buf = payloads.buffers()
        large = pa.types.is_large_binary(payloads.type)
        off_t = np.int64 if large else np.int32
        offs = np.frombuffer(off_buf, dtype=off_t)[
            payloads.offset: payloads.offset + n + 1
        ].astype(np.int64)
        data = (
            np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None else np.zeros(0, dtype=np.uint8)
        )
        return data, offs
    lens = np.fromiter((len(p) for p in payloads), dtype=np.int64)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    return data, offs


def decompress_blocks(payloads):
    """Batch ``decompress_block``: many payloads in one call.

    -> (doc_ids int64, tfs uint32, fieldnorms uint8, counts int64):
    the payloads' postings concatenated in input order, ``counts[i]``
    postings from payload i. The inverse of the build kernel's
    ``_pack_groups`` + payload assembly: bitpack payloads (legacy and
    0x80-flagged) with widths <= 57 decode in one native loop with no
    per-block Python; varint, unknown-flag and wider payloads — and
    every payload on a host without the native library — go through
    ``decompress_block`` (which raises on unknown flags exactly as
    before).
    """
    from pg_textsearch_spark import native

    data, offs = _payload_buffers(payloads)
    n = len(offs) - 1
    if n <= 0:
        return (
            np.zeros(0, np.int64), np.zeros(0, np.uint32),
            np.zeros(0, np.uint8), np.zeros(0, np.int64),
        )
    scan = native.scan_blocks_native(data, offs)
    if scan is None:  # no native library: every payload decodes below
        hdr, counts, fast, n_slow = None, np.zeros(n, np.int64), None, n
    else:
        hdr, counts, fast, n_slow = scan
    slow_idx = np.flatnonzero(~fast) if 0 < n_slow < n else range(n_slow)
    slow = [
        decompress_block(data[offs[i]: offs[i + 1]].tobytes())
        for i in slow_idx
    ]
    for i, part in zip(slow_idx, slow):
        counts[i] = len(part[0])
    out_pos = np.concatenate(([0], np.cumsum(counts)))
    total = int(out_pos[-1])
    out_pos = out_pos[:-1]
    ids = np.empty(total, dtype=np.int64)
    tfs = np.empty(total, dtype=np.uint32)
    fns = np.empty(total, dtype=np.uint8)
    if n_slow < n:
        fi = fast if n_slow else slice(None)
        native.decode_blocks_native(data, hdr[fi], out_pos[fi], ids, tfs, fns)
    for i, (pi, pt, pf) in zip(slow_idx, slow):
        o = out_pos[i]
        ids[o: o + len(pi)] = pi.astype(np.int64)
        tfs[o: o + len(pi)] = pt
        fns[o: o + len(pi)] = pf
    return ids, tfs, fns, counts


def term_bucket(term: str, n_buckets: int) -> int:
    """Bucket of a term (crc32 % n_buckets) — lives here (pyspark-free)
    so Spark-free serving workers can import it without pyspark; it
    names the ``bucket=`` directory every segment writer writes a
    term's rows into."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets
