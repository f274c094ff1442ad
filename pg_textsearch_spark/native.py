"""Capability-probed native codec helpers (optional fast path).

The posting-build kernel's two innermost loops — variable-width
bit-packing and per-block payload assembly — are pure byte
manipulation over numpy arrays. The vectorized numpy forms work
everywhere but pay this sandbox's dominant tax: every large numpy
intermediate is a fresh allocation, and fresh-page writes measure
~0.8 GB/s here (reads ~10 GB/s), so a handful of 200 MB index
arrays costs seconds per partition. A 40-line C loop does the same
work in one linear pass with zero intermediates.

This module compiles that loop ONCE per host at first use (gcc is
probed, the .so is cached under an sha256-of-source name, creation
is O_EXCL + rename so concurrent Spark workers race safely) and
exposes it via ctypes. Everything degrades to the numpy path when a
compiler is unavailable: ``pack_groups_native`` returns ``None`` and
the caller keeps its vectorized implementation. Byte-identity between
the two paths is pinned IN ONE PROCESS by
tests/test_codec.py::test_native_vs_numpy_kernel_byte_identical
(native run vs every entry point monkeypatched off; skipped where no
compiler exists). ``PGTS_NO_NATIVE=1`` additionally forces the numpy
path process-wide for manual A/B.

This mirrors how production PySpark pipelines ship native codecs
(Arrow itself, zstd wheels): Python orchestrates the DataFrame plan,
the per-batch hot loop is compiled code. The on-wire and on-disk
formats are unchanged — reference parity (pg_textsearch
src/storage/segment.c posting serialization) is carried by the codec
tests, not by this module.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <string.h>

/* Bit-pack many variable-width groups, little-endian bit order —
   byte-identical to codec._pack_bits per group, each group's stream
   byte-aligned at byte_offs[g]. Requires widths[g] <= 57 (accumulator
   holds at most 7 carry bits + one value). */
void pgts_pack_groups(const int64_t *vals, const int64_t *starts,
                      const int64_t *cnt, const int64_t *widths,
                      const int64_t *byte_offs, int64_t n_groups,
                      uint8_t *out) {
    for (int64_t g = 0; g < n_groups; g++) {
        const int64_t w = widths[g];
        const uint64_t *v = (const uint64_t *)vals + starts[g];
        uint8_t *dst = out + byte_offs[g];
        uint64_t acc = 0;
        int nbits = 0;
        const int64_t m = cnt[g];
        for (int64_t i = 0; i < m; i++) {
            acc |= v[i] << nbits;
            nbits += (int)w;
            while (nbits >= 8) {
                *dst++ = (uint8_t)acc;
                acc >>= 8;
                nbits -= 8;
            }
        }
        if (nbits > 0)
            *dst = (uint8_t)acc;
    }
}

/* Assemble per-block payloads: 3-byte header (id_bits, tf_bits,
   doc_count-1) + id stream + tf stream + fieldnorm bytes, written
   back-to-back at pay_off[b]. One memcpy-speed pass replaces three
   repeat/cumsum gather-scatters over index arrays as large as the
   payload itself. */
void pgts_assemble_payloads(int64_t n_blocks,
                            const int64_t *id_bits, const int64_t *tf_bits,
                            const int64_t *blk_cnt,
                            const uint8_t *id_pack, const int64_t *id_off,
                            const int64_t *id_len,
                            const uint8_t *tf_pack, const int64_t *tf_off,
                            const int64_t *tf_len,
                            const uint8_t *fn_arr, const int64_t *fn_start,
                            const int64_t *pay_off, uint8_t *buf) {
    for (int64_t b = 0; b < n_blocks; b++) {
        uint8_t *dst = buf + pay_off[b];
        *dst++ = (uint8_t)id_bits[b];
        *dst++ = (uint8_t)tf_bits[b];
        *dst++ = (uint8_t)(blk_cnt[b] - 1);
        memcpy(dst, id_pack + id_off[b], (size_t)id_len[b]);
        dst += id_len[b];
        memcpy(dst, tf_pack + tf_off[b], (size_t)tf_len[b]);
        dst += tf_len[b];
        memcpy(dst, fn_arr + fn_start[b], (size_t)blk_cnt[b]);
    }
}

/* LSD radix co-sort of (tid, dfn[, tf]) rows by (tid ASC, dfn ASC):
   16-bit digits, ping-pong between the primary arrays and scratch.
   Passes over constant digits are skipped (dfn's high bytes are
   ~always constant: doc ids are dense). Sorts IN PLACE (result lands
   back in tids/dfns/tfs; scratch is caller-provided so a long-lived
   worker reuses warm pages instead of paying this host's fresh-page
   write tax). tfs/tfs_s may be NULL. */
static void radix_pass(const uint64_t *key, int shift,
                       const int64_t *a, const int64_t *b, const int64_t *c,
                       int64_t *oa, int64_t *ob, int64_t *oc,
                       const uint64_t *ka, uint64_t *kout_unused,
                       int64_t n) {
    (void)ka; (void)kout_unused;
    int64_t count[65536] = {0};
    for (int64_t i = 0; i < n; i++)
        count[(key[i] >> shift) & 0xFFFF]++;
    int64_t pos = 0;
    for (int j = 0; j < 65536; j++) {
        int64_t t = count[j];
        count[j] = pos;
        pos += t;
    }
    if (c) {
        for (int64_t i = 0; i < n; i++) {
            int64_t p = count[(key[i] >> shift) & 0xFFFF]++;
            oa[p] = a[i];
            ob[p] = b[i];
            oc[p] = c[i];
        }
    } else {
        for (int64_t i = 0; i < n; i++) {
            int64_t p = count[(key[i] >> shift) & 0xFFFF]++;
            oa[p] = a[i];
            ob[p] = b[i];
        }
    }
}

void pgts_radix_sort(int64_t *tids, int64_t *dfns, int64_t *tfs,
                     int64_t *tids_s, int64_t *dfns_s, int64_t *tfs_s,
                     int64_t n) {
    /* digit plan: dfn digits low->high, then tid digits low->high
       (LSD over the composite key (tid, dfn)); constant digits skip */
    if (n <= 0)
        return;
    int64_t *src[3] = {tids, dfns, tfs};
    int64_t *dst[3] = {tids_s, dfns_s, tfs_s};
    for (int half = 0; half < 2; half++) {
        const int keyidx = half == 0 ? 1 : 0; /* dfn first, then tid */
        for (int shift = 0; shift < 64; shift += 16) {
            const uint64_t *key = (const uint64_t *)src[keyidx];
            uint64_t first = (key[0] >> shift) & 0xFFFF;
            int64_t i;
            for (i = 1; i < n; i++)
                if (((key[i] >> shift) & 0xFFFF) != first)
                    break;
            if (i == n)
                continue; /* constant digit: nothing to do */
            radix_pass((const uint64_t *)src[keyidx], shift,
                       src[0], src[1], src[2],
                       dst[0], dst[1], dst[2], NULL, NULL, n);
            int64_t *t0 = src[0], *t1 = src[1], *t2 = src[2];
            src[0] = dst[0]; src[1] = dst[1]; src[2] = dst[2];
            dst[0] = t0; dst[1] = t1; dst[2] = t2;
        }
    }
    /* result must land in the primary arrays */
    if (src[0] != tids) {
        memcpy(tids, src[0], (size_t)n * 8);
        memcpy(dfns, src[1], (size_t)n * 8);
        if (tfs)
            memcpy(tfs, src[2], (size_t)n * 8);
    }
}

/* Unpack m values of w bits (1 <= w <= 57, little-endian bit order)
   from src — the inverse of one pgts_pack_groups group. The
   accumulator holds < w carry bits before each byte load, so it never
   exceeds 64 bits. */
static void unpack_stream(const uint8_t *src, int64_t m, int w,
                          uint64_t *out) {
    const uint64_t mask = (1ULL << w) - 1;
    uint64_t acc = 0;
    int nbits = 0;
    for (int64_t i = 0; i < m; i++) {
        while (nbits < w) {
            acc |= (uint64_t)(*src++) << nbits;
            nbits += 8;
        }
        out[i] = acc & mask;
        acc >>= w;
        nbits -= w;
    }
}

/* Batch-decode bitpack posting payloads — the inverse of
   pgts_pack_groups + pgts_assemble_payloads. hdr[b] is the offset of
   block b's 3-byte header (id_bits, tf_bits, doc_count-1) in data;
   its postings land at out_pos[b] in ids/tfs/fns, doc ids restored
   from the delta stream (first delta absolute). The caller routes
   varint, unknown-flag and >57-bit payloads elsewhere. */
void pgts_decode_blocks(const uint8_t *data, const int64_t *hdr,
                        const int64_t *out_pos, int64_t n_blocks,
                        int64_t *ids, uint32_t *tfs, uint8_t *fns) {
    uint64_t tmp[256];
    for (int64_t b = 0; b < n_blocks; b++) {
        const uint8_t *p = data + hdr[b];
        const int idb = p[0], tfb = p[1];
        const int64_t m = (int64_t)p[2] + 1;
        const int64_t o = out_pos[b];
        p += 3;
        unpack_stream(p, m, idb, tmp);
        uint64_t doc = 0;
        for (int64_t i = 0; i < m; i++) {
            doc += tmp[i];
            ids[o + i] = (int64_t)doc;
        }
        p += (m * idb + 7) / 8;
        unpack_stream(p, m, tfb, tmp);
        for (int64_t i = 0; i < m; i++)
            tfs[o + i] = (uint32_t)tmp[i];
        p += (m * tfb + 7) / 8;
        memcpy(fns + o, p, (size_t)m);
    }
}

"""

_LIB = None
_PROBED = False

#: set after probe: human-readable reason the native path is off
BLOCKER: str | None = None


def _i64p(a: np.ndarray):
    assert a.dtype == np.int64 and a.flags.c_contiguous
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _u8p(a: np.ndarray):
    assert a.dtype == np.uint8 and a.flags.c_contiguous
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8))


def _build_lib():
    """Compile (once per host) and load the helper .so.

    Cache path is keyed by the source hash, so code changes get a new
    artifact and stale caches are never loaded. The write is
    tmp-then-rename (atomic on one filesystem): concurrent workers
    either see the finished .so or build their own tmp and lose the
    rename race harmlessly.
    """
    tag = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    # per-user 0700 cache dir, ownership-verified before every dlopen:
    # a world-writable shared temp dir with a predictable name would
    # let another local user plant a library that loads into every
    # worker (the source hash is public, so the name is guessable)
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"pgts_native_u{os.getuid()}"
    )
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    st = os.stat(cache_dir)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise RuntimeError(
            f"native cache dir {cache_dir} is not owned-and-private "
            f"(uid {st.st_uid}, mode {oct(st.st_mode & 0o777)}) — "
            f"refusing to load code from it"
        )
    cache = os.path.join(cache_dir, f"pgts_native_{tag}.so")
    if not os.path.exists(cache):
        with tempfile.TemporaryDirectory() as td:
            src = os.path.join(td, "pgts_native.c")
            out = os.path.join(td, "pgts_native.so")
            with open(src, "w") as f:
                f.write(_C_SRC)
            subprocess.run(
                ["gcc", "-O3", "-shared", "-fPIC", "-o", out, src],
                check=True, capture_output=True, timeout=120,
            )
            tmp = cache + f".{os.getpid()}"
            import shutil

            shutil.copy(out, tmp)  # tmp sits beside cache: same fs
            os.replace(tmp, cache)  # atomic vs concurrent workers
    lib = ctypes.CDLL(cache)
    lib.pgts_pack_groups.restype = None
    lib.pgts_assemble_payloads.restype = None
    lib.pgts_radix_sort.restype = None
    lib.pgts_decode_blocks.restype = None
    i64p = ctypes.POINTER(ctypes.c_int64)
    u8p = ctypes.POINTER(ctypes.c_uint8)
    lib.pgts_decode_blocks.argtypes = [
        u8p, i64p, i64p, ctypes.c_int64, i64p,
        ctypes.POINTER(ctypes.c_uint32), u8p,
    ]
    return lib


def get_lib():
    """The loaded helper library, or None (with BLOCKER set)."""
    global _LIB, _PROBED, BLOCKER
    if _PROBED:
        return _LIB
    _PROBED = True
    if os.environ.get("PGTS_NO_NATIVE"):
        BLOCKER = "disabled via PGTS_NO_NATIVE"
        return None
    try:
        _LIB = _build_lib()
    except Exception as exc:  # no gcc / sandboxed tmp / load failure
        BLOCKER = f"native codec helpers unavailable: {exc!r}"
        _LIB = None
    return _LIB


def pack_groups_native(
    vals: np.ndarray, starts, cnt, widths, byte_offs, total_bytes: int
):
    """Native ``_pack_groups`` core; returns the packed buffer or None.

    ``byte_offs``: per-group byte offsets (len n_groups); the caller
    computed them (it needs them for its return value anyway).
    """
    lib = get_lib()
    if lib is None or (len(widths) and int(widths.max()) > 57):
        return None
    out = np.zeros(total_bytes, dtype=np.uint8)
    lib.pgts_pack_groups(
        _i64p(np.ascontiguousarray(vals, dtype=np.int64)),
        _i64p(np.ascontiguousarray(starts, dtype=np.int64)),
        _i64p(np.ascontiguousarray(cnt, dtype=np.int64)),
        _i64p(np.ascontiguousarray(widths, dtype=np.int64)),
        _i64p(np.ascontiguousarray(byte_offs, dtype=np.int64)),
        ctypes.c_int64(len(cnt)),
        _u8p(out),
    )
    return out


#: per-process scratch pool for the radix sort's ping-pong buffers —
#: a reused Spark python worker pays the page-fault cost once
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, n: int) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or len(buf) < n:
        buf = np.empty(max(n, 1 << 20), dtype=np.int64)
        _SCRATCH[name] = buf
    return buf[:n]


def radix_sort_native(tids: np.ndarray, dfns: np.ndarray,
                      tfs: np.ndarray | None) -> bool:
    """In-place co-sort of the posting stream by (term_id, doc) —
    the group order is UNSIGNED on term_id (grouping-only semantics;
    doc order within a group is ascending, which is what the block
    kernel requires). Returns False when the native path is off.
    """
    lib = get_lib()
    if lib is None:
        return False
    n = len(tids)
    if n == 0:
        return True
    null = ctypes.POINTER(ctypes.c_int64)()
    lib.pgts_radix_sort(
        _i64p(tids), _i64p(dfns),
        _i64p(tfs) if tfs is not None else null,
        _i64p(_scratch("rs_tid", n)), _i64p(_scratch("rs_dfn", n)),
        _i64p(_scratch("rs_tf", n)) if tfs is not None else null,
        ctypes.c_int64(n),
    )
    return True


def assemble_payloads_native(
    id_bits, tf_bits, blk_cnt,
    id_pack: np.ndarray, id_off, id_len,
    tf_pack: np.ndarray, tf_off, tf_len,
    fn_arr: np.ndarray, fn_start,
    pay_off, total_bytes: int,
):
    """Native payload assembly; returns the buffer or None."""
    lib = get_lib()
    if lib is None:
        return None
    buf = np.empty(total_bytes, dtype=np.uint8)
    lib.pgts_assemble_payloads(
        ctypes.c_int64(len(blk_cnt)),
        _i64p(np.ascontiguousarray(id_bits, dtype=np.int64)),
        _i64p(np.ascontiguousarray(tf_bits, dtype=np.int64)),
        _i64p(np.ascontiguousarray(blk_cnt, dtype=np.int64)),
        _u8p(np.ascontiguousarray(id_pack, dtype=np.uint8)),
        _i64p(np.ascontiguousarray(id_off, dtype=np.int64)),
        _i64p(np.ascontiguousarray(id_len, dtype=np.int64)),
        _u8p(np.ascontiguousarray(tf_pack, dtype=np.uint8)),
        _i64p(np.ascontiguousarray(tf_off, dtype=np.int64)),
        _i64p(np.ascontiguousarray(tf_len, dtype=np.int64)),
        _u8p(np.ascontiguousarray(fn_arr, dtype=np.uint8)),
        _i64p(np.ascontiguousarray(fn_start, dtype=np.int64)),
        _i64p(np.ascontiguousarray(pay_off, dtype=np.int64)),
        _u8p(buf),
    )
    return buf


def decode_blocks_native(
    data: np.ndarray, hdr: np.ndarray, out_pos: np.ndarray,
    ids: np.ndarray, tfs: np.ndarray, fns: np.ndarray,
) -> bool:
    """Native batch decode of bitpack payloads into the caller's
    (ids int64, tfs uint32, fns uint8) arrays at ``out_pos`` (see
    ``codec.decompress_blocks``). Returns False when the native path is
    off."""
    lib = get_lib()
    if lib is None:
        return False
    if not (
        tfs.dtype == np.uint32 and tfs.flags.c_contiguous
        and len(ids) == len(tfs) == len(fns) and len(hdr) == len(out_pos)
    ):
        raise ValueError("decode_blocks_native: mismatched output arrays")
    lib.pgts_decode_blocks(
        _u8p(np.ascontiguousarray(data, dtype=np.uint8)),
        _i64p(np.ascontiguousarray(hdr, dtype=np.int64)),
        _i64p(np.ascontiguousarray(out_pos, dtype=np.int64)),
        ctypes.c_int64(len(hdr)),
        _i64p(ids),
        tfs.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        _u8p(fns),
    )
    return True
