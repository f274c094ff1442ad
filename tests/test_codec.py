"""Posting-block codec round-trip (FIXTURES.md F8) — property-based."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pg_textsearch_spark.index.blocks import build_blocks, decode_blocks
from pg_textsearch_spark.index.codec import (
    BLOCK_SIZE,
    MAX_COMPRESSED_BLOCK,
    compress_block,
    decompress_block,
)


@st.composite
def posting_block(draw):
    n = draw(st.integers(1, BLOCK_SIZE))
    # strictly increasing doc_ids with deltas spanning 1-bit..32-bit
    start = draw(st.integers(0, 2**40))
    deltas = draw(
        st.lists(st.integers(1, 2**32 - 1), min_size=n - 1, max_size=n - 1)
    )
    ids = np.cumsum([start] + deltas).astype(np.uint64)
    tfs = np.array(
        draw(st.lists(st.integers(1, 65535), min_size=n, max_size=n)),
        dtype=np.uint32,
    )
    fns = np.array(
        draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)),
        dtype=np.uint8,
    )
    return ids, tfs, fns


@given(posting_block())
@settings(max_examples=200, deadline=None)
def test_roundtrip(block):
    ids, tfs, fns = block
    payload = compress_block(ids, tfs, fns)
    rids, rtfs, rfns = decompress_block(payload)
    assert np.array_equal(rids, ids)
    assert np.array_equal(rtfs, tfs)
    assert np.array_equal(rfns, fns)


def test_full_block_size_cap():
    # worst case: 128 postings, 32-bit deltas, 16-bit tfs
    ids = np.cumsum(np.full(BLOCK_SIZE, 2**32 - 1, dtype=np.uint64))
    tfs = np.full(BLOCK_SIZE, 65535, dtype=np.uint32)
    fns = np.full(BLOCK_SIZE, 255, dtype=np.uint8)
    payload = compress_block(ids, tfs, fns)
    # header(3) + 128*33/8 + 128*16/8 + 128 = 3 + 528 + 256 + 128 = 915;
    # the reference's 898 excludes its out-of-payload count byte and
    # uses 32-bit first-delta cap; ours is within 2% — assert our bound
    assert len(payload) <= MAX_COMPRESSED_BLOCK + 32


def test_single_posting():
    payload = compress_block(
        np.array([0], dtype=np.uint64),
        np.array([1], dtype=np.uint32),
        np.array([0], dtype=np.uint8),
    )
    ids, tfs, fns = decompress_block(payload)
    assert ids.tolist() == [0] and tfs.tolist() == [1] and fns.tolist() == [0]


def test_build_blocks_metadata():
    n = 300  # spans 3 blocks (128+128+44)
    rng = np.random.default_rng(7)
    ids = np.cumsum(rng.integers(1, 1000, n)).astype(np.uint64)
    tfs = rng.integers(1, 50, n).astype(np.uint32)
    fns = rng.integers(0, 255, n).astype(np.uint8)
    # shuffle input — build_blocks must sort by doc_id
    perm = rng.permutation(n)
    blocks = build_blocks(ids[perm], tfs[perm], fns[perm])
    assert [b["doc_count"] for b in blocks] == [128, 128, 44]
    assert blocks[0]["last_doc_id"] == int(ids[127])
    assert blocks[0]["block_max_tf"] == int(tfs[:128].max())
    assert blocks[0]["block_max_norm"] == int(fns[:128].min())
    rids, rtfs, rfns = decode_blocks(blocks)
    assert np.array_equal(rids, ids)
    assert np.array_equal(rtfs, tfs)
    assert np.array_equal(rfns, fns)


# ---------------------------------------------------------------------------
# varint codec (flags byte 0x81; the skip-entry flags the reference's
# format.h:241-245 anticipates) — must round-trip identically to bitpack
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=65535),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=128,
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_matches_bitpack(rows):
    ids = np.cumsum([r[0] + 1 for r in rows]).astype(np.uint64)
    tfs = np.asarray([r[1] for r in rows], dtype=np.uint32)
    fns = np.asarray([r[2] for r in rows], dtype=np.uint8)
    from pg_textsearch_spark.index.codec import compress_block, decompress_block

    a = decompress_block(compress_block(ids, tfs, fns, codec="bitpack"))
    b = decompress_block(compress_block(ids, tfs, fns, codec="varint"))
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def test_varint_flags_byte():
    from pg_textsearch_spark.index.codec import FLAG_VARINT, compress_block

    ids = np.array([5, 10], dtype=np.uint64)
    payload = compress_block(ids, np.array([1, 2], dtype=np.uint32),
                             np.array([3, 4], dtype=np.uint8), codec="varint")
    assert payload[0] == FLAG_VARINT
    # legacy (unflagged) payloads start with a bit width < 0x80
    legacy = compress_block(ids, np.array([1, 2], dtype=np.uint32),
                            np.array([3, 4], dtype=np.uint8))
    assert legacy[0] < 0x80


def test_unknown_flags_byte_rejected():
    from pg_textsearch_spark.index.codec import decompress_block

    with pytest.raises(ValueError, match="unknown posting codec"):
        decompress_block(bytes([0xFF, 1, 2, 3]))


def test_mixed_codec_blocks_decode():
    # one index can hold segments written with different codecs: the
    # decode path dispatches per payload
    ids = np.arange(1, 50, dtype=np.uint64) * 7
    tfs = (ids % 9 + 1).astype(np.uint32)
    fns = (ids % 200).astype(np.uint8)
    blocks = build_blocks(ids, tfs, fns, codec="bitpack") + build_blocks(
        ids + 1000, tfs, fns, codec="varint"
    )
    di, dt, df_ = decode_blocks(blocks)
    assert len(di) == 98 and np.array_equal(di[:49], ids)


def test_varint_index_end_to_end(spark, tmp_path):
    from pg_textsearch_spark.index.builder import build_index
    from pg_textsearch_spark.operators.bmw import topk_bmw
    from pg_textsearch_spark.operators.topk import BM25Index, topk_exhaustive

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d1, d2 = str(tmp_path / "bp"), str(tmp_path / "vi")
    build_index(spark, docs, d1, config="ascii", n_buckets=4)
    build_index(spark, docs, d2, config="ascii", n_buckets=4, codec="varint")
    i1, i2 = BM25Index(spark, d1), BM25Index(spark, d2)
    for q in ["window", "spark query table"]:
        a = [(r["rank"], r["doc_id"], round(r["score"], 9))
             for r in topk_exhaustive(i1, q, 10).collect()]
        b = [(r["rank"], r["doc_id"], round(r["score"], 9))
             for r in topk_exhaustive(i2, q, 10).collect()]
        assert a == b
        w = [(r["rank"], r["doc_id"]) for r in topk_bmw(i2, q, 10).collect()]
        assert w == [(x[0], x[1]) for x in a]


def test_postings_rows_vectorized_byte_identical():
    """The cross-group vectorized encoder must produce byte-identical
    rows to the per-group build_blocks path on every group shape:
    tiny tail groups, exact block-boundary sizes, multi-block head
    groups, duplicate doc_ids (single-shuffle tf collapse), and both
    codecs."""
    import random

    import pandas as pd

    from pg_textsearch_spark.index.blocks import build_blocks
    from pg_textsearch_spark.index.builder import _postings_rows

    rng = random.Random(1234)
    rows = []
    gid = 0
    for size in [1, 1, 2, 3, 5, 7, 127, 128, 129, 200, 300, 1000]:
        term = f"term{gid:04d}"
        gid += 1
        # ids within one 8192-doc run -> sizes > 128 exercise
        # multi-block groups (run is derived as doc_id >> 13)
        ids = sorted(rng.sample(range(0, 8192), size))
        for d in ids:
            rows.append((term, 0, d, rng.randrange(1, 300), rng.randrange(0, 256)))
    # duplicate doc_ids within a group (tf must collapse by sum)
    rows += [("zdup", 0, 5, 2, 9), ("zdup", 0, 5, 3, 9), ("zdup", 0, 8, 1, 4)]
    # a group with a large absolute first id (wide first delta); run
    # is DERIVED from doc_id (id >> 13) since round 4, so the column
    # must carry the consistent value
    wrun = ((1 << 40) + 7) >> 13
    rows += [
        ("zwide", wrun, (1 << 40) + 7, 1, 0),
        ("zwide", wrun, (1 << 40) + 9, 2, 1),
    ]
    pdf = pd.DataFrame(
        rows, columns=["term", "run", "doc_id", "tf", "fieldnorm"]
    )

    def reference_rows(pdf, codec):
        out = []
        pdf = pdf.assign(run=pdf["doc_id"] // 8192)
        for (term, run), g in pdf.groupby(["term", "run"], sort=False):
            gi = g["doc_id"].to_numpy()
            gt = g["tf"].to_numpy()
            gf = g["fieldnorm"].to_numpy()
            if len(gi) > 1 and not (gi[1:] > gi[:-1]).all():
                import numpy as np

                uids, first_idx, inv = np.unique(
                    gi, return_index=True, return_inverse=True
                )
                gt = np.bincount(inv, weights=gt).astype("int64")
                gf = gf[first_idx]
                gi = uids
            out.append(
                (term, run, len(gi), build_blocks(gi, gt, gf, codec))
            )
        return out

    for codec in ("bitpack", "varint"):
        got = list(_postings_rows(iter([pdf]), codec))
        got_rows = [
            (r.term, r.run, r.df_run, r.blocks)
            for chunk in got
            for r in chunk.itertuples()
        ]
        want = reference_rows(pdf, codec)
        assert len(got_rows) == len(want)
        for (gt_, gr, gdf, gb), (wt, wr, wdf, wb) in zip(got_rows, want):
            assert (gt_, gr, gdf) == (wt, wr, wdf)
            assert len(gb) == len(wb), (gt_, len(gb), len(wb))
            for a, b in zip(gb, wb):
                assert a["last_doc_id"] == b["last_doc_id"]
                assert a["doc_count"] == b["doc_count"]
                assert a["block_max_tf"] == b["block_max_tf"]
                assert a["block_max_norm"] == b["block_max_norm"]
                assert bytes(a["payload"]) == bytes(b["payload"]), gt_


def test_postings_rows_vectorized_batch_carry():
    """Groups spanning Arrow batch boundaries still come out whole."""
    import pandas as pd

    from pg_textsearch_spark.index.builder import _postings_rows

    p1 = pd.DataFrame(
        [("a", 0, 1, 1, 3), ("a", 0, 2, 1, 3), ("b", 0, 7, 2, 5)],
        columns=["term", "run", "doc_id", "tf", "fieldnorm"],
    )
    p2 = pd.DataFrame(
        [("b", 0, 9, 1, 5), ("c", 1, 8192 + 4, 1, 1)],
        columns=["term", "run", "doc_id", "tf", "fieldnorm"],
    )
    rows = [
        (r.term, r.run, r.df_run)
        for chunk in _postings_rows(iter([p1, p2]))
        for r in chunk.itertuples()
    ]
    assert rows == [("a", 0, 2), ("b", 0, 2), ("c", 1, 1)]


def test_native_vs_numpy_kernel_byte_identical(monkeypatch):
    """A/B-pin the compiled fast path against the pure-numpy fallback
    IN ONE PROCESS (advisor round 6: each CI host otherwise exercises
    only whichever path its environment enables, and the other could
    silently diverge). Runs the full posting kernel — including the
    presorted dictionary-encoded path (radix sort + pack + assemble)
    — twice: native enabled, then with every native entry point
    monkeypatched off, and asserts byte-equal emitted rows."""
    import random

    import numpy as np
    import pyarrow as pa

    from pg_textsearch_spark import native
    from pg_textsearch_spark.index.builder import _postings_arrow

    if native.get_lib() is None:
        import pytest

        pytest.skip(f"native path unavailable: {native.BLOCKER}")

    rng = random.Random(99)
    rows = []
    for tid in range(40):
        size = rng.choice([1, 2, 7, 127, 128, 129, 400])
        base = rng.randrange(0, 1 << 30) & ~0x1FFF  # run-aligned-ish
        ids = sorted(rng.sample(range(base, base + 8192), size))
        for d in ids:
            rows.append((tid * 7919, (d << 8) | rng.randrange(256)))
    rng.shuffle(rows)  # presort path sorts; input arrives unsorted
    tids = np.array([r[0] for r in rows], dtype=np.int64)
    dfns = np.array([r[1] for r in rows], dtype=np.int64)

    def run_kernel():
        batch = pa.RecordBatch.from_arrays(
            [pa.array(tids.copy()), pa.array(dfns.copy())],
            names=["term_id", "docfn"],
        )
        out = list(_postings_arrow(iter([batch]), "bitpack", presort=True))
        assert len(out) == 1
        return [
            (r["term_id"], r["run"], r["df_run"],
             [(b["last_doc_id"], b["doc_count"], b["block_max_tf"],
               b["block_max_norm"], bytes(b["payload"]))
              for b in r["blocks"]])
            for r in out[0].to_pylist()
        ]

    got_native = run_kernel()

    # force every numpy fallback: pack/assemble return None ("no
    # native"), radix returns False ("sort in numpy")
    monkeypatch.setattr(native, "pack_groups_native", lambda *a, **k: None)
    monkeypatch.setattr(
        native, "assemble_payloads_native", lambda *a, **k: None
    )
    monkeypatch.setattr(native, "radix_sort_native", lambda *a, **k: False)
    got_numpy = run_kernel()

    assert got_native == got_numpy
    assert len(got_native) >= 40  # every group survived


def _decoder_corpus():
    """Payloads over every id width 1-57 and block sizes 1-128, in
    legacy and 0x80-flagged bitpack form, plus varint payloads (routed
    to the per-block decoder)."""
    from pg_textsearch_spark.index.codec import FLAG_BITPACK

    rng = np.random.default_rng(5)
    sizes = [1, 2, 3, 31, 32, 33, 64, 127, 128]
    pays = []
    for w in range(1, 58):
        for n in sizes:
            # first delta (absolute id) sets the width; the rest stay
            # well below it so cumulative ids keep to < 2^63
            hi = 1 << (w - 1)
            rest = rng.integers(1, max(2, hi >> 7), n - 1)
            deltas = [hi] + [int(x) for x in rest]
            ids = np.cumsum(np.array(deltas, dtype=object)).astype(np.uint64)
            tfs = rng.integers(1, 1 << int(rng.integers(1, 17)), n).astype(
                np.uint32
            )
            fns = rng.integers(0, 256, n).astype(np.uint8)
            legacy = compress_block(ids, tfs, fns)
            assert legacy[0] == w  # the id stream really is w bits wide
            pays.append(legacy)
            pays.append(bytes([FLAG_BITPACK]) + legacy)
            if n in (1, 33):
                pays.append(compress_block(ids, tfs, fns, codec="varint"))
    return pays


def test_batch_decoder_matches_per_block():
    """decompress_blocks == concatenated decompress_block over id
    widths 1-57, block sizes 1-128, legacy + flagged bitpack and
    varint."""
    import pyarrow as pa

    from pg_textsearch_spark.index.codec import decompress_blocks

    pays = _decoder_corpus()
    ref = [decompress_block(p) for p in pays]
    for form in (pays, pa.array(pays, pa.binary()),
                 pa.array([b"x"] + pays, pa.large_binary()).slice(1)):
        ids, tfs, fns, counts = decompress_blocks(form)
        assert counts.tolist() == [len(r[0]) for r in ref]
        assert ids.dtype == np.int64 and tfs.dtype == np.uint32
        assert np.array_equal(
            ids, np.concatenate([r[0] for r in ref]).astype(np.int64)
        )
        assert np.array_equal(tfs, np.concatenate([r[1] for r in ref]))
        assert np.array_equal(fns, np.concatenate([r[2] for r in ref]))
    empty = decompress_blocks([])
    assert all(len(a) == 0 for a in empty)


def test_batch_decoder_rejects_unknown_flags():
    from pg_textsearch_spark.index.codec import decompress_blocks

    good = compress_block(np.array([3, 9], np.uint64),
                          np.array([1, 2], np.uint32),
                          np.array([4, 5], np.uint8))
    with pytest.raises(ValueError, match="unknown posting codec"):
        decompress_blocks([good, bytes([0xFF, 1, 2, 3])])
