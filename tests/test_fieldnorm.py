"""Fieldnorm table conformance (FIXTURES.md F9).

Spot values frozen from the reference's decode table
(reference: src/segment/fieldnorm.c:17-303) — our table is *generated*
(Lucene SmallFloat byte4ToInt) and must reproduce every entry.
"""

import numpy as np

from pg_textsearch_spark.functions.fieldnorm import (
    FIELDNORM_DECODE_TABLE,
    decode_fieldnorm,
    encode_fieldnorm,
    fieldnorm_case_sql,
)

# (id, value) pairs sampled across every 8-entry step group of the
# reference table, including both endpoints.
REFERENCE_SPOT_VALUES = {
    0: 0, 1: 1, 39: 39,
    40: 40, 47: 54,
    48: 56, 55: 84,
    56: 88, 63: 144,
    64: 152, 71: 264,
    72: 280, 79: 504,
    80: 536, 87: 984,
    88: 1048, 95: 1944,
    96: 2072, 103: 3864,
    104: 4120, 111: 7704,
    112: 8216, 119: 15384,
    120: 16408, 127: 30744,
    128: 32792, 135: 61464,
    136: 65560, 143: 122904,
    144: 131096, 151: 245784,
    152: 262168, 159: 491544,
    160: 524312, 167: 983064,
    168: 1048600, 175: 1966104,
    176: 2097176, 183: 3932184,
    184: 4194328, 191: 7864344,
    192: 8388632, 199: 15728664,
    200: 16777240, 207: 31457304,
    208: 33554456, 215: 62914584,
    216: 67108888, 223: 125829144,
    224: 134217752, 231: 251658264,
    232: 268435480, 239: 503316504,
    240: 536870936, 247: 1006632984,
    248: 1073741848, 255: 2013265944,
}


def test_table_matches_reference_spot_values():
    for i, v in REFERENCE_SPOT_VALUES.items():
        assert int(FIELDNORM_DECODE_TABLE[i]) == v, i


def test_table_is_monotonic_256():
    assert len(FIELDNORM_DECODE_TABLE) == 256
    assert np.all(np.diff(FIELDNORM_DECODE_TABLE) > 0)


def test_encode_decode_roundtrip_ids():
    ids = np.arange(256)
    assert np.array_equal(encode_fieldnorm(decode_fieldnorm(ids)), ids)


def test_encode_is_floor_bucket():
    lengths = np.concatenate(
        [np.arange(0, 5000), np.array([10**5, 10**7, 2**31 - 1])]
    )
    ids = encode_fieldnorm(lengths)
    lo = decode_fieldnorm(ids)
    assert np.all(lo <= lengths)
    hi_idx = np.minimum(ids.astype(int) + 1, 255)
    hi = decode_fieldnorm(hi_idx)
    inner = ids < 255
    assert np.all(lengths[inner] < hi[inner])


def test_sql_case_matches_numpy():
    import duckdb

    expr = fieldnorm_case_sql("l")
    lengths = list(range(0, 200)) + [500, 1000, 39, 40, 41, 2**20]
    got = duckdb.sql(
        f"select {expr} as q from (select unnest({lengths}) as l)"
    ).fetchnumpy()["q"]
    want = decode_fieldnorm(encode_fieldnorm(lengths))
    assert np.array_equal(got.astype(np.int64), want)


def test_encode_col_matches_numpy(spark):
    """The JVM encode expression (for pure-SQL pipelines) must agree
    with the numpy encoder on every boundary and a wide length sweep."""
    from pyspark.sql import functions as F

    from pg_textsearch_spark.functions.fieldnorm import (
        FIELDNORM_DECODE_TABLE,
        fieldnorm_encode_col,
    )

    lengths = sorted(
        set(range(0, 300))
        | {int(v) for v in FIELDNORM_DECODE_TABLE}
        | {int(v) + 1 for v in FIELDNORM_DECODE_TABLE}
        | {int(v) - 1 for v in FIELDNORM_DECODE_TABLE if v > 0}
        | {10**6, 10**9, 2**40}
    )
    df = spark.createDataFrame([(x,) for x in lengths], "doc_len long")
    got = [
        r["fn"]
        for r in df.select(
            fieldnorm_encode_col(F.col("doc_len")).alias("fn")
        ).collect()
    ]
    want = encode_fieldnorm(np.asarray(lengths, dtype=np.int64)).tolist()
    assert got == want
