"""spark-textsearch: a PySpark-native BM25 full-text search engine.

A from-scratch rebuild of the query/data-processing capabilities of
timescale/pg_textsearch (a Postgres BM25 index access method) as an
idiomatic Spark engine: vectorized pandas/Arrow UDF tokenization, a
term-partitioned distributed inverted-index build with delta-gap
bit-packed posting blocks (128 docs/block with block-max metadata),
LSM-style segment merge, and block-max top-k BM25 retrieval.

Reference semantics are cited per module as ``reference: file:line``
into /root/reference (pg_textsearch v1.4.0-dev). This is NOT a port:
the reference's buffer-manager/WAL machinery is replaced wholesale by
Spark/Parquet/Iceberg primitives; only the *semantics* (tokenization,
BM25 math, fieldnorm quantization, tie-breaking, block layout) carry
over.
"""

__version__ = "0.1.0"


def __getattr__(name):
    # lazy re-export: importing the package must not drag pyspark in —
    # the Spark-free serving workers (operators/serve.LocalIndex, one
    # process per core) import submodules of this package, and a
    # module-level pyspark import cost every spawned worker ~0.3 s and
    # tens of MB for nothing (round 8, guide §4.5)
    if name == "get_spark":
        from pg_textsearch_spark.session import get_spark

        return get_spark
    raise AttributeError(name)
