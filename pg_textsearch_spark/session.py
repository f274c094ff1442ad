"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same conf block is what we
would submit to a 1000-executor cluster (AQE, skew-join handling,
Arrow-batched UDF transfer). Nothing here is local-mode-specific
except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap for local mode: 3/8 of host RAM, 1g to 16g.

    16g cleared an 8M-doc build on a 128 GiB host (8g OOMed the cached
    tokenized base past ~6M docs: ColumnBuilder burst allocations
    across 32 tasks). A fixed 16g on a 16 GB host lets the JVM grow
    into memory the Python side needs: the driver process, its Python
    workers and in-process oracles such as DuckDB. 3/8 leaves the
    other 5/8 to them (6g on a 16 GB host)."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{min(16, max(1, int(ram * 3 / 8) >> 30))}g"


def get_spark(
    app_name: str = "spark-textsearch",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the inverted-index workload.

    - AQE on: runtime coalescing of the term-partitioned shuffle and
      automatic skew-join splitting (head terms are Zipf-skewed).
    - Arrow on: every custom kernel (tokenizer, codec, BMW scoring) is
      a pandas or Arrow UDF; Arrow batch transfer is the difference
      between usable and 100x-too-slow.
    - Shuffle partition count is sized by the caller per data scale; at
      100 TB this would be O(10k), locally it defaults to 2x cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * cpus))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m coalesces the pandas-UDF stem/window stages below
        # the core count on mid-size inputs; UDF stages are CPU-bound,
        # not shuffle-bound, so favor parallelism
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: driver heap IS the executor heap. SPARK_DRIVER_MEM
        # overrides; otherwise sized from host RAM (default_driver_memory).
        # On a real cluster this is spark.executor.memory sized per node,
        # not a driver concern.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # shuffle/spill/broadcast block codec and parquet codec:
        # overridable for the scaling experiments (BASELINE.md's
        # residual analysis attributes the sub-0.8 epochs to
        # data-proportional single-disk IO; zstd trades parallelizable
        # CPU for serial disk bytes)
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        # one BLAS thread per python worker: N workers x N BLAS threads
        # thrashes the box and wrecks scaling measurements
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
