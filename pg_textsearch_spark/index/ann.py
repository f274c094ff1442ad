"""Materialized ANN index: IVF lists + LSH band tables on disk.

The round-2 ``operators/knn.py`` ANN paths were *scans wearing an
index's name*: every call re-fit centroids and re-assigned the whole
corpus. This module is the real index — the embedding analog of the
BM25 segment layout, playing the reference's dictionary-pruned segment
scan role (reference: src/segment/scan.c:59-178 — a query touches only
the posting lists its terms select; here a query touches only the
vector lists its centroids/band bits select):

- ``vectors(list_id=<l>/...)``: every vector with its precomputed norm
  and sign sketch, identity-partitioned by its IVF list. An IVF query
  is a PARTITION-PRUNED scan of the ``n_probe`` closest lists — no
  assignment UDF, no centroid fit, no full pass.
- ``lshbands(band=<b>/...)``: the banded sign-LSH table — one row per
  (band, vector), files sorted by ``bits`` so the query's
  ``band = b AND bits = q_bits`` predicate prunes at directory and
  row-group level. Storage is ``bands`` copies of the vector column —
  the standard banded-LSH trade (each band is an independent hash
  table); at 100 TB you choose either this table or the IVF one, both
  are provided because their recall/latency trades differ.
- ``centroids``: (list_id, centroid) — tiny, read once per handle
  (the manifest equivalent of the BM25 dictionary).
- ``manifest.json``: params + corpus stats; written last, atomically.

Build is TWO corpus passes: one computes norm + sketch + list
assignment and writes ``vectors`` (the only pass that runs the
assignment UDF); the second derives ``lshbands`` from the *written*
vectors table (re-reads materialized columns, recomputes nothing).

All storage goes through ``SegmentStore`` (index/storage.py) — same
Iceberg seam as the BM25 segments (list_id/band become identity
partition columns there).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pg_textsearch_spark.index import local_commit
from pg_textsearch_spark.index.storage import ParquetDirStore
from pg_textsearch_spark.operators.knn import (
    _assign_udf,
    _cos_expr,
    _fit_centroids,
    _norm_expr,
    _sketch_expr,
)


class ANNIndex:
    """Handle over an on-disk ANN index (manifest + tables)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.n_lists: int = self.manifest["n_lists"]
        self.n_bits: int = self.manifest["n_bits"]
        self.bands: int = self.manifest["bands"]
        self.seed: int = self.manifest["seed"]
        self._centroids: np.ndarray | None = None

    @property
    def centroids(self) -> np.ndarray:
        """(n_lists, dim) unit-norm centroid matrix, ordered by
        list_id — read once per handle from the tiny centroids table."""
        if self._centroids is None:
            rows = (
                self.spark.read.parquet(
                    os.path.join(self.index_dir, "centroids", "seg=0")
                )
                .orderBy("list_id")
                .collect()
            )
            self._centroids = np.asarray(
                [r["centroid"] for r in rows], dtype=np.float64
            )
        return self._centroids

    @property
    def segments(self) -> list[int]:
        """Segment ids: 0 is the base build, higher ids are
        ``ann_append`` deltas (manifests predating deltas imply [0])."""
        return [int(s) for s in self.manifest.get("segments", [0])]

    def vectors(self) -> DataFrame:
        """(vec_id, v, n_v, sketch, list_id) across all segments —
        list_id is a partition directory column, so ``list_id IN
        (...)`` prunes files in base and delta segments alike."""
        root = os.path.join(self.index_dir, "vectors")
        return self.spark.read.option("basePath", root).parquet(
            *[os.path.join(root, f"seg={s}") for s in self.segments]
        )

    def lsh_bands(self) -> DataFrame:
        """(bits, vec_id, v, n_v, band) across all segments — band is
        a partition dir column; files within a band are sorted by bits
        (row-group pruning for ``bits IN (...)``)."""
        root = os.path.join(self.index_dir, "lshbands")
        return self.spark.read.option("basePath", root).parquet(
            *[os.path.join(root, f"seg={s}") for s in self.segments]
        )

    def probe_scan(self, list_ids: list[int]) -> DataFrame:
        """The pruned IVF candidate scan for a set of probe lists —
        exposed so tests can pin the partition-pruning plan."""
        return self.vectors().filter(
            F.col("list_id").isin([int(x) for x in list_ids])
        )


def build_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_lists: int = 16,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 11,
    sample_size: int = 4096,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> ANNIndex:
    """Fit centroids ONCE, assign + sketch the corpus ONCE, persist.

    Deterministic end to end: the centroid sample is picked by
    xxhash64(id) order (never partition order) and the sign sketch
    hyperplanes derive from xxhash64(seed, bit, element) — two builds
    of the same corpus produce identical indexes.
    """
    assert n_bits % bands == 0, "n_bits must divide evenly into bands"
    store = ParquetDirStore(index_dir)
    cents = _fit_centroids(
        emb, vec_col, id_col, n_lists, sample_size, iters, seed
    )
    assigned = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("v"),
        _norm_expr(vec_col).alias("n_v"),
        _sketch_expr(F.col(vec_col), n_bits, seed).alias("sketch"),
        _assign_udf(cents)(F.col(vec_col)).alias("list_id"),
    )
    store.write(assigned, "vectors", 0, partition_by="list_id")

    vecs = _write_band_table(spark, store, index_dir, 0, n_bits, bands)

    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "list_id int, centroid array<double>",
    )
    store.write(cent_df, "centroids", 0)

    num_vectors = vecs.count()
    manifest = {
        "format_version": 1,
        "kind": "ann",
        "n_lists": int(len(cents)),
        "n_bits": int(n_bits),
        "bands": int(bands),
        "seed": int(seed),
        "dim": int(cents.shape[1]) if len(cents) else 0,
        "num_vectors": int(num_vectors),
        "segments": [0],
    }
    local_commit.write_json(os.path.join(index_dir, "manifest.json"), manifest)
    return ANNIndex(spark, index_dir)


def _write_band_table(
    spark: SparkSession,
    store: ParquetDirStore,
    index_dir: str,
    seg: int,
    n_bits: int,
    bands: int,
) -> DataFrame:
    """Derive segment ``seg``'s band table from its WRITTEN vectors
    (re-reads materialized columns, recomputes nothing): band b's key
    is the (n_bits/bands)-wide slice b of the sketch. Returns the
    segment's vectors DataFrame for follow-up stats."""
    width = n_bits // bands
    mask = (1 << width) - 1
    root = os.path.join(index_dir, "vectors")
    vecs = spark.read.option("basePath", root).parquet(
        os.path.join(root, f"seg={seg}")
    )
    band_struct = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("sketch"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .cast("int")
                    .alias("bits"),
                )
                for b in range(bands)
            ]
        )
    )
    band_rows = vecs.select(
        "vec_id", "v", "n_v", band_struct.alias("bb")
    ).select(F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"),
             "vec_id", "v", "n_v")
    store.write(
        band_rows, "lshbands", seg,
        partition_by="band",
        sort_within=["bits"],
        parquet_block_size=1 << 20,
        # few distinct bands — shuffle on (band, bits) keeps the write
        # parallel while partitionBy still lays out one dir per band
        shuffle_by=["band", "bits"],
    )
    return vecs


def ann_append(
    spark: SparkSession,
    index: ANNIndex,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = False,
) -> ANNIndex:
    """Incremental refresh: assign only the NEW vectors into the
    EXISTING lists/bands as a delta segment — the ANN analog of the
    BM25 side's memtable-spill ingest (streaming/incremental.py), so
    the two index families compose with the same streaming story.

    Centroids are NOT re-fit (the documented drift caveat stands: if
    the embedding distribution shifts, rebuild — same trade as the
    base build). The delta's vectors land in
    ``vectors/seg=<new>/list_id=<l>/`` and its band rows in
    ``lshbands/seg=<new>/band=<b>/``, identity-partitioned exactly
    like the base segment, so IVF/LSH queries prune delta files with
    the same static predicates and need no code change. Assignment +
    sketch run over the delta only — cost is O(|delta|), never a
    corpus pass.

    The delta is validated UP FRONT (advisor r4): embedding dims must
    match the manifest and vec_ids must be unique within the delta —
    one delta-sized agg job, failing loudly instead of deep inside the
    assign UDF / silently double-counting. Vec_ids already present in
    EARLIER segments are the caller's contract (re-appending a vector
    duplicates it in queries and num_vectors); pass
    ``validate_ids=True`` to pay one id-column anti-join scan of the
    existing segments that enforces it.
    """
    chk = emb.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.col(id_col)).alias("n_ids"),
        F.min(F.size(F.col(vec_col))).alias("dmin"),
        F.max(F.size(F.col(vec_col))).alias("dmax"),
    ).collect()[0]
    if chk["n"] == 0:
        return index  # empty delta: nothing to write
    want = int(index.manifest.get("dim", 0))
    if chk["dmin"] != want or chk["dmax"] != want:
        raise ValueError(
            f"ann_append: delta embedding dim range "
            f"[{chk['dmin']}, {chk['dmax']}] != index dim {want}"
        )
    if chk["n_ids"] != chk["n"]:
        raise ValueError(
            f"ann_append: delta has {chk['n'] - chk['n_ids']} duplicate "
            f"{id_col} values — each vector may be appended once"
        )
    if validate_ids:
        n_dup = (
            emb.select(F.col(id_col).cast("long").alias("vec_id"))
            .join(index.vectors().select("vec_id"), "vec_id", "semi")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"ann_append: {n_dup} delta {id_col} values already "
                f"indexed in segments {index.segments}"
            )
    cents = index.centroids
    seg = max(index.segments) + 1
    store = ParquetDirStore(index.index_dir)
    assigned = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("v"),
        _norm_expr(vec_col).alias("n_v"),
        _sketch_expr(F.col(vec_col), index.n_bits, index.seed).alias(
            "sketch"
        ),
        _assign_udf(cents)(F.col(vec_col)).alias("list_id"),
    )
    store.write(assigned, "vectors", seg, partition_by="list_id")
    vecs = _write_band_table(
        spark, store, index.index_dir, seg, index.n_bits, index.bands
    )
    manifest = dict(index.manifest)
    manifest["num_vectors"] = int(manifest["num_vectors"]) + int(vecs.count())
    manifest["segments"] = index.segments + [seg]
    local_commit.write_json(
        os.path.join(index.index_dir, "manifest.json"), manifest
    )
    return ANNIndex(spark, index.index_dir)


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def ann_ivf_topk(
    index: ANNIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF top-k over the materialized index: (query_id, rank, vec_id,
    cos). Probe lists are chosen driver-side from the manifest's
    centroids (a (queries x n_lists) numpy matmul); the candidate scan
    reads ONLY those partition directories and runs zero Python — the
    rescore is the same JVM float64 expression as knn_bruteforce."""
    spark = index.spark
    cents = index.centroids
    qrows = queries.select(
        F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("qv")
    ).collect()
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cos double"
        )
    qm = np.asarray([r["qv"] for r in qrows], dtype=np.float64)
    qm_n = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    probes = np.argsort(-(qm_n @ cents.T), axis=1)[:, : int(n_probe)]
    probe_rows = [
        (int(r["query_id"]), [float(x) for x in r["qv"]], int(p))
        for i, r in enumerate(qrows)
        for p in probes[i]
    ]
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, qv array<double>, list_id int"
    ).select(
        "query_id", "qv", _norm_expr("qv").alias("n_q"), "list_id"
    )
    all_lists = sorted({int(p) for row in probes for p in row})
    # literal isin -> static partition pruning at planning time; the
    # broadcast join then splits the pruned rows among the queries
    cand = index.probe_scan(all_lists).join(F.broadcast(qdf), "list_id")
    scored = cand.select(
        "query_id",
        "vec_id",
        _cos_expr("v", "qv", F.col("n_v"), F.col("n_q")).alias("cos"),
    )
    return _topk_window(scored, k)


def ann_lsh_topk(
    index: ANNIndex,
    queries: DataFrame,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Banded sign-LSH top-k over the materialized band tables.

    Query sketches are computed by ONE tiny Spark job with the exact
    build-time expression (same hyperplanes — xxhash64(seed, bit,
    element)); candidates are rows sharing any band's bits with the
    query, fetched via the pruned ``band``/``bits`` predicates, then
    exact-rescored in float64."""
    spark = index.spark
    width = index.n_bits // index.bands
    mask = (1 << width) - 1
    qsk = queries.select(
        F.col(q_id_col).cast("long").alias("query_id"),
        F.col(q_vec_col).alias("qv"),
        _sketch_expr(F.col(q_vec_col), index.n_bits, index.seed).alias("sk"),
    ).collect()
    if not qsk:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cos double"
        )
    pairs = []
    for r in qsk:
        for b in range(index.bands):
            bits = (int(r["sk"]) >> (b * width)) & mask
            pairs.append(
                (int(r["query_id"]), [float(x) for x in r["qv"]], b, bits)
            )
    qdf = spark.createDataFrame(
        pairs, "query_id long, qv array<double>, band int, bits int"
    ).select("query_id", "qv", _norm_expr("qv").alias("n_q"), "band", "bits")
    bands_needed = sorted({p[2] for p in pairs})
    bits_needed = sorted({p[3] for p in pairs})
    # coarse literal pushdown (band dir pruning + bits row-group skip);
    # the equi-join restores the exact (band, bits) pairing per query
    scan = index.lsh_bands().filter(
        F.col("band").isin(bands_needed) & F.col("bits").isin(bits_needed)
    )
    cand = (
        scan.join(F.broadcast(qdf), ["band", "bits"])
        # a vector matching several bands scores once per query
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        _cos_expr("v", "qv", F.col("n_v"), F.col("n_q")).alias("cos"),
    )
    return _topk_window(scored, k)
