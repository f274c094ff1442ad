"""Driver-local commits (index/local_commit.py) == the distributed build.

``insert_batch`` into an empty index and a ``force_merge`` of a built
base plus an inserted batch must write exactly the tables
``build_index`` writes for the same docs — posting payload bytes
included. Deletes and vacuum are checked against Spark-side oracles
over the distributed decode of the same postings.
"""

import glob
import json
import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pg_textsearch_spark.functions.fieldnorm import FIELDNORM_DECODE_TABLE
from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.index.deletes import delete_docs, vacuum
from pg_textsearch_spark.index.merge import force_merge, maybe_compact
from pg_textsearch_spark.operators.topk import (
    BM25Index,
    decode_postings_flat,
)
from pg_textsearch_spark.sources.pages import generate_pages
from pg_textsearch_spark.streaming.incremental import insert_batch
from tests import webtext_fixture
from tests.webtext_fixture import WEBTEXT_HTML_4

#: JVM/Python tokenizer corner cases (test_tokenizer's unicode set), the
#: non-Latin web page, and docs that index with doc_len 0
SPECIAL_TEXTS = [
    "Über die Brücke: größere Straßen führen zum Fluß.",
    "北京 大学 的 图书馆 非常 大。",
    "naïve café — résumé's élan; 3.14 Ωmega",
    "Здравствуйте, мир! Ёлка ёжик",
    "mixed ASCII und Ünïcödé tokens_with_underscore",
    WEBTEXT_HTML_4,
    None,
    "",
    "the and of",
]

SEGMENT_TABLES = ("postings", "doclen", "keymap", "dictionary")


def _manifest(d: str) -> dict:
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


def _dump(d: str, tables=SEGMENT_TABLES, strip_seg=False) -> dict:
    """Every table's rows, each with its partition dirs (the ``seg=``
    dir dropped when ``strip_seg``)."""
    out = {}
    for table in tables:
        rows = []
        for path in glob.glob(f"{d}/{table}/**/*.parquet", recursive=True):
            parts = tuple(
                p for p in os.path.relpath(path, d).split(os.sep)[1:-1]
                if not (strip_seg and p.startswith("seg="))
            )
            for r in pq.read_table(path).to_pylist():
                if "blocks" in r:
                    r["blocks"] = [
                        tuple(sorted(b.items())) for b in r["blocks"]
                    ]
                rows.append((parts, tuple(sorted(r.items()))))
        out[table] = sorted(rows, key=repr)
    return out


def _texts(spark) -> list:
    """Synthetic Zipf pages mixed with the real web-page fixtures' lines
    (English prose, markup, URLs, non-Latin scripts), then the special
    texts — 589 docs, deterministic."""
    pages = [
        r["text"] for r in generate_pages(spark, 350, seed=3).select("text")
        .collect()
    ]
    web = [
        line for name in sorted(dir(webtext_fixture))
        if name.startswith("WEBTEXT_HTML")
        for line in getattr(webtext_fixture, name).splitlines()
        if line.strip()
    ]
    texts = pages + web
    random.Random(5).shuffle(texts)
    return texts + SPECIAL_TEXTS


def _docs(spark, key: str):
    """(all docs, base = the first 300 in key order, batch = the rest)
    keyed by ``k`` — the batch's keys sort after the base's, so an
    insert assigns the ids a bulk build would."""
    rows = list(enumerate(_texts(spark)))
    if key == "num":
        # unique numeric keys (a permutation mod the prime 1009) whose
        # string order differs from their numeric order
        data = [((i * 7919) % 1009, t) for i, t in rows]
        schema = "k long, text string"
    else:
        data = [(f"https://ex.org/{i % 13}/{i}", t) for i, t in rows]
        schema = "k string, text string"
    df = spark.createDataFrame(data, schema)
    base_keys = sorted(k for k, _ in data)[:300]
    in_base = F.col("k").isin(base_keys)
    return df, df.filter(in_base), df.filter(~in_base)


def _flat(spark, d: str) -> list:
    """Decoded (term, doc_id, tf, fieldnorm) rows of every segment,
    through the distributed decode."""
    return sorted(
        tuple(r) for r in decode_postings_flat(BM25Index(spark, d).postings())
        .select("term", "doc_id", "tf", "fieldnorm").collect()
    )


@pytest.mark.parametrize(
    "config,key",
    [("english", "str"), ("pg_english", "str"), ("english", "num")],
)
def test_local_commit_matches_build(spark, tmp_path, config, key):
    docs, base, batch = _docs(spark, key)
    kw = dict(key_col="k", config=config, n_buckets=8)
    built = str(tmp_path / "built")
    build_index(spark, docs, built, **kw)
    want = _dump(built)
    # the special docs really are in the segment, empty ones included
    doclen = [dict(r[1]) for r in want["doclen"]]
    assert sum(1 for r in doclen if r["doc_len"] == 0) >= 3

    # insert into an empty index == bulk build, manifest included
    inserted = str(tmp_path / "inserted")
    insert_batch(spark, inserted, docs, compact=False, **kw)
    assert _dump(inserted) == want
    strip = ("created_at_unix", "lineage")
    m_built, m_ins = _manifest(built), _manifest(inserted)
    for m in (m_built, m_ins):
        for s in m["segments"]:
            for f in strip:
                s.pop(f)
    assert m_ins == m_built

    # base build + insert, then deletes across both segments
    d = str(tmp_path / "idx")
    build_index(spark, base, d, **kw)
    insert_batch(spark, d, batch, compact=False, **kw)
    assert len(_manifest(d)["segments"]) == 2
    pre = _flat(spark, d)
    victims = [3, 150, 299, 300, 305, 420, 305, 99999]  # dup + missing
    delete_docs(BM25Index(spark, d), victims)
    delete_docs(BM25Index(spark, d), victims[:2])  # already deleted
    dead = sorted({v for v in victims if v < len(doclen)})
    got = _dump(d, ("deletes", "dead_dfs"))
    assert sorted(dict(r[1])["doc_id"] for r in got["deletes"]) == dead
    dead_df: dict = {}
    for term, doc_id, _tf, _fn in pre:
        if doc_id in dead:
            dead_df[term] = dead_df.get(term, 0) + 1
    assert sorted(
        (dict(r[1])["term"], dict(r[1])["dead_df"]) for r in got["dead_dfs"]
    ) == sorted(dead_df.items())
    fn = {r["doc_id"]: r["fieldnorm"] for r in doclen}
    m = _manifest(d)
    assert m["deleted_docs"] == len(dead)
    assert m["deleted_tokens_quantized"] == sum(
        int(FIELDNORM_DECODE_TABLE[fn[i]]) for i in dead
    )

    # a merge keeps pending-deleted docs: the merged segment == build
    force_merge(BM25Index(spark, d))
    m = _manifest(d)
    assert _dump(d, strip_seg=True) == _dump(built, strip_seg=True)
    [seg] = m["segments"]
    [bseg] = m_built["segments"]
    for f in ("num_docs", "total_tokens", "max_doc_id", "has_keymap"):
        assert seg[f] == bseg[f], f

    # vacuum drops exactly the dead docs; the quantized total_tokens
    # correction carries the corpus stats through it
    pre_vacuum = BM25Index(spark, d)
    stats = (pre_vacuum.num_docs, pre_vacuum.total_tokens)
    vacuum(pre_vacuum)
    post = BM25Index(spark, d)
    assert (post.num_docs, post.total_tokens) == stats
    assert not post.has_deletes()
    assert _flat(spark, d) == [r for r in pre if r[1] not in dead]
    km = _dump(d, ("keymap",))["keymap"]
    assert len(km) == len(doclen) - len(dead)


def test_local_commit_runs_no_spark_jobs(spark, tmp_path):
    """An insert costs only its collect; a delete by id list and a
    compaction run no Spark job at all."""
    docs, base, batch = _docs(spark, "str")
    d = str(tmp_path / "idx")
    build_index(spark, base, d, key_col="k", config="english", n_buckets=8)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn, *args, **kwargs):
        sc.setJobGroup(group, group)
        try:
            fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    assert jobs("ins", insert_batch, spark, d, batch, key_col="k",
                compact=False) <= 2
    assert jobs("del", delete_docs, BM25Index(spark, d), [1, 2, 400]) == 0
    assert jobs("cmp", maybe_compact, BM25Index(spark, d), fan_in=2) == 0
    idx = BM25Index(spark, d)
    assert len(idx.manifest["segments"]) == 1
    assert idx.num_docs == docs.count() - 3


def test_merge_of_empty_buckets(spark, tmp_path):
    """A merge over buckets no source segment populates (tiny corpus,
    many buckets) writes only the populated ones, like the build."""
    rows = [("a", "alpha"), ("b", "beta"), ("c", None)]
    docs = spark.createDataFrame(rows, "k string, text string")
    kw = dict(key_col="k", config="english", n_buckets=64)
    built = str(tmp_path / "built")
    build_index(spark, docs, built, **kw)
    d = str(tmp_path / "idx")
    insert_batch(spark, d, docs.filter("k = 'a'"), compact=False, **kw)
    insert_batch(spark, d, docs.filter("k != 'a'"), compact=False, **kw)
    force_merge(BM25Index(spark, d))
    assert _dump(d, strip_seg=True) == _dump(built, strip_seg=True)
