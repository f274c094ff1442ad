"""Pages source (sources/pages.py): HTML text extraction is
deterministic and keeps the body text."""

from pg_textsearch_spark.shipping import ensure_shipped
from pg_textsearch_spark.sources.pages import (
    generate_pages,
    with_extracted_text,
)


def test_pages_extract_text_invariant(spark):
    ensure_shipped(spark)
    pages = generate_pages(spark, 50, seed=42)
    ext = with_extracted_text(pages).select("url", "text", "extracted_text")
    for r in ext.collect():
        # deterministic per url and contains the body text
        assert r["text"] in r["extracted_text"]
    # byte-identical across runs (input_hint invariant)
    a = {r["url"]: r["extracted_text"] for r in ext.collect()}
    b = {
        r["url"]: r["extracted_text"]
        for r in with_extracted_text(generate_pages(spark, 50, seed=42)).collect()
    }
    assert a == b
